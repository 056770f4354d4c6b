"""Point lookups on key-sorted partition directories.

Every driver-side read on the serving path fetches a handful of keys
from one partition directory whose files are sorted by that key: the
lexicon (``term_stats/bucket=b``), postings (``postings/bucket=b``) and
the title_tf sidecar by ``term``; hydration (``docs/salt=s``) and the
tiered doc-stats correction (``doc_stats/salt=s``) by ``docid``. A
``pq.read_table(dir, filters=...)`` per lookup re-lists the directory,
re-parses every footer and starts a thread pool to read one small row
group — on a 1k-doc index that fixed cost is larger than the read.

``PointReader`` lists a directory and parses its footers once, on the
first lookup that touches it (never eagerly: opening an engine parses
no footer), and keeps each row group's min/max of the key. A lookup
reads only the row groups whose [min, max] can hold a requested key,
single-threaded, then filters the rows exactly with ``pc.is_in``.

Only immutable ``FileMetaData`` and tuples are shared; every read opens
its own ``ParquetFile``, so concurrent server threads read without a
lock (two threads racing on a directory's first lookup both parse it
and one result wins — the same content either way).
"""

from __future__ import annotations

import bisect
import os
import threading

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


def _key_ranges(md, key: str) -> list[tuple]:
    """Per row group (min, max) of ``key`` from the footer statistics:
    (None, None) when a row group carries none (never pruned), None for
    an empty row group (never read)."""
    j = next(
        i for i in range(md.num_columns)
        if md.schema.column(i).path == key
    )
    out = []
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        st = rg.column(j).statistics
        if rg.num_rows == 0:
            out.append(None)
        elif st is not None and st.has_min_max:
            out.append((st.min, st.max))
        else:
            out.append((None, None))
    return out


def _may_hold(want: list, rng) -> bool:
    if rng is None:
        return False
    lo, hi = rng
    if lo is None:
        return True
    i = bisect.bisect_left(want, lo)
    return i < len(want) and want[i] <= hi


class PointReader:
    """Footer-cached point reads over directories of parquet files, one
    instance per index (an engine pins its snapshot, so a directory's
    file set is fixed until a sidecar writer calls ``invalidate``)."""

    def __init__(self) -> None:
        # (directory, key) -> [(file path, FileMetaData, key ranges), ...]
        self._dirs: dict[tuple[str, str], list] = {}
        # taken only to publish a parse or to invalidate, never on the
        # read path: a parse that raced an invalidate is not published
        self._lock = threading.Lock()
        self._generation = 0

    def _open(self, path: str, key: str) -> list:
        files = self._dirs.get((path, key))
        if files is None:
            generation = self._generation
            files = []
            if os.path.isdir(path):
                # the files pq.read_table would read: hidden and
                # underscore-prefixed entries (_SUCCESS, .crc) skipped
                for name in sorted(os.listdir(path)):
                    fpath = os.path.join(path, name)
                    if name[0] in "._" or not os.path.isfile(fpath):
                        continue
                    md = pq.read_metadata(fpath)
                    files.append((fpath, md, _key_ranges(md, key)))
            with self._lock:
                if generation == self._generation:
                    self._dirs[(path, key)] = files
        return files

    def lookup(
        self, path: str, key: str, keys, columns: list[str]
    ) -> pa.Table | None:
        """Rows of the parquet files directly under ``path`` whose
        ``key`` column is in ``keys``, projected to ``columns`` (which
        include ``key``), in file then row order; None when no row
        group can hold a key (including a missing directory)."""
        want = sorted(set(keys))
        parts = []
        for fpath, md, ranges in self._open(path, key):
            sel = [i for i, r in enumerate(ranges) if _may_hold(want, r)]
            if sel:
                with pq.ParquetFile(fpath, metadata=md) as pf:
                    parts.append(pf.read_row_groups(
                        sel, columns=columns, use_threads=False
                    ))
        if not parts:
            return None
        tbl = pa.concat_tables(parts) if len(parts) > 1 else parts[0]
        if tbl.num_columns != len(columns):
            # ParquetFile drops unknown columns silently; a stale or
            # legacy file must fail like a filtered read_table does
            raise KeyError(
                f"{path}: no column(s) "
                f"{sorted(set(columns) - set(tbl.column_names))}"
            )
        col = tbl.column(key)
        return tbl.filter(
            pc.is_in(col, value_set=pa.array(want, type=col.type))
        )

    def invalidate(self, prefix: str) -> None:
        """Forget every cached directory under ``prefix`` — called by
        writers that (re)write a sidecar beneath a live engine."""
        root = prefix.rstrip("/")
        with self._lock:
            self._generation += 1
            for k in list(self._dirs):
                if k[0] == root or k[0].startswith(root + "/"):
                    del self._dirs[k]
