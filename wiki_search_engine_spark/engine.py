"""SearchEngine facade — the rebuild's public API.

Mirrors the reference's HTTP surface (GET /query-stem?query=...&optionName=
tfidf|bm25 -> top-50 docs with snippets; empty query -> error;
backend/controllers/queryController.js:11-59) as a library API:

    eng = SearchEngine.build(spark, corpus_df, index_dir)   # or .load(...)
    eng.search("messi argentina", k=50, mode="bm25")        # hydrated DF
    eng.search_ids("...", k=10, mode="bm25", path="wand")   # (docid, score)

Query flow (SURVEY §3.1 "Rebuild lifecycle"): driver-side analysis with the
SAME analyzer as indexing -> bucket-pruned scan of the postings table ->
per-shard block-max kernel (or the exhaustive Catalyst path) -> global
orderBy(score desc, docid asc).limit(k) -> broadcast hydration join.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import query as query_path
from .functions.analyzer import analyze_query
from .operators.postings import DEFAULT_BUCKETS, decode_postings_df, term_bucket
from .operators.scoring import score_exhaustive
from .operators.wand import search_topk
from .plans.build import build_index
from .pointread import PointReader
from .query import EmptyQueryError


def salt_of(docid: int, salt_bits: int) -> int:
    """Driver-side salt of a docid, matching the build's UNSIGNED shift
    (shiftrightunsigned). New builds reject negative docids, but a
    pre-r3 index built from negative external ids placed them in salt
    directories >= 2^salt_bits — Python's arithmetic >> would compute a
    negative salt and silently miss those docs on lookup."""
    return (int(docid) & 0xFFFFFFFFFFFFFFFF) >> (63 - salt_bits)


def resolve_index_dir(path: str, snapshot: str | None = None) -> str:
    """Pointer-root resolution: a path whose directory contains a
    ``current`` file is a SNAPSHOT ROOT — the file names the live
    snapshot subdirectory (streaming/ingest.py flips it atomically on
    every incremental fold, the local analogue of an Iceberg manifest
    pointer commit). Readers resolve through the pointer; a plain index
    directory resolves to itself. An engine instance PINS the resolved
    snapshot: it keeps serving that snapshot across later flips until
    reloaded (POSIX keeps open files alive; on object storage, until
    snapshot GC).

    ``snapshot`` is TIME TRAVEL: resolve to that named snapshot instead
    of the pointer target (only meaningful on a snapshot root kept with
    retain_snapshots > 1; the error lists what is still travelable)."""
    import os

    p = os.path.join(path, "current")
    if os.path.isfile(p):
        if snapshot is not None:
            sp = os.path.join(path, snapshot)
            if not os.path.isdir(sp):
                from .streaming.ingest import list_snapshots

                raise FileNotFoundError(
                    f"snapshot {snapshot!r} not found under {path}; "
                    f"available: {list_snapshots(path)} (older ones may "
                    "have been expired — raise retain_snapshots)"
                )
            return sp
        with open(p) as f:
            name = f.read().strip()
        return os.path.join(path, name)
    if snapshot is not None:
        raise ValueError(
            f"{path} is a plain index directory, not a snapshot root — "
            "time travel needs the pointer-file layout "
            "(streaming.ingest.enroll_index_root)"
        )
    return path


class SearchEngine:
    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        stem: bool | None = None,
        n_buckets: int | None = None,
        cache_terms: int = 0,
        snapshot: str | None = None,
    ):
        """``cache_terms`` > 0 enables a bounded LRU cache of hot
        posting lists for the driver-local serving path (search_local):
        term -> (global df, per-salt block rows). Real search heads
        cache hot terms; here it cuts repeated-term local p50 from
        ~25ms (two pyarrow reads) to sub-ms. The cache belongs to THIS
        engine instance and therefore to the index snapshot it opened —
        after an index swap (streaming maintenance) load a fresh engine
        or call clear_cache(), which also drops the cached parquet
        footers."""
        import json
        import os

        self.spark = spark
        self.index_dir = index_dir = resolve_index_dir(
            index_dir, snapshot=snapshot
        )
        meta = {}
        meta_path = f"{index_dir}/meta.json"
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                meta = json.load(f)
        from .plans.build import FORMAT_VERSION

        version = meta.get("format_version")
        if version is not None and int(version) != FORMAT_VERSION:
            raise ValueError(
                f"index at {index_dir} has format_version={version}, this "
                f"engine reads format_version={FORMAT_VERSION} "
                "(bucket-partitioned postings + term_stats lexicon); "
                "rebuild the index with plans.build.build_index"
            )
        if not meta and os.path.isdir(f"{index_dir}/postings") and not any(
            e.startswith("bucket=")
            for e in os.listdir(f"{index_dir}/postings")
        ):
            raise ValueError(
                f"index at {index_dir} has no meta.json and a legacy "
                "non-bucketed postings layout — rebuild with "
                "plans.build.build_index (format_version "
                f"{FORMAT_VERSION})"
            )
        self.stem = meta.get("stem", True) if stem is None else stem
        self.n_buckets = (
            meta.get("n_buckets", DEFAULT_BUCKETS)
            if n_buckets is None
            else n_buckets
        )
        self.salt_bits = int(meta.get("salt_bits", 3))
        self.analyzer = meta.get(
            "analyzer", "porter" if self.stem else "base"
        )
        import pyarrow.parquet as pq

        stats = pq.read_table(f"{index_dir}/stats").to_pandas().iloc[0]
        self.n = int(stats["N"])
        self.avgdl = float(stats["avgdl"])
        self.total_length = int(stats["total_length"])
        # the segment set the query path runs over (query.py): this
        # index alone, nothing overridden
        self.segments = [(self, np.empty(0, dtype=np.int64))]
        self.overridden = 0
        import threading
        from collections import OrderedDict

        self._cache_cap = int(cache_terms)
        self._datasets: dict = {}
        # footer-cached point reads (pointread.py); directories open
        # lazily on their first lookup, never here
        self._reader = PointReader()
        self._term_cache: "OrderedDict[str, tuple[int, list]]" = (
            OrderedDict()
        )
        # the cache is served from ThreadingHTTPServer worker threads:
        # check-then-use against concurrent eviction needs a lock (loads
        # happen outside it; a double-load of the same term is a benign
        # idempotent insert)
        self._cache_lock = threading.Lock()

    def clear_cache(self) -> None:
        with self._cache_lock:
            self._term_cache.clear()
        self._reader.invalidate(self.index_dir)

    def _cached_term_lists(self, terms: list[str]):
        """(term -> (df, [(salt, blocks), ...])) for every present term,
        loading misses from the lexicon + postings buckets and evicting
        LRU past ``cache_terms``. df == 0 terms are cached as absent.
        Postings rows come from footer-cached point reads of each
        term's bucket directory (``PointReader``)."""
        out: dict[str, tuple[int, list]] = {}
        missing: list[str] = []
        with self._cache_lock:
            for t in dict.fromkeys(terms):
                if t in self._term_cache:
                    self._term_cache.move_to_end(t)
                    out[t] = self._term_cache[t]
                else:
                    missing.append(t)
        if missing:
            df_map = self.term_df(missing)
            loaded: dict[str, tuple[int, list]] = {
                t: (0, []) for t in missing
            }
            present = [t for t in missing if df_map.get(t, 0) > 0]
            by_bucket: dict[int, list[str]] = {}
            for t in present:
                by_bucket.setdefault(
                    term_bucket(t, self.n_buckets), []
                ).append(t)
            for b, ts in by_bucket.items():
                tbl = self._reader.lookup(
                    f"{self.index_dir}/postings/bucket={b}", "term", ts,
                    ["term", "salt", "blocks"],
                )
                if tbl is None:
                    continue
                for row in tbl.to_pylist():
                    t = row["term"]
                    loaded[t] = (
                        df_map[t],
                        loaded[t][1] + [(row["salt"], row["blocks"])],
                    )
            with self._cache_lock:
                for t, v in loaded.items():
                    out[t] = v
                    if self._cache_cap:
                        self._term_cache[t] = v
                        self._term_cache.move_to_end(t)
                while len(self._term_cache) > self._cache_cap:
                    self._term_cache.popitem(last=False)
        return out

    # -- lifecycle ---------------------------------------------------------
    @classmethod
    def build(
        cls,
        spark: SparkSession,
        corpus: DataFrame,
        index_dir: str,
        stem: bool = True,
        resume: bool = False,
        **kwargs,
    ) -> "SearchEngine":
        build_index(
            spark, corpus, index_dir, stem=stem, resume=resume, **kwargs
        )
        return cls(spark, index_dir, stem=stem)

    @classmethod
    def load(
        cls,
        spark: SparkSession,
        index_dir: str,
        stem: bool | None = None,
        snapshot: str | None = None,
    ):
        """``snapshot`` time-travels a pointer-root index to a named
        retained commit (streaming.ingest.maintain_index_incremental's
        retain_snapshots; see resolve_index_dir)."""
        return cls(spark, index_dir, stem=stem, snapshot=snapshot)

    @classmethod
    def merge(
        cls,
        spark: SparkSession,
        base_dir: str,
        delta_dir: str,
        out_dir: str,
        resume: bool = False,
        bucket_groups: int = 1,
        docid_broadcast_limit: int | None = None,
    ) -> "SearchEngine":
        """Fold a delta index (a build over a new crawl batch) into a
        base index — incremental indexing without rebuilding unchanged
        posting lists (plans/merge.py; the reference's analogue rewrites
        the whole index, Indexer/merge_index_files.py:5-15).
        ``docid_broadcast_limit``: updated-docid count above which the
        delta set ships as a per-salt sidecar instead of a broadcast."""
        from .plans.merge import DOCID_BROADCAST_LIMIT, merge_indexes

        merge_indexes(
            spark, base_dir, delta_dir, out_dir, resume=resume,
            bucket_groups=bucket_groups,
            docid_broadcast_limit=(
                DOCID_BROADCAST_LIMIT
                if docid_broadcast_limit is None
                else docid_broadcast_limit
            ),
        )
        return cls(spark, out_dir)

    @classmethod
    def delete(
        cls,
        spark: SparkSession,
        base_dir: str,
        out_dir: str,
        urls: list[str] | None = None,
        docids: list[int] | None = None,
        resume: bool = False,
    ) -> "SearchEngine":
        """Purge documents (by url or docid) from an index without a
        rebuild — stale postings removed via the merge kernel's
        block-range purge (plans/merge.py delete_docs)."""
        from .plans.merge import delete_docs

        delete_docs(
            spark, base_dir, out_dir, urls=urls, docids=docids,
            resume=resume,
        )
        return cls(spark, out_dir)

    # -- internals ---------------------------------------------------------
    def _postings(self, terms: list[str]) -> DataFrame:
        """Postings scan for the query terms (the Spark analogue of the
        reference's Mongo $in over the `word` B-tree,
        backend/services/mongoService.js:18-20). The driver computes each
        term's md5 bucket locally and filters on the bucket partition
        column — pure directory pruning, only |distinct buckets| dirs are
        listed/read — then the downstream isin(term) filter prunes row
        groups inside them via the term-sorted min/max footer stats."""
        buckets = sorted({term_bucket(t, self.n_buckets) for t in terms})
        return self.spark.read.parquet(f"{self.index_dir}/postings").filter(
            F.col("bucket").isin(buckets)
        )

    def analyze(self, query: str) -> list[str]:
        if not query or not query.strip():
            raise EmptyQueryError("Empty query")
        return analyze_query(query, stem=self.stem, analyzer=self.analyzer)

    def term_df(self, terms: list[str]) -> dict[str, int]:
        """Driver-side lexicon lookup: global df per query term from the
        term_stats side table, NO Spark job. Only the terms' bucket
        directories are touched; within them the footers (parsed once
        per engine, ``PointReader``) prune to the term-sorted row groups
        whose [min, max] can hold a query term. The reference's analogue
        is the metaData/posting-length read per query
        (mongoService.js:16-32)."""
        out: dict[str, int] = {}
        by_bucket: dict[int, list[str]] = {}
        for t in terms:
            by_bucket.setdefault(term_bucket(t, self.n_buckets), []).append(t)
        for b, ts in by_bucket.items():
            tbl = self._reader.lookup(
                f"{self.index_dir}/term_stats/bucket={b}", "term", ts,
                ["term", "df"],
            )
            if tbl is None:
                continue
            for term, df in zip(
                tbl.column("term").to_pylist(), tbl.column("df").to_pylist()
            ):
                out[term] = int(df)
        return out

    def suggest(self, prefix: str, k: int = 10) -> list[tuple[str, int]]:
        """Autocomplete: top-k index terms starting with ``prefix``,
        ranked by df desc then term asc — a driver-side RANGE scan of
        the term_stats lexicon, zero Spark jobs.

        The lexicon is hash-bucketed for point lookups, so a prefix
        range has members in every bucket directory — but each bucket's
        files are term-sorted, so pyarrow's footer min/max stats prune
        each directory to the row groups straddling
        [prefix, prefix_hi): at a 10^9-term lexicon that is
        O(n_buckets) row groups read, not a lexicon scan. (An
        autocomplete-heavy head would additionally materialize a
        term-sorted top-df projection; this path needs no extra
        table.) The reference's `word` B-tree serves the same range
        shape (mongoService.js does point $in; this is the range
        form). Distributed twin: __spark_entry__ q_term_prefix_topk —
        pytest asserts the two agree on a built index.

        Reads go through ONE cached pyarrow dataset over the bucket
        directories (threaded scan + footer-stats row-group pruning)
        — measured ~4x faster than per-bucket sequential read_table
        on a 64-bucket lexicon."""
        import re

        import pyarrow.dataset as pads

        p = re.sub(r"[^a-z0-9]", "", (prefix or "").lower())
        if not p:
            raise EmptyQueryError("Empty query")
        hi = p[:-1] + chr(ord(p[-1]) + 1)
        tbl = self._side_dataset("term_stats").to_table(
            columns=["term", "df"],
            filter=(pads.field("term") >= p) & (pads.field("term") < hi),
        )
        matches = sorted(
            zip(
                (int(x) for x in tbl.column("df").to_pylist()),
                tbl.column("term").to_pylist(),
            ),
            key=lambda t: (-t[0], t[1]),
        )
        return [(term, df) for df, term in matches[:k]]

    # Lucene-style cap on wildcard expansions: highest-df matches win
    # (suggest already ranks by df desc), so a short prefix over a
    # 10^9-term lexicon can't explode the query
    MAX_WILDCARD_EXPANSIONS = 128

    # BM25F title-field weight (mode='bm25f'): a title occurrence
    # counts this many times (weight 1 == plain BM25 exactly; see
    # operators/scoring.py score_bm25f for the formula and the
    # reference parity notes)
    DEFAULT_TITLE_WEIGHT = 2.0

    def build_title_tf(self, analyzer: str | None = None) -> None:
        """Materialize the title-field sidecar (``title_tf/``) on an
        existing index — the retrofit path for indexes built before
        BM25F existed (CLI: ``titleindex``). New builds write it as a
        standard stage (plans/build.py write_title_tf)."""
        from .plans.build import write_title_tf

        write_title_tf(
            self.spark, self.index_dir, self.n_buckets,
            analyzer=analyzer or self.analyzer,
        )
        self._title_cache = {}
        self._reader.invalidate(f"{self.index_dir}/title_tf")

    def _title_rows(self, terms: list[str]) -> dict:
        """term -> (docids, title_tfs, body_doc_lens) numpy arrays from
        the title_tf sidecar — pyarrow over the terms' bucket
        directories (term-sorted row groups), no Spark job, the same
        footer-cached point read as term_df. The caller checks the
        sidecar exists (query.title_rows raises the titleindex remedy)."""
        root = f"{self.index_dir}/title_tf"
        cache = getattr(self, "_title_cache", None)
        if cache is None:
            cache = self._title_cache = {}
        out: dict = {}
        by_bucket: dict[int, list[str]] = {}
        for t in dict.fromkeys(terms):
            if t in cache:
                out[t] = cache[t]
            else:
                by_bucket.setdefault(
                    term_bucket(t, self.n_buckets), []
                ).append(t)
        empty = (
            np.empty(0, np.int64),
            np.empty(0, np.float64),
            np.empty(0, np.float64),
        )
        for t in (t for ts in by_bucket.values() for t in ts):
            out[t] = empty
        for b, ts in by_bucket.items():
            tbl = self._reader.lookup(
                f"{root}/bucket={b}", "term", ts,
                ["term", "docid", "tf", "doc_len"],
            )
            if tbl is None:
                continue
            terms_a = tbl.column("term").to_pylist()
            did = tbl.column("docid").to_numpy()
            tf = tbl.column("tf").to_numpy().astype(np.float64)
            dl = tbl.column("doc_len").to_numpy().astype(np.float64)
            for t in ts:
                sel = np.fromiter(
                    (x == t for x in terms_a), bool, len(terms_a)
                )
                td, ttf, tdl = did[sel], tf[sel], dl[sel]
                order = np.argsort(td, kind="stable")
                out[t] = (td[order], ttf[order], tdl[order])
        for t, v in out.items():
            cache[t] = v
        return out

    # additive static-authority boost weight (boost='static'):
    # score' = score + W * ln(1 + N * pagerank) — the same formula the
    # oracle-checked bm25_static_rank entry replays in DuckDB
    STATIC_BOOST_WEIGHT = 2.0

    def _static_rank_arrays(self):
        """(docid-sorted ids, ranks) doc-values from the static_rank
        sidecar (build with pagerank_iters=N / CLI --pagerank N) —
        one column-pruned pyarrow read cached per engine instance,
        like the facet doc-values. Docs absent from the link graph get
        no row (zero boost)."""
        import os

        cached = getattr(self, "_rank_cache", None)
        if cached is not None:
            return cached
        root = f"{self.index_dir}/static_rank"
        if not os.path.isdir(root):
            raise FileNotFoundError(
                f"{root} missing — boost='static' is single-index serving "
                "only and needs that index's PageRank sidecar; rebuild "
                "with pagerank_iters=N (CLI: build --pagerank N)"
            )
        tbl = self._side_dataset("static_rank").to_table(
            columns=["docid", "rank"]
        )
        d = tbl.column("docid").to_numpy()
        r = tbl.column("rank").to_numpy().astype(np.float64)
        order = np.argsort(d, kind="stable")
        self._rank_cache = (d[order], r[order])
        return self._rank_cache

    def _search_ids_fielded(
        self, bag_terms: list[str], bag_required: list[str],
        t_should: list[str], t_must: list[str], t_not: list[str],
        bag_excluded: list[str], k: int, mode: str,
    ) -> DataFrame:
        """Distributed field-scoped scoring as ONE tagged relation:
        title clauses become pseudo-terms named ``title:<term>`` whose
        rows come from the title_tf sidecar (tf = title occurrences,
        doc_len = body length), unioned with the body posting decode,
        then the standard exhaustive scorer runs once — its live df
        recompute, MUST count gate and NOT anti-join all operate on
        the tagged names, so field semantics need no new aggregation
        machinery. Rank-identical to the driver-local title: scoring
        (query.accumulate; pytest)."""
        import os as _os

        from .operators.postings import term_bucket
        from .operators.scoring import score_exhaustive

        if not _os.path.isdir(f"{self.index_dir}/title_tf"):
            raise FileNotFoundError(
                f"{self.index_dir}/title_tf missing — field-scoped "
                "queries need the title sidecar; run "
                "engine.build_title_tf() (CLI: titleindex)"
            )

        def tag(ts):
            return [f"title:{t}" for t in ts]

        read_bag = list(dict.fromkeys(bag_terms + bag_excluded))
        title_terms = list(
            dict.fromkeys(t_should + t_must + t_not)
        )
        tbuckets = sorted(
            {term_bucket(t, self.n_buckets) for t in title_terms}
        )
        title_rel = (
            self.spark.read.parquet(f"{self.index_dir}/title_tf")
            .filter(F.col("bucket").isin(tbuckets))
            .filter(F.col("term").isin(title_terms))
            .select(
                F.concat(F.lit("title:"), F.col("term")).alias("term"),
                F.col("docid").cast("long").alias("docid"),
                F.col("tf").cast("int").alias("tf"),
                F.col("doc_len").cast("int").alias("doc_len"),
            )
        )
        if read_bag:
            body_rel = decode_postings_df(
                self._postings(read_bag).filter(
                    F.col("term").isin(read_bag)
                )
            ).select("term", "docid", "tf", "doc_len")
            rel = body_rel.unionByName(title_rel)
        else:
            rel = title_rel
        return score_exhaustive(
            rel,
            list(dict.fromkeys(bag_terms + tag(t_should + t_must))),
            self.n,
            self.avgdl,
            k,
            mode,
            semantics="or",
            exclude_terms=(bag_excluded + tag(t_not)) or None,
            required_terms=(bag_required + tag(t_must)) or None,
        )

    def build_lexicon_rev(self, partitions: int | None = None) -> None:
        """Materialize the REVERSED-term lexicon sidecar under
        ``index_dir/lexicon_rev``: (term_rev, term, df) globally
        range-sorted on term_rev, so a leading wildcard (``*ing``)
        becomes a PREFIX range scan over term_rev — pyarrow's footer
        min/max stats prune the read to the row groups straddling
        [rev(suffix), rev(suffix)_hi), exactly the shape ``suggest``
        uses on the forward lexicon. One lexicon-sized Spark job
        (range repartition + in-partition sort — scales to a 10^9-term
        lexicon because the sort is distributed); afterwards leading
        and infix wildcards serve driver-side with zero Spark jobs.
        Derived purely from term_stats: a ``_SOURCE_STAMP.json``
        fingerprint of the term_stats files is written alongside and
        checked at read time, so a sidecar left behind by a superseded
        lexicon FAILS LOUDLY (rebuild remedy) instead of silently
        expanding wildcards against ghost or missing terms."""
        import json as _json

        from pyspark.sql import functions as F

        out = f"{self.index_dir}/lexicon_rev"
        df = self.spark.read.parquet(
            f"{self.index_dir}/term_stats"
        ).select(F.reverse("term").alias("term_rev"), "term", "df")
        n_parts = partitions or max(
            4, int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        )
        (
            df.repartitionByRange(n_parts, "term_rev")
            .sortWithinPartitions("term_rev")
            .write.mode("overwrite")
            .parquet(out)
        )
        with open(f"{out}/_SOURCE_STAMP.json", "w") as f:
            _json.dump({"term_stats": self._term_stats_fingerprint()}, f)
        self._datasets.pop("lexicon_rev", None)
        self._lexrev_stamp_ok = None

    def _term_stats_fingerprint(self) -> str:
        """Deterministic fingerprint of the term_stats dataset files
        (relative name, size, mtime_ns) — changes whenever the lexicon
        is rewritten, cheap to compute (directory metadata only)."""
        import hashlib
        import os

        root = f"{self.index_dir}/term_stats"
        entries = []
        for dirpath, _dirs, files in sorted(os.walk(root)):
            rel = os.path.relpath(dirpath, root)
            for name in sorted(files):
                if name.startswith(("_", ".")):
                    continue
                st = os.stat(os.path.join(dirpath, name))
                entries.append(f"{rel}/{name}:{st.st_size}:{st.st_mtime_ns}")
        return hashlib.md5("\n".join(entries).encode()).hexdigest()

    def _check_lexicon_rev_fresh(self) -> None:
        """Raise when lexicon_rev predates the current term_stats (e.g.
        after an in-place merge/delete rewrote the lexicon): a stale
        reversed sidecar would silently expand leading/infix wildcards
        against the OLD vocabulary. Verified once per engine instance
        (the fingerprint is directory metadata; an engine instance is
        pinned to one index state anyway)."""
        import json as _json
        import os

        if getattr(self, "_lexrev_stamp_ok", None):
            return
        stamp_path = f"{self.index_dir}/lexicon_rev/_SOURCE_STAMP.json"
        stale_msg = (
            f"{self.index_dir}/lexicon_rev is STALE (term_stats changed "
            "since it was built) — leading/infix wildcard expansion "
            "would use the old vocabulary; rerun "
            "engine.build_lexicon_rev() (CLI: revindex)"
        )
        if os.path.isfile(stamp_path):
            with open(stamp_path) as f:
                stamp = _json.load(f).get("term_stats")
            if stamp != self._term_stats_fingerprint():
                raise FileNotFoundError(stale_msg)
        # pre-stamp sidecars (built by an older engine) can't be
        # verified — trust them as before rather than breaking
        # existing indexes
        self._lexrev_stamp_ok = True

    def _term_range(
        self, dataset_name: str, sort_col: str, prefix: str
    ) -> list[tuple[str, int]]:
        """All (term, df) whose ``sort_col`` starts with ``prefix`` —
        a footer-stats-pruned range read of a sorted side table."""
        import pyarrow.dataset as pads

        hi = prefix[:-1] + chr(ord(prefix[-1]) + 1)
        tbl = self._side_dataset(dataset_name).to_table(
            columns=["term", "df"],
            filter=(pads.field(sort_col) >= prefix)
            & (pads.field(sort_col) < hi),
        )
        return list(
            zip(
                tbl.column("term").to_pylist(),
                (int(x) for x in tbl.column("df").to_pylist()),
            )
        )

    def expand_wildcard(
        self, pattern: str, cap: int | None = None
    ) -> list[tuple[str, int]]:
        """Expand one wildcard token (``snow*``, ``*ing``, ``s*ing``,
        multi-star) to its top-df lexicon matches, capped at
        ``MAX_WILDCARD_EXPANSIONS``.

        Strategy (the Lucene automaton's range-scan slice, made
        distributed-storage-friendly): take the LONGER of the literal
        prefix / literal suffix as the candidate source — a
        footer-pruned range scan of the forward lexicon (prefix) or
        the reversed-term sidecar (suffix; ``build_lexicon_rev``,
        CLI ``revindex``) — then regex-filter the pruned candidates
        against the full pattern and keep the highest-df ``cap``
        matches. The scan is O(range straddle), never a lexicon scan;
        the regex touches only pruned candidate rows. Filtering
        happens BEFORE the cap, so selective infixes aren't starved
        by high-df prefix cousins. A pattern with no literal anchor
        (``*``) raises EmptyQueryError; a leading/infix pattern whose
        only anchor is the suffix raises FileNotFoundError with the
        revindex remedy when the sidecar is absent."""
        import os
        import re as _re

        cap = cap or self.MAX_WILDCARD_EXPANSIONS
        p = _re.sub(r"[^a-z0-9*]", "", (pattern or "").lower())
        segs = p.split("*")
        if not any(segs):
            raise EmptyQueryError("Empty query")
        prefix, suffix = segs[0], segs[-1]
        if not prefix and not suffix:
            # '*a*' — no range anchor; expanding would be a full
            # lexicon scan, which a 10^9-term lexicon can't afford.
            # Raised as EmptyQueryError so query-level expansion skips
            # the token instead of failing the request.
            raise EmptyQueryError(
                "wildcard pattern needs a literal prefix or suffix"
            )
        rx = _re.compile(
            "^" + ".*".join(_re.escape(s) for s in segs) + "$"
        )
        if len(prefix) >= len(suffix) and prefix:
            cands = self._term_range("term_stats", "term", prefix)
        else:
            if not os.path.isdir(f"{self.index_dir}/lexicon_rev"):
                raise FileNotFoundError(
                    f"{self.index_dir}/lexicon_rev missing — leading/"
                    "infix wildcards need the reversed-term lexicon "
                    "sidecar; run engine.build_lexicon_rev() (CLI: "
                    "revindex)"
                )
            self._check_lexicon_rev_fresh()
            cands = self._term_range(
                "lexicon_rev", "term_rev", suffix[::-1]
            )
        matched = sorted(
            ((t, df) for t, df in cands if rx.match(t)),
            key=lambda td: (-td[1], td[0]),
        )
        return matched[:cap]

    def expand_query_terms(self, query: str) -> list[str]:
        """Wildcard-aware query analysis: a token containing ``*``
        (trailing, leading, or infix — see ``expand_wildcard``)
        expands to the highest-df lexicon terms matching the pattern,
        capped at MAX_WILDCARD_EXPANSIONS; everything else goes
        through the normal analyzer. Wildcard patterns match INDEX
        terms (i.e. stems on a stemmed index) — the standard
        multi-term-query contract. Order-preserving dedupe, like
        analyze_query."""
        parts = (query or "").split()
        wild = [p for p in parts if "*" in p and len(p) > 1]
        rest = " ".join(p for p in parts if p not in set(wild))
        terms = self.analyze(rest) if rest.strip() else []
        for w in wild:
            try:
                matches = self.expand_wildcard(w)
            except EmptyQueryError:
                continue
            terms.extend(t for t, _df in matches)
        return list(dict.fromkeys(terms))

    def fuzzy_terms(
        self, terms: list[str]
    ) -> tuple[list[str], dict[str, str]]:
        """Did-you-mean expansion: analyzed terms absent from the
        lexicon (df == 0) are replaced by their best spell correction
        (``correct`` — the SymSpell layout must be built). Present
        terms are never touched. Returns (deduped corrected terms,
        {original: replacement})."""
        dfm = self.term_df(terms)
        out: list[str] = []
        corr: dict[str, str] = {}
        for t in terms:
            if dfm.get(t, 0) > 0:
                out.append(t)
                continue
            cand = self.correct(t, k=1)
            if cand:
                corr[t] = cand[0][0]
                out.append(cand[0][0])
            else:
                out.append(t)
        return list(dict.fromkeys(out)), corr

    def build_spellindex(self, max_dist: int = 2) -> None:
        """Materialize the SymSpell deletion-neighborhood layout
        (operators/fuzzy.py) under ``index_dir/spell`` from the
        lexicon — one lexicon-sized Spark job; afterwards corrections
        serve driver-side with zero Spark jobs (``correct``)."""
        from .operators.fuzzy import spellindex_write

        spellindex_write(
            self.spark.read.parquet(f"{self.index_dir}/term_stats"),
            f"{self.index_dir}/spell",
            max_dist=max_dist,
        )
        self._datasets.pop("spell", None)

    def correct(
        self, term: str, k: int = 10
    ) -> list[tuple[str, int, int]]:
        """Spell-correct one term against the lexicon:
        [(term, dist, df)] by (distance asc, df desc, term asc) — a
        driver-side SymSpell candidate lookup + DP-levenshtein verify
        (operators/fuzzy.py spell_lookup), zero Spark jobs.
        Equivalence with the distributed levenshtein scan is
        pytest-enforced."""
        import os
        import re

        from .operators.fuzzy import spell_lookup

        t = re.sub(r"[^a-z0-9]", "", (term or "").lower())
        if not t:
            raise EmptyQueryError("Empty query")
        if not os.path.isdir(f"{self.index_dir}/spell"):
            raise FileNotFoundError(
                f"{self.index_dir}/spell missing — corrections need "
                "the materialized deletion-neighborhood index; run "
                "engine.build_spellindex() (CLI: spellindex)"
            )
        return spell_lookup(
            f"{self.index_dir}/spell", t, k=k,
            dataset=self._side_dataset("spell"),
        )

    def _side_dataset(self, name: str):
        """Cached pyarrow dataset over a bucket-partitioned side table
        (term_stats / positions). Discovery (file listing) happens once
        per engine instance — an engine pins its snapshot, so the file
        set is immutable for its lifetime."""
        import pyarrow.dataset as pads

        ds = self._datasets.get(name)
        if ds is None:
            ds = pads.dataset(
                f"{self.index_dir}/{name}",
                partitioning="hive",
                format="parquet",
            )
            self._datasets[name] = ds
        return ds

    # -- queries -----------------------------------------------------------
    def search_phrase(
        self, phrase: str, k: int = 50, slop: int = 0
    ) -> list[tuple[int, float, int]]:
        """Exact-phrase (or ``slop`` window) top-k on the driver from the
        positional sidecars (build with positions=True):
        [(docid, score, phrase_tf)] by (score desc, docid asc), [] when
        a phrase term is absent — query.search_phrase. Rank/value
        identity with the corpus-scan operator (operators/phrase.py) is
        pytest-enforced."""
        return query_path.search_phrase(self, phrase, k, slop)

    def _phrase_matches(self, phrase: str, slop: int = 0):
        """Shared phrase machinery (search_phrase / search_mixed):
        sidecar read + vectorized adjacency (or, with ``slop`` > 0,
        the greedy ordered-window chain — smallest-successor chains
        minimize the final position, so greedy-exists == exists) ->
        (docids, doc_lens, phrase_tfs) NumPy arrays in docid order for
        the matching docs; None when a phrase term is absent or
        nothing matches. tf counts distinct start positions."""
        import os

        import pyarrow as pa
        import pyarrow.dataset as pads

        from .operators.codec import varbyte_decode
        from .operators.phrase import phrase_slots
        from .operators.postings import term_bucket

        if not (phrase or "").strip():
            raise EmptyQueryError("Empty query")
        if not os.path.isdir(f"{self.index_dir}/positions"):
            raise FileNotFoundError(
                f"{self.index_dir}/positions missing — phrase search "
                "needs the positional sidecar; rebuild with "
                "positions=True (build --positions)"
            )
        terms = phrase_slots(phrase, stem=self.stem)
        m = len(terms)
        slots: dict[str, list[int]] = {}
        for i, t in enumerate(terms):
            slots.setdefault(t, []).append(i)
        buckets = sorted(
            {term_bucket(t, self.n_buckets) for t in slots}
        )
        # one threaded dataset read: bucket partition pruning + term
        # In pushdown over term-sorted row groups
        tbl = self._side_dataset("positions").to_table(
            filter=pads.field("bucket").isin(buckets)
            & pads.field("term").isin(list(slots)),
        ).combine_chunks()

        # PHASE 1 — metadata only: decode the small docid/count/doclen
        # streams per row; the position payload stays as zero-copy
        # Arrow buffer slices. For a rare+head phrase this is the whole
        # trick: the head term's (large) payload never varbyte-decodes
        # for docs the rare term rules out.
        pos_col = tbl.column("pos_bytes")
        if isinstance(pos_col, pa.ChunkedArray):
            pos_col = pos_col.combine_chunks()
        valoff = np.frombuffer(pos_col.buffers()[1], dtype=np.int32)
        payload = memoryview(pos_col.buffers()[2])
        pbase = pos_col.offset
        term_l = tbl.column("term").to_pylist()
        db_l = tbl.column("docids_bytes").to_pylist()
        cb_l = tbl.column("counts_bytes").to_pylist()
        lb_l = tbl.column("doclens_bytes").to_pylist()
        # term -> list of (docids, counts, doclens, row_index)
        meta: dict[str, list] = {}
        for ri, t in enumerate(term_l):
            docids = np.cumsum(
                varbyte_decode(bytes(db_l[ri])).astype(np.int64)
            )
            counts = varbyte_decode(bytes(cb_l[ri])).astype(np.int64)
            doclens = varbyte_decode(bytes(lb_l[ri])).astype(np.int64)
            meta.setdefault(t, []).append((docids, counts, doclens, ri))
        if len(meta) < len(slots):
            return None  # a phrase term absent from the index

        # candidate docs: intersect docid sets, smallest first
        term_docs: dict[str, tuple] = {}
        for t, rows_m in meta.items():
            d = np.concatenate([r[0] for r in rows_m])
            order = np.argsort(d, kind="stable")
            term_docs[t] = (d[order], order)
        ordered = sorted(term_docs, key=lambda t: term_docs[t][0].size)
        cand = term_docs[ordered[0]][0]
        for t in ordered[1:]:
            cand = cand[
                np.isin(cand, term_docs[t][0], assume_unique=True)
            ]
            if cand.size == 0:
                return None

        # PHASE 2 — decode positions ONLY for candidate docs: locate
        # each selected doc's byte range inside its row's payload via
        # one terminator-bit scan per TOUCHED row, then one varbyte
        # pass over the gathered slices per term.
        lookup: dict[str, tuple] = {}
        for t, rows_m in meta.items():
            # per-row byte units decode in one varbyte pass, then doc
            # runs permute to global docid order with a vectorized
            # gather on the DECODED ints (rows may interleave docids —
            # a merged sidecar holds a purged base row AND a delta row
            # per (term, salt)); a fully-hit row's payload passes
            # through without any byte slicing, so the head-head-phrase
            # case keeps eager-decode speed.
            units: list = []
            for docids, counts, doclens, ri in rows_m:
                hit = np.isin(docids, cand, assume_unique=True)
                if not hit.any():
                    continue
                row_pay = np.frombuffer(
                    payload[
                        valoff[pbase + ri]:valoff[pbase + ri + 1]
                    ],
                    dtype=np.uint8,
                )
                if hit.all():
                    units.append(
                        (int(docids[0]), row_pay.tobytes(),
                         counts, docids, doclens)
                    )
                    continue
                val_ends = np.flatnonzero((row_pay & 0x80) != 0) + 1
                vb = np.r_[np.int64(0), np.cumsum(counts)]
                bb = np.r_[np.int64(0), val_ends[vb[1:] - 1]]
                kept = np.flatnonzero(hit)
                starts_b = bb[kept]
                lens_b = bb[kept + 1] - starts_b
                gather = np.repeat(
                    starts_b - np.r_[np.int64(0), np.cumsum(lens_b)[:-1]],
                    lens_b,
                ) + np.arange(int(lens_b.sum()))
                units.append(
                    (
                        int(docids[kept[0]]),
                        row_pay[gather].tobytes(),
                        counts[kept], docids[kept], doclens[kept],
                    )
                )
            if not units:
                z = np.zeros(0, dtype=np.int64)
                lookup[t] = (z, z, np.zeros(1, dtype=np.int64), z)
                continue
            counts_u = np.concatenate([u[2] for u in units])
            docids_u = np.concatenate([u[3] for u in units])
            doclens_u = np.concatenate([u[4] for u in units])
            deltas = varbyte_decode(
                b"".join(u[1] for u in units)
            ).astype(np.int64)
            offsets_u = np.r_[np.int64(0), np.cumsum(counts_u)]
            cs = np.cumsum(deltas)
            starts_u = offsets_u[:-1]
            base = cs[starts_u] - deltas[starts_u]
            pos_u = cs - np.repeat(base, counts_u)
            order = np.argsort(docids_u, kind="stable")
            counts_s = counts_u[order]
            out_off = np.r_[np.int64(0), np.cumsum(counts_s)]
            gather = np.repeat(
                starts_u[order] - out_off[:-1], counts_s
            ) + np.arange(int(counts_s.sum()))
            lookup[t] = (
                docids_u[order],
                doclens_u[order],
                out_off,
                pos_u[gather],
            )
        M = np.int64(1) << np.int64(32)  # positions are int32
        if slop:
            # ordered proximity window: greedy smallest-successor
            # chain over global (candidate_index << 32 | pos) keys —
            # a successor landing in another doc makes the final span
            # check fail automatically (M >> span), so no per-doc
            # bookkeeping is needed
            span = np.int64(m - 1 + slop)
            slot_keys = []
            for i in range(m):
                di, _dli, offi, posi = lookup[terms[i]]
                counts = np.diff(offi)
                in_cand = np.isin(di, cand, assume_unique=True)
                cidx_doc = np.searchsorted(cand, di)
                keep = np.repeat(in_cand, counts)
                keys = (
                    np.repeat(cidx_doc.astype(np.int64), counts) * M
                    + posi
                )[keep]
                keys.sort()
                slot_keys.append(keys)
            starts = slot_keys[0]
            alive = np.ones(starts.size, dtype=bool)
            last = starts.copy()
            for i in range(1, m):
                ks = slot_keys[i]
                idx = np.searchsorted(ks, last, side="right")
                ok = idx < ks.size
                alive &= ok
                last = np.where(
                    ok, ks[np.minimum(idx, max(ks.size - 1, 0))], last
                )
            alive &= (last - starts) <= span
            if not alive.any():
                return None
            tf_per_cand = np.bincount(
                (starts[alive] // M).astype(np.int64),
                minlength=cand.size,
            )
            hit = tf_per_cand > 0
            d0, dl0, _off0, _pos0 = lookup[terms[0]]
            dls = dl0[np.searchsorted(d0, cand)]
            return cand[hit], dls[hit], tf_per_cand[hit]
        # vectorized adjacency over ALL candidate docs at once (the
        # driver analogue of the anchor aggregation): for slot i map
        # every (doc, pos) hit to key = candidate_index * M + (pos - i)
        # — keys are unique within a slot — and intersect the m sorted
        # key sets; surviving keys ARE the phrase starts. No per-doc
        # Python loop: a head-term phrase over 10^5 candidate docs is
        # m intersections of int64 arrays.
        valid = None
        for slot in range(m):
            di, _dli, offi, posi = lookup[terms[slot]]
            counts = np.diff(offi)
            in_cand = np.isin(di, cand, assume_unique=True)
            cidx_doc = np.searchsorted(cand, di)
            keep = np.repeat(in_cand, counts)
            anchors = posi - np.int64(slot)
            keys = (
                np.repeat(cidx_doc.astype(np.int64), counts) * M
                + anchors
            )[keep & (anchors >= 0)]
            keys.sort()
            if valid is None:
                valid = keys
            else:
                valid = valid[
                    np.isin(valid, keys, assume_unique=True)
                ]
            if valid.size == 0:
                return None
        tf_per_cand = np.bincount(
            (valid // M).astype(np.int64), minlength=cand.size
        )
        hit = tf_per_cand > 0
        if not hit.any():
            return None
        d0, dl0, off0, _pos0 = lookup[terms[0]]
        dls = dl0[np.searchsorted(d0, cand)]
        return cand[hit], dls[hit], tf_per_cand[hit]

    def search_mixed(
        self, query: str, k: int = 50, mode: str = "bm25",
    ) -> list[tuple[int, float]]:
        """Mixed quoted-phrase query on the driver (query.search_mixed):
        quoted spans are conjunctive phrase filters scored as
        pseudo-terms, bag terms add their contributions. Rank/value
        identity with operators/phrase.py mixed_bm25 is pytest-enforced."""
        return query_path.search_mixed(self, query, k, mode)

    def set_synonyms(self, groups: list[list[str]]) -> None:
        """Write the query-time synonym sidecar (``synonyms.json``:
        RAW word groups; members are analyzed at LOAD time so the
        index's analyzer applies — a stemmed index gets stemmed
        synonym matching for free, same contract as every other query
        surface). Overwrites atomically (tmp + rename); pass [] to
        clear."""
        import json
        import os

        path = f"{self.index_dir}/synonyms.json"
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump([list(g) for g in groups], f)
        os.replace(tmp, path)
        self._syn_map = None

    def _load_synonyms(self) -> dict[str, list[str]]:
        """analyzed term -> full analyzed group (cached). Missing or
        empty sidecar -> {} (synonyms=True is then a no-op, never an
        error — the flag is safe to set unconditionally)."""
        if getattr(self, "_syn_map", None) is not None:
            return self._syn_map
        import json
        import os

        path = f"{self.index_dir}/synonyms.json"
        out: dict[str, list[str]] = {}
        if os.path.isfile(path):
            with open(path) as f:
                for group in json.load(f):
                    analyzed = list(
                        dict.fromkeys(
                            t
                            for w in group
                            for t in analyze_query(
                                w, stem=self.stem, analyzer=self.analyzer
                            )
                        )
                    )
                    if len(analyzed) > 1:
                        for t in analyzed:
                            # last-wins on overlapping groups (documented)
                            out[t] = analyzed
        self._syn_map = out
        return out

    def search_local(
        self, query: str, k: int = 50, mode: str = "bm25", **opts
    ) -> list[tuple[int, float]]:
        """Serve a query entirely on the DRIVER (query.search_local;
        ``opts``: semantics, fuzzy, negation, synonyms, boost):
        footer-cached point reads of the terms' lexicon and postings
        bucket directories, the NumPy block-max kernel per doc-range
        shard for plain OR and the full-decode accumulate scorer for
        every other feature — zero Spark jobs, rank-identical to the
        distributed paths (pytest-enforced).

        This is the search-head serving mode: a Spark job costs ~0.5s of
        scheduling alone, which dwarfs the reference server's per-query
        wall (backend/services/mongoService.js). Use the distributed
        'wand' path when candidate posting lists exceed driver memory —
        at 10^12 docs that's head terms, exactly where the cluster earns
        its keep; the two paths share kernel and index format."""
        return query_path.search_local(self, query, k, mode, **opts)

    def search_ids(
        self,
        query: str,
        k: int = 50,
        mode: str = "bm25",
        path: str = "wand",
        semantics: str = "or",
        negation: bool = False,
        synonyms: bool = False,
    ) -> DataFrame:
        """Top-k (docid, score). ``path``: 'wand' = block-max pruned kernel;
        'exhaustive' = decode + Catalyst aggregation (oracle path);
        'local' = driver-side serve (see search_local) wrapped back into
        a DataFrame. ``semantics='and'`` (conjunctive retrieval — every
        query term required) is served by the local path's intersection
        scorer or the exhaustive path; a 'wand' request downgrades to
        exhaustive (the intersection IS the pruning — block-max skipping
        has nothing to add). ``negation=True`` parses ``-term`` tokens
        as Lucene NOT (opt-in so legacy hyphenated queries keep the
        reference's bag behavior): served local (per-shard filtered
        top-k) or exhaustive (LEFT ANTI join before the cut); a 'wand'
        request downgrades to exhaustive. ``synonyms=True`` is served on
        EVERY path: local uses the driver kernel, the distributed paths
        route through operators/scoring.score_synonyms (a 'wand' request
        downgrades — the group's summed-tf saturation is an aggregation,
        which block-max skipping cannot express); rank-identical across
        paths (pytest)."""
        if path == "local":
            rows = self.search_local(
                query, k=k, mode=mode, semantics=semantics,
                negation=negation, synonyms=synonyms,
            )
            return self.spark.createDataFrame(
                [(int(d), float(s)) for d, s in rows],
                "docid long, score double",
            )
        # the driver-local parse: wildcards expand driver-side, so the
        # distributed paths expand identically to the local one
        c = query_path.parse(self, query, semantics, negation)
        query_path.check_flags(self, c, mode, semantics, synonyms)
        if c.empty:
            return self.spark.createDataFrame([], "docid long, score double")
        terms, required, excluded = c.terms, c.must, c.excluded
        if path == "wand" and (
            semantics == "and" or required or excluded or c.fields
        ):
            path = "exhaustive"
        if c.fields:
            return self._search_ids_fielded(
                terms, required, c.t_should, c.t_must, c.t_not, excluded,
                k, mode,
            )
        syn = self._load_synonyms() if synonyms else {}
        if syn:
            from .operators.scoring import score_synonyms

            # each query term's group (itself + sidecar synonyms) scores
            # as ONE pseudo-term: summed tf, TRUE disjunction df — the
            # distributed twin of query.accumulate's groups, same sidecar
            groups = [
                list(dict.fromkeys([t] + syn.get(t, [])))
                for t in dict.fromkeys(terms)
            ]
            need = sorted({g for grp in groups for g in grp})
            flat = decode_postings_df(
                self._postings(need + excluded).filter(
                    F.col("term").isin(need + excluded)
                )
            )
            # df is computed over ALL docs the groups match (exclusion
            # narrows candidates, not collection stats) — score with
            # k=None, anti-join the NOT set, then cut, mirroring the
            # local kernel's order of operations exactly
            res = score_synonyms(
                flat.filter(F.col("term").isin(need)),
                groups, self.n, self.avgdl, k=None, mode=mode,
            )
            if excluded:
                exc_docs = (
                    flat.filter(F.col("term").isin(excluded))
                    .select("docid").distinct()
                )
                res = res.join(exc_docs, "docid", "left_anti")
            return res.orderBy(
                F.desc("score"), F.asc("docid")
            ).limit(k)
        if mode == "bm25f":
            import os as _os

            if not _os.path.isdir(f"{self.index_dir}/title_tf"):
                raise FileNotFoundError(
                    f"{self.index_dir}/title_tf missing — BM25F needs "
                    "the title-field sidecar; run "
                    "engine.build_title_tf() (CLI: titleindex)"
                )
            from .operators.postings import term_bucket
            from .operators.scoring import score_bm25f

            # wand downgrades: block maxima were computed for the
            # UNboosted tf, so pruning bounds would be unsound under
            # the title boost — same aggregation-form downgrade as
            # synonyms/AND
            flat = decode_postings_df(
                self._postings(terms + excluded).filter(
                    F.col("term").isin(terms + excluded)
                )
            )
            tbuckets = sorted(
                {term_bucket(t, self.n_buckets) for t in terms}
            )
            title = (
                self.spark.read.parquet(f"{self.index_dir}/title_tf")
                .filter(F.col("bucket").isin(tbuckets))
                .select("docid", "term", "tf", "doc_len")
            )
            res = score_bm25f(
                flat.filter(F.col("term").isin(terms)),
                title, terms, self.n, self.avgdl, k=None,
                title_weight=self.DEFAULT_TITLE_WEIGHT,
            )
            if excluded:
                exc_docs = (
                    flat.filter(F.col("term").isin(excluded))
                    .select("docid").distinct()
                )
                res = res.join(exc_docs, "docid", "left_anti")
            return res.orderBy(
                F.desc("score"), F.asc("docid")
            ).limit(k)
        postings = self._postings(terms + excluded)
        if path == "wand":
            import os

            has_lexicon = os.path.isdir(f"{self.index_dir}/term_stats")
            return search_topk(
                postings, terms, self.n, self.avgdl, k=k, mode=mode,
                # no lexicon (pre-term_stats index): search_topk falls
                # back to collecting df from the candidate metadata
                df_map=self.term_df(terms) if has_lexicon else None,
                n_shards=1 << self.salt_bits,
            )
        flat = decode_postings_df(
            postings.filter(F.col("term").isin(terms + excluded))
        )
        return score_exhaustive(
            flat, terms, self.n, self.avgdl, k, mode,
            semantics=semantics, exclude_terms=excluded or None,
            required_terms=required or None,
        )

    def search_many(
        self, queries: list[str], k: int = 50, mode: str = "bm25"
    ) -> DataFrame:
        """Batch serving: top-k for MANY queries in ONE Spark job —
        (query_id, docid, score), query_id = position in ``queries``.
        Rank-identical per query to search_ids (pytest-enforced);
        queries that analyze to nothing (empty, all-absent terms)
        produce no rows rather than erroring the whole batch. The bulk
        analogue of the reference's one-request-per-query serving
        (backend/controllers/queryController.js); see
        operators/wand.py search_topk_many for the cost model."""
        from .operators.wand import search_topk_many

        qmap: dict[int, list[str]] = {}
        for i, q in enumerate(queries):
            try:
                terms = self.analyze(q)
            except EmptyQueryError:
                continue
            if terms:
                qmap[i] = terms
        if not qmap:
            return self.spark.createDataFrame(
                [], "query_id int, docid long, score double"
            )
        all_terms = sorted({t for ts in qmap.values() for t in ts})
        import os

        has_lexicon = os.path.isdir(f"{self.index_dir}/term_stats")
        return search_topk_many(
            self._postings(all_terms),
            qmap,
            self.n,
            self.avgdl,
            k=k,
            mode=mode,
            df_map=self.term_df(all_terms) if has_lexicon else None,
            n_shards=1 << self.salt_bits,
        )

    def facet_fields(self) -> list[str]:
        """Facet fields available on this index: the categorical
        corpus columns the docs side table carried through the build
        (plans/build.py FACET_COLUMNS)."""
        from .plans.build import FACET_COLUMNS

        names = set(self._side_dataset("docs").schema.names)
        return [c for c in FACET_COLUMNS if c in names]

    def _facet_arrays(self, field: str):
        """Doc-values analogue for one facet field: per-salt
        (docid-sorted ids, int codes) + the category list, from a
        COLUMN-PRUNED (docid, field, salt) read of the docs side table
        — snippet/images/text bytes are never touched (parquet column
        pruning; pytest-asserted). Cached per engine instance, exactly
        like Lucene holds doc values per segment; at scales where the
        facet column no longer fits the driver, the distributed twin
        is the facet_counts entry operator (same semantics, one Spark
        job)."""
        cache = getattr(self, "_facet_cache", None)
        if cache is None:
            cache = self._facet_cache = {}
        if field in cache:
            return cache[field]
        tbl = self._side_dataset("docs").to_table(
            columns=["docid", field, "salt"]
        )
        d = tbl.column("docid").to_numpy()
        salts = tbl.column("salt").to_numpy()
        vals = tbl.column(field).to_pylist()
        cats = sorted(
            {v for v in vals}, key=lambda x: (x is None, x or "")
        )
        code_of = {c: i for i, c in enumerate(cats)}
        codes = np.fromiter(
            (code_of[v] for v in vals), np.int32, len(vals)
        )
        by_salt: dict[int, tuple] = {}
        for s in np.unique(salts):
            m = salts == s
            ds, cs = d[m], codes[m]
            order = np.argsort(ds, kind="stable")
            by_salt[int(s)] = (ds[order], cs[order])
        cache[field] = (by_salt, cats)
        return cache[field]

    def facet_counts(
        self, query: str, field: str = "lang", negation: bool = False,
        top: int = 100,
    ) -> dict:
        """Per-facet doc counts over the query's FULL match set, not
        just the top-k page (query.facet_counts): bounded cost, zero
        Spark jobs, ``top`` caps the categories."""
        return query_path.facet_counts(self, query, field, negation, top)

    def lookup_docs(
        self, docids: list[int], with_images: bool = True
    ) -> list[dict]:
        """Point-lookup hydration: the reference's result fetch
        (mongoService.js:75-113, ``find({_id: {$in: ids}})`` over the
        _id B-tree) as a driver-side PRUNED parquet read. Two pruning
        levels: the docs table is partitioned by the docid-range salt,
        so only the <= k salt DIRECTORIES holding the requested ids are
        even listed (a 10^12-row table's remaining files never have
        their footers read); within them, docid-sorted files prune ROW
        GROUPS via footer min/max stats. Each directory is listed and
        its footers parsed once per engine (``PointReader``), so a
        lookup reads just the row groups that can hold its ids. No
        Spark job and no full docs scan: cost tracks k (<= 50), not
        corpus size. A legacy unpartitioned layout is read as one
        directory."""
        import os

        if not docids:
            return []
        cols = ["docid", "url", "title", "snippet"]
        if with_images:
            cols += ["images", "image_count"]
        base = f"{self.index_dir}/docs"
        by_dir: dict[str, list[int]] = {}
        legacy = not any(
            e.startswith("salt=") for e in os.listdir(base)
        )
        for d in docids:
            # an id from an empty shard has no directory -> not found
            by_dir.setdefault(
                base if legacy
                else f"{base}/salt={salt_of(d, self.salt_bits)}",
                [],
            ).append(int(d))
        out: list[dict] = []
        for d, ids in by_dir.items():
            tbl = self._reader.lookup(d, "docid", ids, cols)
            if tbl is not None:
                out.extend(tbl.to_pylist())
        return out

    def search(
        self,
        query: str,
        k: int = 50,
        mode: str = "bm25",
        path: str = "wand",
        with_images: bool = False,
        negation: bool = False,
        synonyms: bool = False,
    ) -> DataFrame:
        """Hydrated top-k: (docid, url, title, snippet, score) — the
        reference's result-fetch join (mongoService.js:75-113: $in over
        the _id B-tree), as a POINT LOOKUP against the docs table, never
        a table scan. The <= k result ids are collected (they are
        driver-side anyway — any hydration join would broadcast them)
        and the docs read is pruned twice: a salt PartitionFilter keeps
        only the <= k salt directories holding the ids (a 10^12-row
        table's other files are never listed), and docid IN(...) pushes
        into row-group min/max stats inside them. tools/explain_audit.py
        asserts both filters reach the scan. ``with_images`` adds the
        per-doc image metadata columns (images:
        array<struct<image_id,src>>, image_count) when the index was
        built with them."""
        id_rows = [
            (int(r["docid"]), float(r["score"]))
            for r in self.search_ids(
                query, k=k, mode=mode, path=path, negation=negation,
                synonyms=synonyms,
            ).collect()
        ]
        docs = self.spark.read.parquet(f"{self.index_dir}/docs")
        cols = ["docid", "url", "title", "snippet", "score"]
        if with_images:
            cols += ["images", "image_count"]
        scores = self.spark.createDataFrame(
            id_rows, "docid long, score double"
        )
        if not id_rows:
            return (
                docs.filter(F.lit(False))
                .join(F.broadcast(scores), "docid")
                .select(*cols)
            )
        docids = [d for d, _ in id_rows]
        if "salt" in docs.columns:
            docs = docs.filter(
                F.col("salt").isin(
                    sorted({salt_of(d, self.salt_bits) for d in docids})
                )
            )
        return (
            docs.filter(F.col("docid").isin(docids))
            .join(F.broadcast(scores), "docid")
            .select(*cols)
            .orderBy(F.desc("score"), F.asc("docid"))
        )

    def query_response(
        self, query: str, option_name: str = "tfidf", **opts
    ) -> dict:
        """The reference's full HTTP response shape
        (backend/controllers/queryController.js:11-59), served by
        query.query_response (``opts``: k, path, semantics, page,
        per_page, phrase, fuzzy, highlight, negation, synonyms, facets,
        facet_top, boost):

        - empty/whitespace query -> {"success": False, "result": [],
          "error": "Empty query"} (the exact 400 body,
          queryController.js:25);
        - optionName defaults to 'tfidf', lowercased
          (queryController.js:19);
        - otherwise {"imageResult", "textResult", "searchTime",
          "profile": {"measures": [{name, duration_ms}, ...],
          "sysSnapshot": {rss_mb, heapUsed_mb, heapTotal_mb,
          eventLoopDelay_ms}}} with per-stage spans mirroring
          utils/profiler.js:8-29 (validate_input / stem_query /
          get_documents / fetch_results / get_image_filenames /
          total_request; connect_to_db has no analogue — there is no
          connection pool).
        """
        return query_path.query_response(self, query, option_name, **opts)

    def image_results(
        self, query: str, k: int = 50, mode: str = "bm25",
        path: str = "wand",
    ) -> list[str]:
        """Flattened image_ids across the top-k docs, result order — the
        reference's imageResult payload (backend/utils/fileUtils.js:6-28:
        flatten doc.images[].image_id over the <=50 result rows,
        driver-side). Hydration is the lookup_docs point lookup, never a
        docs-table scan."""
        ids = (
            self.search_local(query, k=k, mode=mode)
            if path == "local"
            else [
                (r["docid"], r["score"])
                for r in self.search_ids(
                    query, k=k, mode=mode, path=path
                ).collect()
            ]
        )
        score_map = dict(ids)
        rows = sorted(
            self.lookup_docs([d for d, _ in ids]),
            key=lambda r: (-score_map[r["docid"]], r["docid"]),
        )
        return [
            img["image_id"] for r in rows for img in (r["images"] or [])
        ]
