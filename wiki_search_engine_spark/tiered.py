"""Tiered (segment) serving: query base + delta indexes as ONE index.

The incremental merge (plans/merge.py) produces a single exact index,
but it WRITES a complete new index every fold — pass-through avoids
re-encoding untouched posting groups, yet the IO is still index-sized.
At 10^12 docs that is petabytes per crawl batch. The standard web-scale
answer (Lucene segments, every LSM store) is to serve the segments
directly and compact offline:

- each crawl batch stays its own index (a segment), built by the normal
  ``plans/build.py`` pipeline — batch-sized IO, nothing rewritten;
- a later segment OVERRIDES earlier ones per docid (docid = stable url
  hash, so "same url re-crawled" == "same docid"): earlier segments get
  a TOMBSTONE set = the sorted docid arrays of later segments (only
  crawl batches are ever loaded — the base's docid set is never read);
- queries run against all segments; stale base postings are dropped at
  decode time by a vectorized searchsorted against the tombstones.

EXACTNESS — this is not the usual "df is slightly stale until
compaction" segment engine: scores are IDENTICAL to the compacted
(merged) index, pytest-enforced and DuckDB-oracle-checked:

- N / avgdl: segment stats combine, minus the overridden docs' counts
  and lengths (a pruned point lookup of the later segments' docids in
  earlier ``doc_stats``, which is docid-sorted for this);
- df per query term: the summed lexicon df when no doc is overridden;
  otherwise counted from the LIVE postings, tombstoned postings
  subtracted before idf is computed.

A TieredEngine is a SEGMENT SET (``segments`` = [(segment engine,
tombstones), ...], live ``n``/``avgdl``, ``overridden``) — the same
shape a single SearchEngine presents as one segment with no tombstones.
It keeps tombstone construction, the cross-segment lexicon aggregations
(wildcard, suggest, spell correction, synonyms) and the distributed
executors; querying is the one shared path. Two serving paths, both
exact:

- ``search_local`` / ``query_response`` — driver-side, query.py: the
  block-max kernel once per (segment, salt) for plain OR with the
  segment's tombstones as its drop mask, the full-decode accumulate
  scorer over live postings for every other feature — the search-head
  mode;
- ``search_ids`` — DISTRIBUTED: phase 1 computes exact live df where
  the postings are (stale hits subtracted during a docid-only decode of
  the pruned candidates), phase 2 runs the block-max WAND shard kernel
  over the union of segment postings with tombstoned postings dropped
  at decode time. Segments share the docid-range salt domain, so a
  shard holds every segment's postings for its range and per-shard
  top-k stays exact — the cluster path for head terms.

Compaction IS ``plans/merge.py``: fold segments when their count or
tombstone ratio grows (``compact`` below; automated in
``maintain_segments_incremental``), shrinking per-query segment fan-in
back to one.

Reference contract: identical results to merging the crawl batch into
the index (crawler re-crawl overwrite, Crawler/crawler.py:401-406) —
verified against the merged index and against DuckDB scoring over the
live corpus.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import SparkSession

from . import query as query_path
from .engine import EmptyQueryError, SearchEngine

_COMPAT_KEYS = ("stem", "analyzer", "n_buckets", "salt_bits")

# Auto-compaction threshold for maintain_segments_incremental, backed by
# the measured segment-count serving curve (bench.py
# tiered_local_p50_{1,2,4,8}seg, local[32] @ sf0.1-sized segments):
# p50 grows LINEARLY with segment count — 13.5ms/27.5ms/53.6ms/105.5ms
# at 1/2/4/8 segments (~13ms per segment: each segment adds one lexicon
# read + one bucket-pruned postings read per query; there is no knee to
# sit under). 4 keeps steady-state serving within ~4x the compacted
# index's p50 (~55ms here) while still amortizing compaction over
# several batch folds; raise it only if ingest throughput matters more
# than query latency.
DEFAULT_COMPACT_AFTER = 4


def is_deletes_segment(path: str) -> bool:
    """True if ``path`` is a tombstone-only DELETES segment (meta.json
    type == 'deletes') rather than a full index segment."""
    import json
    import os

    meta_path = f"{path}/meta.json"
    if not os.path.exists(meta_path):
        return False
    with open(meta_path) as f:
        return json.load(f).get("type") == "deletes"


def read_deletes_docids(path: str) -> np.ndarray:
    import pyarrow.parquet as pq

    return np.sort(
        pq.read_table(f"{path}/docids", columns=["docid"])
        .column("docid")
        .to_numpy()
        .astype(np.int64)
    )


def write_deletes_segment(
    path: str,
    docids: list[int] | None = None,
    urls: list[str] | None = None,
    spark: SparkSession | None = None,
) -> str:
    """Takedown WITHOUT index-sized IO: materialize a tombstone-only
    DELETES segment — a sorted docid list plus a type marker, no
    postings, no docs. Appended to a TieredEngine's segment list it
    removes the docs from every EARLIER segment exactly like a re-crawl
    override (live N/avgdl/df all drop — same tombstone machinery), so
    right-to-be-forgotten costs O(|batch|) like any crawl fold; the
    index-sized rewrite (plans/merge.py delete_docs) becomes the
    compaction-time path (``compact`` folds deletes segments in via
    delete_docs). Pure driver-side pyarrow; ``urls`` need ``spark`` for
    the one tiny xxhash64 job that derives docids the same way the
    build does. Written atomically (.building rename)."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    if (docids is None) == (urls is None):
        raise ValueError("pass exactly one of docids= or urls=")
    if urls is not None:
        if spark is None:
            raise ValueError("urls= needs spark= for docid derivation")
        from .operators.tokenize import with_docid

        rows = with_docid(
            spark.createDataFrame([(u,) for u in urls], "url string"),
            "url",
        ).select("docid").collect()
        docids = [r["docid"] for r in rows]
    if not docids:
        # a takedown with zero ids is ALWAYS caller error (a typo'd or
        # omitted CLI flag) — writing an empty segment and reporting
        # success would silently drop the request
        raise ValueError(
            "empty takedown set: pass at least one docid/url"
        )
    arr = np.unique(np.asarray(sorted(docids), dtype=np.int64))
    tmp = path + ".building"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(f"{tmp}/docids", exist_ok=True)
    pq.write_table(
        pa.table({"docid": pa.array(arr, pa.int64())}),
        f"{tmp}/docids/part-0.parquet",
    )
    import json

    with open(f"{tmp}/meta.json", "w") as f:
        json.dump({"type": "deletes", "n_docids": int(arr.size)}, f)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path


def _overridden_doc_stats(
    reader, doc_stats_dir: str, tombs: np.ndarray, salt_bits: int
) -> tuple[int, int]:
    """(count, total doc_len) of ``tombs`` docids present in a
    doc_stats table — directory-pruned per salt shard (the sorted array
    slices contiguously because salt is the top docid bits), then
    row-group-pruned by the segment engine's footer-cached ``reader``
    (pointread.PointReader). A legacy unpartitioned layout is read as
    one directory."""
    import os

    def read(path, ids):
        tbl = reader.lookup(path, "docid", ids, ["docid", "doc_len"])
        if tbl is None:
            return 0, 0
        return len(tbl), int(tbl.column("doc_len").to_numpy().sum())

    if not any(
        e.startswith("salt=") for e in os.listdir(doc_stats_dir)
    ):
        return read(doc_stats_dir, tombs.tolist())
    shift = 63 - salt_bits
    n_salts = 1 << salt_bits
    needles = np.array(
        [s << shift for s in range(n_salts)], dtype=np.int64
    )
    bounds = np.searchsorted(tombs, needles, "left")
    n_rm, len_rm = 0, 0
    for s in range(n_salts):
        lo = bounds[s]
        hi = bounds[s + 1] if s + 1 < n_salts else tombs.size
        if hi <= lo:
            continue
        c, tot = read(f"{doc_stats_dir}/salt={s}", tombs[lo:hi].tolist())
        n_rm += c
        len_rm += tot
    return n_rm, len_rm


class TieredEngine:
    def __init__(
        self,
        spark: SparkSession,
        index_dirs: list[str],
        cache_terms: int = 0,
    ):
        """``index_dirs`` oldest-first: [base, batch1, batch2, ...].
        Later segments override earlier ones per docid. Any entry may be
        a tombstone-only DELETES segment (``write_deletes_segment``):
        it contributes its docid set to every earlier segment's
        tombstones — a pure removal with batch-sized IO — but no
        postings or docs of its own. The first entry must be a full
        index segment."""
        import pyarrow.parquet as pq

        if not index_dirs:
            raise ValueError("need at least one index dir")
        self.spark = spark
        kinds = [
            "deletes" if is_deletes_segment(d) else "index"
            for d in index_dirs
        ]
        if kinds[0] == "deletes":
            raise ValueError(
                f"first segment {index_dirs[0]} is a deletes segment — "
                "there is nothing before it to delete from"
            )
        self.engines = [
            SearchEngine(spark, d, cache_terms=cache_terms)
            for d, k in zip(index_dirs, kinds)
            if k == "index"
        ]
        head = self.engines[0]
        for eng in self.engines[1:]:
            diffs = [
                k for k in _COMPAT_KEYS
                if getattr(eng, k) != getattr(head, k)
            ]
            if diffs:
                raise ValueError(
                    f"segment {eng.index_dir} config differs from "
                    f"{head.index_dir} on {diffs}"
                )

        # docid set per non-head unit position (crawl batches / deletes
        # lists — small by construction; the base's docids never load)
        unit_docids: dict[int, np.ndarray] = {}
        for j, (d, k) in enumerate(zip(index_dirs, kinds)):
            if k == "deletes":
                unit_docids[j] = read_deletes_docids(d)
            elif j > 0:
                unit_docids[j] = np.sort(
                    pq.read_table(f"{d}/docs", columns=["docid"])
                    .column("docid")
                    .to_numpy()
                )
        # tombstones (ENGINE-aligned, like self.engines): for the engine
        # at original position i, the sorted union of every later unit's
        # docids — a later index segment overrides, a later deletes
        # segment removes; the tombstone machinery is identical
        self.tombstones: list[np.ndarray] = []
        for i, k in enumerate(kinds):
            if k != "index":
                continue
            later = [unit_docids[j] for j in unit_docids if j > i]
            self.tombstones.append(
                np.unique(np.concatenate(later))
                if later
                else np.empty(0, dtype=np.int64)
            )

        # live corpus stats: combined minus overridden docs. The lookup
        # uses BOTH pruning levels of the doc_stats layout: the sorted
        # tombstone array slices contiguously per salt (top docid bits),
        # so only the touched salt DIRECTORIES are read, each with a
        # docid-in filter over its own slice — never an index-wide
        # metadata scan, and never one giant Python in-list.
        n_live, total_live, overridden = 0, 0, 0
        for i, eng in enumerate(self.engines):
            n_live += eng.n
            total_live += eng.total_length
            tombs = self.tombstones[i]
            if tombs.size:
                n_rm, len_rm = _overridden_doc_stats(
                    eng._reader, f"{eng.index_dir}/doc_stats", tombs,
                    eng.salt_bits,
                )
                n_live -= n_rm
                overridden += n_rm
                total_live -= len_rm
        self.n = n_live
        self.avgdl = total_live / n_live if n_live else 0.0
        self.total_length = total_live
        # number of docs actually overridden by later segments. 0 means
        # the segment set is APPEND-ONLY: no stale postings can exist
        # anywhere (a segment's postings docids are a subset of its doc
        # table), so live df == lexicon sums and the tombstone filters
        # are no-ops.
        self.overridden = overridden
        # the segment set the query path runs over (query.py)
        self.segments = list(zip(self.engines, self.tombstones))

    def analyze(self, query: str) -> list[str]:
        return self.engines[0].analyze(query)

    def expand_wildcard(
        self, pattern: str, cap: int | None = None
    ) -> list[tuple[str, int]]:
        """Tiered wildcard expansion: each segment's lexicon expands
        the pattern UNCAPPED (the forward/reversed range scan of
        engine.expand_wildcard — a per-segment cap-then-union would
        starve terms ranked below cap in every segment), stored dfs
        sum across segments, top-``cap`` by (df desc, term asc).

        Under tombstones/overrides the summed STORED df is only an
        UPPER bound on live df, so when the match set exceeds the cap
        the boundary is refined with suggest-style LIVE df: candidates
        decode in stored-df order (chunked — one batched lexicon +
        postings read per segment per chunk, the same IO a query on
        them would do) until the cap-th best live df seen strictly
        exceeds the next candidate's stored bound — no unseen term can
        then displace the selection (live <= stored). Expansion (terms,
        dfs AND order) is therefore IDENTICAL to the compacted index's
        (pytest), and fully-tombstoned terms drop. The refinement IO is
        bounded by the cap (+ boundary ties) and is postings the query
        on the expansion would read anyway; append-only segment lists
        (``overridden == 0``) skip it entirely: stored == live there."""
        cap = cap or SearchEngine.MAX_WILDCARD_EXPANSIONS
        agg: dict[str, int] = {}
        for eng in self.engines:
            for t, df in eng.expand_wildcard(pattern, cap=1 << 30):
                agg[t] = agg.get(t, 0) + int(df)
        ranked = sorted(agg.items(), key=lambda kv: (-kv[1], kv[0]))
        if self.overridden == 0:
            return ranked[:cap]
        by_live: list[tuple[str, int]] = []
        i, chunk = 0, 64
        while i < len(ranked):
            if len(by_live) >= cap:
                kth = sorted(
                    by_live, key=lambda kv: (-kv[1], kv[0])
                )[cap - 1][1]
                # strict >: a tied unseen candidate could still win the
                # (df desc, term asc) tie-break, so equal-bound
                # candidates keep decoding (bounded by the tie class)
                if kth > ranked[i][1]:
                    break
            names = [t for t, _ in ranked[i:i + chunk]]
            lp = query_path.live_df(self, names)
            by_live.extend((t, lp[t]) for t in names if lp[t] > 0)
            i += chunk
        return sorted(by_live, key=lambda kv: (-kv[1], kv[0]))[:cap]

    expand_query_terms = SearchEngine.expand_query_terms

    def _load_synonyms(self) -> dict[str, list[str]]:
        """Query-time synonym map over a segment list: the NEWEST
        segment carrying a ``synonyms.json`` wins (same delta-wins rule
        as every other tiered override); {} when none has one. Cached
        per TieredEngine instance."""
        if getattr(self, "_syn_map", None) is not None:
            return self._syn_map
        out: dict[str, list[str]] = {}
        for eng in reversed(self.engines):
            import os

            if os.path.isfile(f"{eng.index_dir}/synonyms.json"):
                out = eng._load_synonyms()
                break
        self._syn_map = out
        return out

    def search_local(
        self, query: str, k: int = 50, mode: str = "bm25", **opts
    ) -> list[tuple[int, float]]:
        """Driver-side top-k over the segment set (query.search_local,
        the same path a single index takes; ``opts``: semantics, fuzzy,
        negation, synonyms, boost), rank- and score-identical to the
        compacted index: live N/avgdl/df, tombstoned postings dropped
        at decode time, NOT docs before the top-k cut. ``fuzzy``
        corrects zero-LIVE-df terms (every segment needs its SymSpell
        layout — ``build_spellindex``); ``boost='static'`` serves only
        a set with one index segment."""
        return query_path.search_local(self, query, k, mode, **opts)

    search_phrase = SearchEngine.search_phrase
    search_mixed = SearchEngine.search_mixed
    facet_counts = SearchEngine.facet_counts

    # -- search-head features over segments (suggest/correct/fuzzy) -----
    def suggest(self, prefix: str, k: int = 10) -> list[tuple[str, int]]:
        """Tiered autocomplete: top-k LIVE-df terms with the prefix —
        rank-identical to ``suggest`` on the compacted index (pytest).

        Candidates come from each segment lexicon's footer-pruned
        range scan (UNCAPPED — per-segment top-k unions are wrong: a
        term ranked k+1 in every segment can still lead the summed
        ranking), stored df summed across segments. Append-only sets
        stop there: stored == live. With overrides, summed stored df
        is an UPPER BOUND on live df (tombstoning only removes), so
        candidates refine in stored-df order — decode a batch's live
        postings, re-rank, stop once the next candidate's upper bound
        is strictly below the current k-th live df (ties keep
        refining: equal df breaks by term asc). Between compactions
        the tombstoned fraction is small, so refinement typically
        touches ~k candidates; fully-tombstoned terms (live df 0)
        drop, exactly as the compacted lexicon drops them."""
        import re

        p = re.sub(r"[^a-z0-9]", "", (prefix or "").lower())
        if not p:
            raise EmptyQueryError("Empty query")
        stored: dict[str, int] = {}
        for eng in self.engines:
            for t, df in eng._term_range("term_stats", "term", p):
                stored[t] = stored.get(t, 0) + int(df)
        order = sorted(stored.items(), key=lambda td: (-td[1], td[0]))
        if not self.overridden:
            return order[:k]
        live: list[tuple[str, int]] = []
        i = 0
        while i < len(order):
            batch = [t for t, _ in order[i:i + max(k, 8)]]
            i += len(batch)
            lm = query_path.live_df(self, batch)
            live.extend((t, lm[t]) for t in batch if lm[t] > 0)
            live.sort(key=lambda td: (-td[1], td[0]))
            if (
                len(live) >= k
                and i < len(order)
                and order[i][1] < live[k - 1][1]
            ):
                break
        return live[:k]

    def build_spellindex(self, max_dist: int = 2) -> None:
        """Materialize the SymSpell layout under EVERY index segment
        (each a lexicon-sized job on that segment only) — new segments
        need their own after a fold; deletes segments carry none."""
        for eng in self.engines:
            eng.build_spellindex(max_dist=max_dist)

    def correct(
        self, term: str, k: int = 10
    ) -> list[tuple[str, int, int]]:
        """Tiered spell correction: [(term, dist, live df)] by
        (distance asc, live df desc, term asc) — identical to
        ``correct`` on the compacted index (pytest). Union of
        UNCAPPED per-segment SymSpell lookups (every segment needs
        its spell layout — ``build_spellindex``; a missing one raises
        the per-segment remedy), then the small candidate set re-ranks
        by exact live df; fully-tombstoned candidates drop, as the
        compacted layout would have dropped them at build time."""
        cand_dist: dict[str, int] = {}
        for eng in self.engines:
            for t, dist, _df in eng.correct(term, k=None):
                cand_dist[t] = dist  # same edit distance everywhere
        if not cand_dist:
            return []
        dfs = query_path.live_df(self, sorted(cand_dist))
        ranked = sorted(
            (
                (t, d, dfs.get(t, 0))
                for t, d in cand_dist.items()
                if dfs.get(t, 0) > 0
            ),
            key=lambda r: (r[1], -r[2], r[0]),
        )
        return ranked[:k]

    def fuzzy_terms(
        self, terms: list[str]
    ) -> tuple[list[str], dict[str, str]]:
        """Did-you-mean over segments: terms with LIVE df == 0 swap to
        their best tiered correction — so a term that only ever
        appeared in docs since deleted corrects exactly like a typo,
        which is what the compacted index would do. Same contract as
        SearchEngine.fuzzy_terms."""
        dfm = query_path.live_df(self, terms)
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

    def _candidate_postings(self, terms: list[str]):
        """Bucket-pruned candidate postings across all segments, with a
        ``seg`` column (segment index) for tombstone routing."""
        from functools import reduce

        from pyspark.sql import functions as F

        parts = [
            eng._postings(terms).withColumn("seg", F.lit(i))
            for i, eng in enumerate(self.engines)
        ]
        return reduce(lambda a, b: a.unionByName(b), parts)

    def _live_df_map(self, terms: list[str]) -> dict[str, int]:
        """Live df per term. An APPEND-ONLY segment set (overridden ==
        0: later segments share no docids with earlier ones) needs no
        decode at all — per-segment lexicon reads sum driver-side (no
        Spark job), so a distributed tiered query then costs exactly
        ONE job, like the single-index path. Otherwise the exact
        distributed live-df job runs."""
        if self.overridden:
            return self._live_df_distributed(terms)
        out: dict[str, int] = {}
        for eng in self.engines:
            for t, d in eng.term_df(terms).items():
                out[t] = out.get(t, 0) + int(d)
        return out

    def _live_df_distributed(self, terms: list[str]) -> dict[str, int]:
        """Phase 1 of the distributed tiered query: EXACT live df per
        query term, computed where the postings are — each task decodes
        its candidate lists' docids (only for segments that carry
        tombstones; tomb-free segments use the stored block counts) and
        subtracts stale hits. One job over the pruned candidate rows;
        output is <= |terms| tiny rows."""
        from pyspark.sql import functions as F

        cand = self._candidate_postings(terms).filter(
            F.col("term").isin(terms)
        )
        bc = self.spark.sparkContext.broadcast(list(self.tombstones))

        def kernel(batches):
            import pandas as pd

            from wiki_search_engine_spark.operators.codec import (
                decode_posting_list,
            )

            for pdf in batches:
                agg: dict[str, int] = {}
                for term, seg, blocks in zip(
                    pdf["term"], pdf["seg"], pdf["blocks"]
                ):
                    t = bc.value[int(seg)]
                    blks = [
                        b if isinstance(b, dict) else b.asDict()
                        for b in blocks
                    ]
                    if t.size == 0:
                        n_live = sum(int(b["count"]) for b in blks)
                    else:
                        from wiki_search_engine_spark.operators.codec import (
                            isin_sorted,
                        )

                        d, _tf, _dl = decode_posting_list(blks)
                        n_live = int((~isin_sorted(t, d)).sum())
                    agg[term] = agg.get(term, 0) + n_live
                yield pd.DataFrame(
                    {"term": list(agg), "df": list(agg.values())}
                )

        out: dict[str, int] = {}
        for r in (
            cand.select("term", "seg", "blocks")
            .mapInPandas(kernel, "term string, df long")
            .collect()
        ):
            out[r["term"]] = out.get(r["term"], 0) + int(r["df"])
        return out

    def _decoded_live_postings(self, terms: list[str]):
        """Flat LIVE (term, docid, tf, doc_len) rows across segments —
        candidate lists decoded WHERE THEY LIVE (bucket-pruned tasks),
        tombstoned postings dropped inside the kernel via the same
        broadcast the live-df job uses. Row count per term == live df,
        so downstream exhaustive scoring recomputes df correctly from
        the relation itself (§8.Q7)."""
        from pyspark.sql import functions as F

        cand = self._candidate_postings(terms).filter(
            F.col("term").isin(terms)
        )
        bc = self.spark.sparkContext.broadcast(list(self.tombstones))

        def kernel(batches):
            import pandas as pd

            from wiki_search_engine_spark.operators.codec import (
                decode_posting_list, isin_sorted,
            )

            empty = pd.DataFrame(
                {
                    "term": pd.Series([], dtype="string"),
                    "docid": pd.Series([], dtype="int64"),
                    "tf": pd.Series([], dtype="int32"),
                    "doc_len": pd.Series([], dtype="int32"),
                }
            )
            for pdf in batches:
                frames = []
                for term, seg, blocks in zip(
                    pdf["term"], pdf["seg"], pdf["blocks"]
                ):
                    d, tf, dl = decode_posting_list(
                        [
                            b if isinstance(b, dict) else b.asDict()
                            for b in blocks
                        ]
                    )
                    t = bc.value[int(seg)]
                    if t.size and d.size:
                        keep = ~isin_sorted(t, d)
                        d, tf, dl = d[keep], tf[keep], dl[keep]
                    if d.size:
                        frames.append(
                            pd.DataFrame(
                                {
                                    "term": term,
                                    "docid": d,
                                    "tf": tf,
                                    "doc_len": dl,
                                }
                            )
                        )
                yield pd.concat(frames) if frames else empty

        return cand.select("term", "seg", "blocks").mapInPandas(
            kernel, "term string, docid long, tf int, doc_len int"
        )

    def search_ids(
        self, query: str, k: int = 50, mode: str = "bm25",
        semantics: str = "or", negation: bool = False,
        synonyms: bool = False,
    ):
        """DISTRIBUTED tiered top-k — the cluster path for head terms
        whose candidate lists exceed driver memory. Two jobs: phase 1
        computes exact live df per term (above); phase 2 is the standard
        block-max shard kernel over the union of segment postings with
        tombstoned postings dropped at decode time
        (operators/wand.py search_topk tombstones_by_seg). Segments
        share the docid-range salt domain (enforced at load), so a salt
        shard holds every segment's postings for its range and per-shard
        top-k stays exact. Rank- and score-identical to the compacted
        index (pytest).

        ``semantics='and'`` (conjunctive) routes through the
        tombstone-aware decode + the Catalyst AND scorer
        (operators/scoring.py score_exhaustive): the intersection is
        the pruning, so block-max machinery has nothing to add —
        identical results to the tiered local path (pytest).

        ``negation=True``: Lucene NOT (-term) on the DISTRIBUTED path —
        the excluded docids (driver read of the excluded terms' LIVE
        postings, the same IO a positive query on them would do) ride
        the per-segment tombstone mask into the kernel, so excluded
        docs drop at decode time, before any top-k cut. Collection
        stats (N/avgdl/df of positive terms) are deliberately
        UNCHANGED — NOT narrows the candidate set, it does not shrink
        the corpus (unlike a deletes segment)."""
        c = query_path.parse(self, query, semantics, negation)
        query_path.check_flags(self, c, mode, semantics, synonyms)
        if c.empty:
            return self.spark.createDataFrame([], "docid long, score double")
        terms, required, excluded = c.terms, c.must, c.excluded
        t_should, t_must, t_not = c.t_should, c.t_must, c.t_not
        if c.fields:
            from pyspark.sql import functions as F

            from .operators.scoring import score_exhaustive

            def tag(ts):
                return [f"title:{t}" for t in ts]

            # tagged-relation form over LIVE data: the live title rows
            # are driver-decoded (bounded by the title dfs — the same
            # IO a title query pays) and shipped as a tiny DataFrame
            # unioned with the live posting decode
            trows = query_path.title_rows(self, t_should + t_must + t_not)
            title_rows = [
                (f"title:{t}", int(d), int(tf), int(dl))
                for t, (td, ttf, tdl) in trows.items()
                for d, tf, dl in zip(td, ttf, tdl)
            ]
            title_rel = self.spark.createDataFrame(
                title_rows,
                "term string, docid long, tf int, doc_len int",
            )
            read_bag = list(dict.fromkeys(terms + excluded))
            rel = (
                self._decoded_live_postings(read_bag).unionByName(
                    title_rel
                )
                if read_bag
                else title_rel
            )
            return score_exhaustive(
                rel,
                list(dict.fromkeys(terms + tag(t_should + t_must))),
                self.n,
                self.avgdl,
                k,
                mode,
                semantics="or",
                exclude_terms=(excluded + tag(t_not)) or None,
                required_terms=(required + tag(t_must)) or None,
            )
        syn = self._load_synonyms() if synonyms else {}
        if syn:
            from pyspark.sql import functions as F

            from .operators.scoring import score_synonyms

            # distributed tiered synonyms: group scoring over the LIVE
            # postings (tombstones dropped at decode) — same sidecar
            # rule as the tiered local path (newest segment wins), same
            # kernel as the single-index distributed path
            groups = [
                list(dict.fromkeys([t] + syn.get(t, [])))
                for t in dict.fromkeys(terms)
            ]
            need = sorted({g for grp in groups for g in grp})
            read = need + [
                t for t in dict.fromkeys(excluded) if t not in need
            ]
            flat = self._decoded_live_postings(read)
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
        tombs = self.tombstones
        exc = query_path.not_docids(self, excluded)
        if exc.size:
            tombs = [np.union1d(t, exc) if t.size else exc for t in tombs]
        if semantics == "and" or required:
            from .operators.scoring import score_exhaustive

            uniq = list(dict.fromkeys(terms))
            read = uniq + [
                t for t in dict.fromkeys(excluded) if t not in uniq
            ]
            return score_exhaustive(
                self._decoded_live_postings(read),
                uniq,
                self.n,
                self.avgdl,
                k,
                mode,
                semantics=semantics,
                exclude_terms=excluded or None,
                required_terms=(
                    required if semantics != "and" else None
                ) or None,
            )
        from .operators.wand import search_topk

        df_map = self._live_df_map(terms)
        return search_topk(
            self._candidate_postings(terms),
            terms,
            self.n,
            self.avgdl,
            k=k,
            mode=mode,
            df_map=df_map,
            n_shards=1 << self.engines[0].salt_bits,
            tombstones_by_seg=tombs,
            # sound block-max bounds: each segment's stored max_score
            # was computed at ITS OWN avgdl; scale up when the live
            # avgdl is larger (merge.py pass-through lemma)
            ub_scale_by_seg=[
                max(1.0, self.avgdl / eng.avgdl) if eng.avgdl else 1.0
                for eng in self.engines
            ],
        )

    def search_many(
        self, queries: list[str], k: int = 50, mode: str = "bm25"
    ):
        """Batched tiered top-k: ONE Spark job for all queries over the
        union of segment postings (plus the shared live-df job) —
        per-query rank-identical to the compacted index's search_many
        (pytest). The bulk-scoring form for training-data mining over a
        still-uncompacted index."""
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
        df_map = self._live_df_map(all_terms)
        return search_topk_many(
            self._candidate_postings(all_terms),
            qmap,
            self.n,
            self.avgdl,
            k=k,
            mode=mode,
            df_map=df_map,
            n_shards=1 << self.engines[0].salt_bits,
            tombstones_by_seg=self.tombstones,
            # sound block-max bounds: each segment's stored max_score
            # was computed at ITS OWN avgdl; scale up when the live
            # avgdl is larger (merge.py pass-through lemma)
            ub_scale_by_seg=[
                max(1.0, self.avgdl / eng.avgdl) if eng.avgdl else 1.0
                for eng in self.engines
            ],
        )

    def query_response(
        self, query: str, option_name: str = "tfidf", path: str = "local",
        **opts,
    ) -> dict:
        """The reference HTTP response over the segment set — the same
        query.query_response a single index serves, with the
        override-aware point lookup. ``path='local'`` (default) scores
        driver-side with zero Spark jobs; ``path='wand'`` routes to the
        DISTRIBUTED tiered path (search_ids) — the escape hatch when
        head-term candidate lists exceed driver memory. Results are
        identical between the two (pytest); any other path is rejected
        rather than silently downgraded."""
        if path not in ("local", "wand"):
            raise ValueError(
                f"unsupported tiered serving path {path!r}: use 'local' "
                "or 'wand'"
            )
        return query_path.query_response(
            self, query, option_name, path=path, **opts
        )

    def lookup_docs(
        self, docids: list[int], with_images: bool = True
    ) -> list[dict]:
        """Point-lookup hydration across segments, later segments
        winning per docid: a re-crawled doc hydrates from the overriding
        segment and a doc removed by a deletes segment from nowhere (the
        HTTP-path guarantee that a taken-down doc never resurfaces)."""
        return query_path.lookup_docs(self, docids, with_images)


def compact(
    spark: SparkSession,
    index_dirs: list[str],
    out_dir: str,
    work_dir: str | None = None,
) -> str:
    """Fold segments [base, batch1, ...] (oldest first) into one index
    at ``out_dir`` — the offline compaction policy behind TieredEngine.
    Pairwise left folds via plans/merge.py (delta wins per docid at each
    step == last segment wins overall, matching tiered override order);
    a DELETES segment folds in via plans/merge.py delete_docs — this is
    where the tombstone-only takedown finally pays its index-sized IO,
    amortized into the compaction that was happening anyway.
    Intermediate results live under ``work_dir`` (default: siblings of
    out_dir) and are removed on success."""
    import shutil

    from .plans.merge import delete_docs, merge_indexes

    if len(index_dirs) < 2:
        raise ValueError("compaction needs at least two segments")
    if is_deletes_segment(index_dirs[0]):
        raise ValueError("first segment cannot be a deletes segment")
    work_dir = work_dir or f"{out_dir}_work"
    cur = index_dirs[0]
    tmp_dirs = []
    for i, delta in enumerate(index_dirs[1:]):
        dst = (
            out_dir
            if i == len(index_dirs) - 2
            else f"{work_dir}/fold_{i}"
        )
        if is_deletes_segment(delta):
            delete_docs(
                spark, cur, dst,
                docids=[int(d) for d in read_deletes_docids(delta)],
            )
        else:
            merge_indexes(spark, cur, delta, dst)
        tmp_dirs.append(dst)
        cur = dst
    for d in tmp_dirs[:-1]:
        shutil.rmtree(d, ignore_errors=True)
    shutil.rmtree(work_dir, ignore_errors=True)
    return out_dir


def maintain_segments_incremental(
    spark: SparkSession,
    input_dir: str,
    segments_dir: str,
    checkpoint_dir: str,
    base_config: dict | None = None,
    compact_after: int = DEFAULT_COMPACT_AFTER,
    available_now: bool = True,
):
    """Streaming TIERED index maintenance — the batch-IO-proportional
    form of streaming/ingest.py maintain_index_incremental: every
    micro-batch of landed pages becomes its OWN segment index under
    ``segments_dir/seg_<epoch>`` (batch-sized IO, nothing rewritten);
    when the segment count exceeds ``compact_after`` the segments fold
    into a new base via ``compact`` and the folded segments retire.
    Serving reads ``list_segments(segments_dir)`` through TieredEngine
    at any point — before, during, or after compaction — and always
    sees the same logical corpus (pytest).

    ``base_config``: build knobs for new segments (n_buckets/salt_bits/
    stem/analyzer), defaulting to the existing base's meta; required for
    the first-ever segment."""
    import json
    import os
    import shutil

    from .engine import SearchEngine

    from .streaming.ingest import stream_corpus

    os.makedirs(segments_dir, exist_ok=True)

    def config() -> dict:
        # first FULL index segment defines the layout config (deletes
        # segments carry no build knobs)
        segs = [
            s for s in list_segments(segments_dir)
            if not is_deletes_segment(s)
        ]
        if segs:
            with open(f"{segs[0]}/meta.json") as f:
                m = json.load(f)
            return {
                "n_buckets": m["n_buckets"], "salt_bits": m["salt_bits"],
                "stem": m["stem"], "analyzer": m["analyzer"],
            }
        if base_config is None:
            raise ValueError(
                "no existing segments: pass base_config for the first "
                "segment build"
            )
        return dict(base_config)

    def process_batch(batch_df, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        # crash hygiene: in-progress artifacts from a previous attempt
        # of this (re-run) batch are fair game — never visible to
        # list_segments (see its filters), always safe to clear.
        # EXCEPT takedown temporaries ("_del" in the name): a CONCURRENT
        # add_deletes_to_segments may be mid-write in this directory and
        # deleting its .building dir would lose the right-to-be-
        # forgotten request; a genuinely crashed takedown's leftover is
        # tiny and invisible to serving, so sparing it is safe
        for e in os.listdir(segments_dir):
            if "_del" in e and ".building" in e:
                continue
            if (
                ".building" in e
                or e.startswith(".retired_")
                or e == ".compact_work"
            ):
                shutil.rmtree(
                    os.path.join(segments_dir, e), ignore_errors=True
                )
        cfg = config()
        stem = cfg.pop("stem", True)
        seg = f"{segments_dir}/seg_{batch_id:08d}"
        shutil.rmtree(seg, ignore_errors=True)
        tmp = seg + ".building"
        SearchEngine.build(
            spark, batch_df, tmp, stem=stem, bucket_groups=1, **cfg
        )
        os.rename(tmp, seg)  # segments appear atomically
        segs = list_segments(segments_dir)
        if len(segs) > compact_after:
            new_base = f"{segments_dir}/seg_{batch_id:08d}_compacted"
            # fold intermediates live OUTSIDE the seg_* namespace so a
            # concurrent list_segments never sees partial state
            compact(
                spark, segs, new_base + ".building",
                work_dir=f"{segments_dir}/.compact_work",
            )
            os.rename(new_base + ".building", new_base)
            # retire = atomic rename OUT of the listing namespace first,
            # then delete: a reader that lists after any rename sees a
            # consistent set (old complete or new complete); only a
            # reader holding a pre-rename listing can race the delete
            # (on object storage this whole block is a pointer flip)
            for i, d in enumerate(segs):
                r = f"{segments_dir}/.retired_{batch_id:08d}_{i}"
                os.rename(d, r)
                shutil.rmtree(r, ignore_errors=True)

    writer = (
        stream_corpus(spark, input_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def add_deletes_to_segments(
    segments_dir: str,
    docids: list[int] | None = None,
    urls: list[str] | None = None,
    spark: SparkSession | None = None,
) -> str:
    """Register a takedown in a MAINTAINED segments directory
    (maintain_segments_incremental): writes a deletes segment named to
    sort after every existing segment, so ``list_segments`` orders it
    last — TieredEngine then removes the docs from every current
    segment, and the next auto-compaction folds the deletion in via
    delete_docs. O(|docids|) IO at call time."""
    import os

    segs = list_segments(segments_dir)
    if not segs:
        raise ValueError(
            f"{segments_dir} has no segments — nothing to delete from"
        )
    base = os.path.basename(segs[-1])
    k = 0
    while os.path.exists(os.path.join(segments_dir, f"{base}_del{k}")):
        k += 1
    return write_deletes_segment(
        os.path.join(segments_dir, f"{base}_del{k}"),
        docids=docids, urls=urls, spark=spark,
    )


def list_segments(segments_dir: str) -> list[str]:
    """Live segments oldest-first (completed ``seg_*`` dirs only; a
    ``*_compacted`` base sorts before the batches that followed it
    because it carries its fold batch's id). Anything carrying a
    ``.building`` marker anywhere in its name (in-progress builds,
    compaction outputs, and their work dirs) and ``.retired_*`` dirs
    are invisible."""
    import os

    return [
        os.path.join(segments_dir, e)
        for e in sorted(os.listdir(segments_dir))
        if e.startswith("seg_") and ".building" not in e
    ]
