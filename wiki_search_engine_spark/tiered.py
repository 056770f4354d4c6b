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
- df per query term: counted from the LIVE postings — the candidate
  lists are decoded anyway to score, so tombstoned postings are both
  excluded from scoring and subtracted from df before idf is computed
  (two passes over arrays already in memory, not extra IO).

Two serving paths, both exact:

- ``search_local`` — driver-side (pyarrow bucket reads via each
  segment's hot-term cache, NumPy scoring), exhaustive over the query's
  candidate lists: the search-head mode;
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

from . import B, K1
from .engine import SearchEngine
from .oracle_py.oracle import bm25_idf, tfidf_idf

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

    def analyze(self, query: str) -> list[str]:
        return self.engines[0].analyze(query)

    def _live_term_postings_many(
        self, terms: list[str]
    ) -> dict[str, tuple[int, list]]:
        """Decoded LIVE postings per term across segments:
        term -> (live df, [(docids, tfs, doclens), ...]), tombstoned
        entries removed. Live df == total rows (one posting per doc;
        segments are docid-disjoint after tombstoning). ALL terms load
        through one ``_cached_term_lists`` call per segment — one
        lexicon read and one bucket-grouped postings read each, not one
        per term."""
        from .operators.codec import decode_posting_list

        out: dict[str, tuple[int, list]] = {t: (0, []) for t in terms}
        for i, eng in enumerate(self.engines):
            lists = eng._cached_term_lists(terms)
            tombs = self.tombstones[i]
            for t in terms:
                dfi, salted = lists[t]
                if dfi <= 0:
                    continue
                df, parts = out[t]
                for _salt, blocks in salted:
                    d, tf, dl = decode_posting_list(
                        [
                            b if isinstance(b, dict) else b.asDict()
                            for b in blocks
                        ]
                    )
                    if tombs.size and d.size:
                        from .operators.codec import isin_sorted

                        keep = ~isin_sorted(tombs, d)
                        d, tf, dl = d[keep], tf[keep], dl[keep]
                    if d.size:
                        parts.append((d, tf, dl))
                        df += int(d.size)
                out[t] = (df, parts)
        return out

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
        from .engine import SearchEngine

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
            lp = self._live_term_postings_many(names)
            by_live.extend(
                (t, lp[t][0]) for t in names if lp[t][0] > 0
            )
            i += chunk
        return sorted(by_live, key=lambda kv: (-kv[1], kv[0]))[:cap]

    def expand_query_terms(self, query: str) -> list[str]:
        """Wildcard-aware tiered query analysis — the segment-list
        twin of SearchEngine.expand_query_terms (same token split,
        same skip-on-unanchored contract)."""
        from .engine import EmptyQueryError

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

    def _search_local_synonyms(
        self, terms: list[str], k: int, mode: str,
        excluded: list[str] | None = None,
    ) -> list[tuple[int, float]]:
        """Tiered SynonymQuery scoring: per query term, the group's
        LIVE postings (tombstone-subtracted, newest-segment-wins)
        merge into one pseudo-term — per-doc tf summed across members
        AND segments, df = live docs containing any member. Scores use
        the live n/avgdl, so results equal the compacted index's
        synonym path (pytest)."""
        syn = self._load_synonyms()
        groups = [
            list(dict.fromkeys([t] + syn.get(t, [])))
            for t in dict.fromkeys(terms)
        ]
        need = sorted({g for grp in groups for g in grp})
        live = self._live_term_postings_many(need)
        all_d, all_s = [], []
        for grp in groups:
            ds, tfs, dls = [], [], []
            for g in grp:
                df, parts = live.get(g, (0, []))
                if not df:
                    continue
                for d, tf, dl in parts:
                    ds.append(d)
                    tfs.append(tf)
                    dls.append(dl)
            if not ds:
                continue
            d = np.concatenate(ds)
            tf = np.concatenate(tfs).astype(np.float64)
            dl = np.concatenate(dls).astype(np.float64)
            uniq, inv = np.unique(d, return_inverse=True)
            tf_sum = np.zeros(uniq.size)
            np.add.at(tf_sum, inv, tf)
            dl_u = np.zeros(uniq.size)
            dl_u[inv] = dl
            df_g = int(uniq.size)
            idf = (
                bm25_idf(self.n, df_g)
                if mode == "bm25"
                else tfidf_idf(self.n, df_g)
            )
            if mode == "bm25":
                s = idf * tf_sum * (K1 + 1.0) / (
                    tf_sum + K1 * (1.0 - B + B * dl_u / self.avgdl)
                )
            else:
                s = tf_sum * idf
            all_d.append(uniq)
            all_s.append(s)
        if not all_d:
            return []
        d = np.concatenate(all_d)
        s = np.concatenate(all_s)
        uniq, inv = np.unique(d, return_inverse=True)
        scores = np.zeros(uniq.size)
        np.add.at(scores, inv, s)
        if excluded:
            live_exc = self._live_term_postings_many(
                list(dict.fromkeys(excluded))
            )
            exc_parts = [
                dd
                for _t, (df, parts) in live_exc.items()
                if df
                for dd, _tf, _dl in parts
            ]
            if exc_parts:
                exc = np.unique(np.concatenate(exc_parts))
                keep = ~np.isin(uniq, exc)
                uniq, scores = uniq[keep], scores[keep]
        idx = np.lexsort((uniq, -scores))[: min(k, uniq.size)]
        return [(int(uniq[i]), float(scores[i])) for i in idx]

    def search_local(
        self, query: str, k: int = 50, mode: str = "bm25",
        semantics: str = "or", fuzzy: bool = False,
        negation: bool = False, synonyms: bool = False,
    ) -> list[tuple[int, float]]:
        """Driver-side tiered top-k, rank- and score-identical to the
        compacted index (exact live df/N/avgdl — see module doc).
        ``semantics='and'``: conjunctive retrieval — only docs whose
        LIVE postings contain every query term. ``fuzzy``: did-you-mean
        over segments — zero-LIVE-df terms swap to their best tiered
        correction first (``fuzzy_terms``; every segment needs its
        SymSpell layout — ``build_spellindex``). ``negation``:
        Lucene-style ``-term`` NOT parsing (opt-in, engine.py
        split_negations contract); docs whose LIVE postings contain any
        excluded term drop BEFORE the top-k cut — tombstoned docs never
        contribute to the NOT set any more than to scores."""
        excluded: list[str] = []
        required: list[str] = []
        t_should: list[str] = []
        t_must: list[str] = []
        t_not: list[str] = []
        if negation:
            from .engine import EmptyQueryError
            from .functions.analyzer import split_boolean

            should_q, must_q, neg_q = split_boolean(query)
            if "title:" in (query or "").lower():
                # same field parse as the single-index engine (the
                # helper only needs self.analyze)
                from .engine import SearchEngine

                (
                    should_q, must_q, neg_q,
                    t_should, t_must, t_not, f_contra,
                ) = SearchEngine._parse_field_clauses(
                    self, should_q, must_q, neg_q
                )
                if f_contra:
                    return []
            if neg_q.strip():
                try:
                    excluded = self.analyze(neg_q)
                except EmptyQueryError:
                    excluded = []
            if must_q.strip():
                try:
                    required = self.analyze(must_q)
                except EmptyQueryError:
                    required = []
            query = f"{should_q} {must_q}".strip()
            if not query and not (t_should or t_must):
                return []
        has_fields = bool(t_should or t_must or t_not)
        if not (query or "").strip():
            if not has_fields:
                self.analyze(query)  # blank query raises (400 body)
            terms = []
        else:
            terms = (
                # wildcards expand over the union of segment lexicons
                self.expand_query_terms(query)
                if "*" in (query or "")
                else self.analyze(query)
            )
        if (not terms and not has_fields) or not self.n:
            return []
        if fuzzy:
            terms, _ = self.fuzzy_terms(terms)
        from .functions.analyzer import resolve_boolean_overlap

        terms, contradiction = resolve_boolean_overlap(
            terms,
            terms if semantics == "and" else required,
            excluded,
        )
        if contradiction or (not terms and not has_fields):
            return []  # +t -t contradiction, or nothing positive left
        required = [t for t in required if t in terms]
        if has_fields:
            if semantics == "and" or synonyms or mode == "bm25f" or fuzzy:
                raise ValueError(
                    "field-scoped terms (title:) compose with OR and "
                    "+/- only — not with semantics=and, synonyms, "
                    "bm25f, or fuzzy"
                )
            return self._search_local_fielded(
                terms, required, t_should, t_must, t_not, excluded,
                k, mode,
            )
        if synonyms and self._load_synonyms():
            if semantics == "and" or required:
                raise ValueError(
                    "synonyms compose with OR/SHOULD semantics only "
                    "(a synonym group IS a disjunction)"
                )
            if mode == "bm25f":
                raise ValueError(
                    "bm25f does not compose with synonym groups yet — "
                    "pick one of mode=bm25f / synonyms=true"
                )
            return self._search_local_synonyms(
                terms, k, mode, excluded=excluded or None
            )
        if mode == "bm25f":
            if semantics == "and" or required:
                raise ValueError(
                    "bm25f serves OR/SHOULD semantics (title-boosted "
                    "accumulation); AND/MUST composition is not "
                    "supported"
                )
            return self._search_local_bm25f(
                terms, k, excluded=excluded or None
            )
        all_d, all_s = [], []
        and_common = None
        # terms gating membership: every term under AND, the +terms
        # under MUST, none under plain OR
        req = (
            set(terms) if semantics == "and" else set(required)
        )
        live = self._live_term_postings_many(list(dict.fromkeys(terms)))
        for t in dict.fromkeys(terms):
            df, parts = live[t]
            if not df:
                if t in req:
                    return []  # an absent required term empties MUST
                continue
            idf = (
                bm25_idf(self.n, df)
                if mode == "bm25"
                else tfidf_idf(self.n, df)
            )
            term_d = []
            for d, tf, dl in parts:
                tfd = tf.astype(np.float64)
                if mode == "bm25":
                    s = idf * tfd * (K1 + 1.0) / (
                        tfd
                        + K1
                        * (1.0 - B + B * dl.astype(np.float64) / self.avgdl)
                    )
                else:
                    s = tfd * idf
                all_d.append(d)
                all_s.append(s)
                term_d.append(d)
            if t in req:
                td = np.concatenate(term_d)
                and_common = (
                    td
                    if and_common is None
                    else and_common[
                        np.isin(and_common, td, assume_unique=True)
                    ]
                )
                if and_common.size == 0:
                    return []
        if not all_d:
            return []
        d = np.concatenate(all_d)
        s = np.concatenate(all_s)
        uniq, inv = np.unique(d, return_inverse=True)
        acc = np.zeros(uniq.size, dtype=np.float64)
        np.add.at(acc, inv, s)
        if req and and_common is not None:
            keep = np.isin(uniq, and_common, assume_unique=True)
            uniq, acc = uniq[keep], acc[keep]
        if excluded:
            live_exc = self._live_term_postings_many(
                list(dict.fromkeys(excluded))
            )
            exc_parts = [
                d
                for _t, (df, parts) in live_exc.items()
                if df
                for d, _tf, _dl in parts
            ]
            if exc_parts:
                exc = np.unique(np.concatenate(exc_parts))
                keep = ~np.isin(uniq, exc)
                uniq, acc = uniq[keep], acc[keep]
                if uniq.size == 0:
                    return []
        idx = np.lexsort((uniq, -acc))[: min(k, uniq.size)]
        return [(int(uniq[i]), float(acc[i])) for i in idx]

    def _search_local_fielded(
        self, bag_terms: list[str], bag_required: list[str],
        t_should: list[str], t_must: list[str], t_not: list[str],
        bag_excluded: list[str], k: int, mode: str,
    ) -> list[tuple[int, float]]:
        """Tiered Lucene field scoping (``title:term`` /
        ``+title:term`` / ``-title:term``): bag clauses score on the
        LIVE postings with live df, title clauses on the LIVE title
        sidecar rows (tf = title occurrences, df = live title row
        count, dl = body length) — identical to the compacted index's
        fielded results (pytest)."""
        from .oracle_py.oracle import bm25_idf, tfidf_idf

        def _score(tf, dl, df):
            idf = (
                bm25_idf(self.n, df)
                if mode == "bm25"
                else tfidf_idf(self.n, df)
            )
            if mode == "bm25":
                return (
                    idf * tf * (K1 + 1.0)
                    / (tf + K1 * (1.0 - B + B * dl / self.avgdl))
                )
            return tf * idf

        live = self._live_term_postings_many(
            list(dict.fromkeys(bag_terms + bag_excluded))
        )
        trows = self._live_title_rows(
            list(dict.fromkeys(t_should + t_must + t_not))
        )
        all_d, all_s, req_sets = [], [], []
        for t in dict.fromkeys(bag_terms):
            df, parts = live.get(t, (0, []))
            if not df:
                if t in bag_required:
                    return []
                continue
            d = np.concatenate([p[0] for p in parts])
            tf = np.concatenate([p[1] for p in parts]).astype(
                np.float64
            )
            dl = np.concatenate([p[2] for p in parts]).astype(
                np.float64
            )
            all_d.append(d)
            all_s.append(_score(tf, dl, df))
            if t in bag_required:
                req_sets.append(np.unique(d))
        for t in dict.fromkeys(t_should + t_must):
            td, ttf, tdl = trows[t]
            if not td.size:
                if t in t_must:
                    return []
                continue
            all_d.append(td)
            all_s.append(_score(ttf, tdl, int(td.size)))
            if t in t_must:
                req_sets.append(td)
        if not all_d:
            return []
        d = np.concatenate(all_d)
        s = np.concatenate(all_s)
        uniq, inv = np.unique(d, return_inverse=True)
        acc = np.zeros(uniq.size, dtype=np.float64)
        np.add.at(acc, inv, s)
        for rs in req_sets:
            keep = np.isin(uniq, rs)
            uniq, acc = uniq[keep], acc[keep]
            if not uniq.size:
                return []
        exc_arrays = [
            dd
            for t in dict.fromkeys(bag_excluded)
            for dd, _tf, _dl in live.get(t, (0, []))[1]
        ]
        for t in dict.fromkeys(t_not):
            td, _ttf, _tdl = trows[t]
            if td.size:
                exc_arrays.append(td)
        if exc_arrays:
            exc = np.unique(np.concatenate(exc_arrays))
            keep = ~np.isin(uniq, exc)
            uniq, acc = uniq[keep], acc[keep]
        idx = np.lexsort((uniq, -acc))[: min(k, uniq.size)]
        return [(int(uniq[i]), float(acc[i])) for i in idx]

    def _live_title_rows(self, terms: list[str]) -> dict:
        """term -> (docids, title_tfs, body_doc_lens) LIVE across
        segments: each segment's title_tf sidecar rows for the query
        terms (bucket-pruned pyarrow read, cached per segment engine)
        minus that segment's tombstones — newest-segment-wins exactly
        like postings. Segments missing the sidecar (pre-BM25F builds)
        contribute nothing; raises only when NO segment carries it."""
        import os

        from .operators.codec import isin_sorted

        uniq_terms = list(dict.fromkeys(terms))
        parts: dict[str, list] = {t: [] for t in uniq_terms}
        any_sidecar = False
        for i, eng in enumerate(self.engines):
            if not os.path.isdir(f"{eng.index_dir}/title_tf"):
                continue
            any_sidecar = True
            tombs = self.tombstones[i]
            for t, (td, ttf, tdl) in eng._title_rows(
                uniq_terms
            ).items():
                if tombs is not None and tombs.size and td.size:
                    keep = ~isin_sorted(tombs, td)
                    td, ttf, tdl = td[keep], ttf[keep], tdl[keep]
                if td.size:
                    parts[t].append((td, ttf, tdl))
        if not any_sidecar:
            raise FileNotFoundError(
                "no segment carries the title_tf sidecar — BM25F needs "
                "it; run `titleindex` on the segments (new builds write "
                "it automatically)"
            )
        empty = (
            np.empty(0, np.int64),
            np.empty(0, np.float64),
            np.empty(0, np.float64),
        )
        out: dict = {}
        for t, ps in parts.items():
            if not ps:
                out[t] = empty
                continue
            td = np.concatenate([p[0] for p in ps])
            ttf = np.concatenate([p[1] for p in ps]).astype(np.float64)
            tdl = np.concatenate([p[2] for p in ps]).astype(np.float64)
            order = np.argsort(td, kind="stable")
            out[t] = (td[order], ttf[order], tdl[order])
        return out

    def _search_local_bm25f(
        self, terms: list[str], k: int,
        excluded: list[str] | None = None,
        title_weight: float | None = None,
    ) -> list[tuple[int, float]]:
        """Tiered BM25F: live body postings merge with live title
        sidecar rows per term — the same tf' = tf + (w-1)*tf_title
        kernel as SearchEngine._search_local_bm25f, against the LIVE
        n/avgdl, so results equal a compacted delete-rebuild's bm25f
        (pytest)."""
        from .engine import SearchEngine

        w = (
            SearchEngine.DEFAULT_TITLE_WEIGHT
            if title_weight is None
            else float(title_weight)
        )
        uniq_terms = list(dict.fromkeys(terms))
        live = self._live_term_postings_many(uniq_terms)
        trows = self._live_title_rows(uniq_terms)
        all_d, all_s = [], []
        for t in uniq_terms:
            _df, parts = live.get(t, (0, []))
            if parts:
                d = np.concatenate([p[0] for p in parts])
                tf = np.concatenate(
                    [p[1] for p in parts]
                ).astype(np.float64)
                dl = np.concatenate(
                    [p[2] for p in parts]
                ).astype(np.float64)
                order = np.argsort(d, kind="stable")
                d, tf, dl = d[order], tf[order], dl[order]
            else:
                d = np.empty(0, np.int64)
                tf = dl = np.empty(0, np.float64)
            td, ttf, tdl = trows[t]
            if w != 1.0 and td.size:
                pos = np.searchsorted(d, td)
                safe = np.minimum(pos, max(d.size - 1, 0))
                in_body = (
                    (pos < d.size) & (d[safe] == td)
                    if d.size
                    else np.zeros(td.size, bool)
                )
                tf = tf.copy()
                tf[pos[in_body]] += (w - 1.0) * ttf[in_body]
                d = np.concatenate([d, td[~in_body]])
                tf = np.concatenate([tf, (w - 1.0) * ttf[~in_body]])
                dl = np.concatenate([dl, tdl[~in_body]])
            keep = tf > 0
            d, tf, dl = d[keep], tf[keep], dl[keep]
            if not d.size:
                continue
            idf = bm25_idf(self.n, int(d.size))
            s = (
                idf * tf * (K1 + 1.0)
                / (tf + K1 * (1.0 - B + B * dl / self.avgdl))
            )
            all_d.append(d)
            all_s.append(s)
        if not all_d:
            return []
        d = np.concatenate(all_d)
        s = np.concatenate(all_s)
        uniq, inv = np.unique(d, return_inverse=True)
        acc = np.zeros(uniq.size, dtype=np.float64)
        np.add.at(acc, inv, s)
        if excluded:
            live_exc = self._live_term_postings_many(
                list(dict.fromkeys(excluded))
            )
            exc_parts = [
                dd
                for _t, (df, ps) in live_exc.items()
                if df
                for dd, _tf, _dl in ps
            ]
            if exc_parts:
                exc = np.unique(np.concatenate(exc_parts))
                kp = ~np.isin(uniq, exc)
                uniq, acc = uniq[kp], acc[kp]
                if uniq.size == 0:
                    return []
        idx = np.lexsort((uniq, -acc))[: min(k, uniq.size)]
        return [(int(uniq[i]), float(acc[i])) for i in idx]

    def search_phrase(
        self, phrase: str, k: int = 50, slop: int = 0
    ) -> list[tuple[int, float, int]]:
        """Tiered exact-phrase (or ``slop`` proximity) top-k: each
        index segment's positional sidecar produces its matches
        (SearchEngine._phrase_matches — every segment must be built
        with positions=True), each segment's tombstones drop
        overridden/deleted docs (segments are docid-disjoint after
        tombstoning, so surviving matches concatenate), and the
        pseudo-term scores against the LIVE N/avgdl — score-identical
        to phrase search on the compacted index (pytest)."""
        import math

        from .operators.codec import isin_sorted

        per_doc: list[tuple[int, int, int]] = []
        for i, eng in enumerate(self.engines):
            m = eng._phrase_matches(phrase, slop=slop)
            if m is None:
                continue
            docs, dls, tfs = m
            tombs = self.tombstones[i]
            if tombs.size and docs.size:
                keep = ~isin_sorted(tombs, docs)
                docs, dls, tfs = docs[keep], dls[keep], tfs[keep]
            per_doc.extend(
                zip(docs.tolist(), dls.tolist(), tfs.tolist())
            )
        if not per_doc or not self.n:
            return []
        dfm = len(per_doc)
        idf = math.log((self.n - dfm + 0.5) / (dfm + 0.5) + 1.0)
        scored = [
            (
                int(d),
                idf * tf * (K1 + 1.0)
                / (tf + K1 * (1.0 - B + B * dl / self.avgdl)),
                int(tf),
            )
            for d, dl, tf in per_doc
        ]
        scored.sort(key=lambda r: (-r[1], r[0]))
        return scored[:k]

    def search_mixed(
        self, query: str, k: int = 50, mode: str = "bm25"
    ) -> list[tuple[int, float]]:
        """Mixed quoted-phrase query over tiered serving: quoted spans
        filter conjunctively and score as pseudo-terms (tombstone-aware
        sidecar matches, live stats); bag terms add their LIVE
        contributions without expanding the candidate set. A quote-free
        query delegates to search_local."""
        import math

        from .operators.codec import isin_sorted
        from .operators.phrase import parse_query

        bag_text, phrases = parse_query(query)
        if not phrases:
            return self.search_local(query, k=k, mode=mode)
        cand_map: dict[int, tuple[int, float]] = {}
        for pi, (ptext, pslop) in enumerate(phrases):
            per_doc: dict[int, tuple[int, int]] = {}
            for i, eng in enumerate(self.engines):
                m = eng._phrase_matches(ptext, slop=pslop)
                if m is None:
                    continue
                docs, dls, tfs = m
                tombs = self.tombstones[i]
                if tombs.size and docs.size:
                    keep = ~isin_sorted(tombs, docs)
                    docs, dls, tfs = docs[keep], dls[keep], tfs[keep]
                for d, dl, tf in zip(
                    docs.tolist(), dls.tolist(), tfs.tolist()
                ):
                    per_doc[int(d)] = (int(dl), int(tf))
            if not per_doc:
                return []
            dfm = len(per_doc)
            idf = (
                math.log((self.n - dfm + 0.5) / (dfm + 0.5) + 1.0)
                if mode == "bm25"
                else math.log(self.n / dfm)
            )

            def pscore(tf, dl):
                if mode == "bm25":
                    return idf * tf * (K1 + 1.0) / (
                        tf + K1 * (1.0 - B + B * dl / self.avgdl)
                    )
                return tf * idf

            if pi == 0:
                cand_map = {
                    d: (dl, pscore(tf, dl))
                    for d, (dl, tf) in per_doc.items()
                }
            else:
                cand_map = {
                    d: (dl, acc + pscore(per_doc[d][1], per_doc[d][0]))
                    for d, (dl, acc) in cand_map.items()
                    if d in per_doc
                }
            if not cand_map:
                return []
        bag_terms = self.analyze(bag_text) if bag_text else []
        scores = {d: acc for d, (_dl, acc) in cand_map.items()}
        if bag_terms:
            live = self._live_term_postings_many(
                list(dict.fromkeys(bag_terms))
            )
            cand_arr = np.array(sorted(scores), dtype=np.int64)
            for t in dict.fromkeys(bag_terms):
                df, parts = live[t]
                if not df:
                    continue
                idf = (
                    bm25_idf(self.n, df)
                    if mode == "bm25"
                    else tfidf_idf(self.n, df)
                )
                for d, tf, dl in parts:
                    sel = isin_sorted(cand_arr, d)
                    if not sel.any():
                        continue
                    tfd = tf[sel].astype(np.float64)
                    if mode == "bm25":
                        c = idf * tfd * (K1 + 1.0) / (
                            tfd
                            + K1
                            * (
                                1.0 - B
                                + B * dl[sel].astype(np.float64)
                                / self.avgdl
                            )
                        )
                    else:
                        c = tfd * idf
                    for doc, add in zip(d[sel].tolist(), c.tolist()):
                        scores[int(doc)] += float(add)
        ranked = sorted(scores.items(), key=lambda r: (-r[1], r[0]))
        return [(d, s) for d, s in ranked[:k]]

    # -- search-head features over segments (suggest/correct/fuzzy) -----
    def _live_df_driver(self, terms: list[str]) -> dict[str, int]:
        """EXACT live df per term with zero Spark jobs: an append-only
        segment set (overridden == 0) sums per-segment lexicon point
        lookups; otherwise the candidate posting lists decode
        driver-side (bucket-pruned pyarrow reads) and tombstoned
        entries subtract — the same machinery search_local scores
        with, reused for df alone."""
        terms = list(dict.fromkeys(terms))
        if not terms:
            return {}
        if not self.overridden:
            out: dict[str, int] = {}
            for eng in self.engines:
                for t, d in eng.term_df(terms).items():
                    out[t] = out.get(t, 0) + int(d)
            return out
        live = self._live_term_postings_many(terms)
        return {t: df for t, (df, _parts) in live.items()}

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

        from .engine import EmptyQueryError

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
            lm = self._live_term_postings_many(batch)
            live.extend(
                (t, lm[t][0]) for t in batch if lm[t][0] > 0
            )
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
        dfs = self._live_df_driver(sorted(cand_dist))
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
        dfm = self._live_df_driver(terms)
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
        excluded: list[str] = []
        required: list[str] = []
        t_should: list[str] = []
        t_must: list[str] = []
        t_not: list[str] = []
        if negation:
            from .engine import EmptyQueryError
            from .functions.analyzer import split_boolean

            should_q, must_q, neg_q = split_boolean(query)
            if "title:" in (query or "").lower():
                from .engine import SearchEngine

                (
                    should_q, must_q, neg_q,
                    t_should, t_must, t_not, f_contra,
                ) = SearchEngine._parse_field_clauses(
                    self, should_q, must_q, neg_q
                )
                if f_contra:
                    return self.spark.createDataFrame(
                        [], "docid long, score double"
                    )
            if neg_q.strip():
                try:
                    excluded = self.analyze(neg_q)
                except EmptyQueryError:
                    excluded = []
            if must_q.strip():
                try:
                    required = self.analyze(must_q)
                except EmptyQueryError:
                    required = []
            query = f"{should_q} {must_q}".strip()
            if not query and not (t_should or t_must):
                return self.spark.createDataFrame(
                    [], "docid long, score double"
                )
        has_fields = bool(t_should or t_must or t_not)
        if not (query or "").strip():
            if not has_fields:
                self.analyze(query)  # blank query raises (400 body)
            terms = []
        else:
            terms = (
                self.expand_query_terms(query)
                if "*" in (query or "")
                else self.analyze(query)
            )
        if not terms and not has_fields:
            return self.spark.createDataFrame(
                [], "docid long, score double"
            )
        from .functions.analyzer import resolve_boolean_overlap

        terms, contradiction = resolve_boolean_overlap(
            terms,
            terms if semantics == "and" else required,
            excluded,
        )
        if contradiction or (not terms and not has_fields):
            return self.spark.createDataFrame(
                [], "docid long, score double"
            )
        required = [t for t in required if t in terms]
        if has_fields:
            if semantics == "and" or synonyms or mode == "bm25f":
                raise ValueError(
                    "field-scoped terms (title:) compose with OR and "
                    "+/- only — not with semantics=and, synonyms, or "
                    "bm25f"
                )
            from pyspark.sql import functions as F

            from .operators.scoring import score_exhaustive

            def tag(ts):
                return [f"title:{t}" for t in ts]

            # tagged-relation form over LIVE data: the live title rows
            # are driver-decoded (bounded by the title dfs — the same
            # IO a title query pays) and shipped as a tiny DataFrame
            # unioned with the live posting decode
            trows = self._live_title_rows(
                list(dict.fromkeys(t_should + t_must + t_not))
            )
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
            if semantics == "and" or required:
                raise ValueError(
                    "synonyms compose with OR/SHOULD semantics only "
                    "(a synonym group IS a disjunction)"
                )
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
        if excluded:
            live_exc = self._live_term_postings_many(
                list(dict.fromkeys(excluded))
            )
            exc_parts = [
                d
                for _t, (df, parts) in live_exc.items()
                if df
                for d, _tf, _dl in parts
            ]
            if exc_parts:
                exc = np.unique(np.concatenate(exc_parts))
                tombs = [
                    np.union1d(t, exc) if t is not None and t.size
                    else exc
                    for t in self.tombstones
                ]
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
        from .engine import EmptyQueryError
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
        self, query: str, option_name: str = "tfidf", k: int = 50,
        path: str = "local", semantics: str = "or",
        page: int | None = None, per_page: int = 10,
        phrase: bool = False, fuzzy: bool = False,
        highlight: bool = False, negation: bool = False,
        synonyms: bool = False, facets: str | None = None,
        facet_top: int = 100,
    ) -> dict:
        """The reference HTTP response shape over tiered serving — the
        shared assembler (engine.py assemble_reference_response) with
        the override-aware point lookup. ``path='local'`` (default)
        scores driver-side with zero Spark jobs; ``path='wand'`` routes
        to the DISTRIBUTED tiered path (search_ids — the block-max
        kernel for OR, the tombstone-aware exhaustive scorer for AND) —
        the operator's escape hatch when head-term candidate lists
        exceed driver memory. Results are identical between the two
        (pytest); any other path is rejected rather than silently
        downgraded."""
        from .engine import assemble_reference_response

        if path not in ("local", "wand"):
            raise ValueError(
                f"unsupported tiered serving path {path!r}: use 'local' "
                "or 'wand'"
            )

        import os as _os

        # same quoted-span auto-routing as SearchEngine: mixed phrase
        # semantics when EVERY segment carries the positional sidecar
        mixed = '"' in (query or "") and all(
            _os.path.isdir(f"{e.index_dir}/positions")
            for e in self.engines
        )

        def get_ids(mode):
            if phrase:
                return [
                    (d, s)
                    for d, s, _tf in self.search_phrase(query, k=k)
                ]
            if mixed:
                if negation:
                    # same composition as SearchEngine: strip -terms,
                    # over-fetch by |excluded live docids|, filter
                    from .engine import EmptyQueryError
                    from .functions.analyzer import split_negations

                    pos_q, neg_q = split_negations(query)
                    exc: set[int] = set()
                    if neg_q.strip():
                        try:
                            ex_terms = self.analyze(neg_q)
                        except EmptyQueryError:
                            ex_terms = []
                        if ex_terms:
                            live_exc = self._live_term_postings_many(
                                list(dict.fromkeys(ex_terms))
                            )
                            exc = {
                                int(x)
                                for _t, (df, parts) in live_exc.items()
                                if df
                                for d, _tf, _dl in parts
                                for x in d
                            }
                    # capped + iteratively deepened over-fetch —
                    # same exact contract as SearchEngine (a high-df
                    # excluded term must not size the heap)
                    k_full = k + len(exc)
                    k_eff = min(k_full, max(4 * k, k + 64))
                    while True:
                        res = self.search_mixed(
                            pos_q, k=k_eff, mode=mode
                        )
                        out = [
                            (d, s) for d, s in res if d not in exc
                        ][:k]
                        if (
                            len(out) >= k
                            or len(res) < k_eff
                            or k_eff >= k_full
                        ):
                            return out
                        k_eff = min(k_full, 4 * k_eff)
                return self.search_mixed(query, k=k, mode=mode)
            if path == "wand":
                return [
                    (r["docid"], r["score"])
                    for r in self.search_ids(
                        query, k=k, mode=mode, semantics=semantics,
                        negation=negation, synonyms=synonyms,
                    ).collect()
                ]
            return self.search_local(
                query, k=k, mode=mode, semantics=semantics, fuzzy=fuzzy,
                negation=negation, synonyms=synonyms,
            )

        if fuzzy and path != "local":
            # same contract as SearchEngine.query_response: corrections
            # come from the driver-side SymSpell layouts
            raise ValueError(
                "fuzzy (did-you-mean) is served by the local path"
            )
        # highlight/corrections analyze the POSITIVE part only — an
        # excluded term never appears in results
        hl_query = query
        if negation:
            from .functions.analyzer import split_negations

            hl_query = split_negations(query)[0]
        decorate = None
        if highlight:
            from .functions.textstats import highlight_snippet

            hterms = set(self.analyze(hl_query))
            if fuzzy:
                hterms |= set(
                    self.fuzzy_terms(self.analyze(query))[0]
                )
            analyzer = self.engines[0].analyzer

            def decorate(s, _t=frozenset(hterms)):
                return highlight_snippet(s, _t, analyzer)

        resp = assemble_reference_response(
            query, option_name, self.analyze, get_ids, self.lookup_docs,
            page=page, per_page=per_page, decorate_snippet=decorate,
        )
        if fuzzy and resp.get("success") is not False:
            _t, corr = self.fuzzy_terms(self.analyze(query))
            if corr:
                resp["corrections"] = corr
        if facets and resp.get("success") is not False:
            resp["facets"] = {
                f: self.facet_counts(
                    query, field=f, negation=negation, top=facet_top
                )
                for f in (s.strip() for s in facets.split(","))
                if f
            }
        return resp

    def facet_fields(self) -> list[str]:
        """Facet fields servable across this segment list: the
        intersection of every segment's available fields (a count that
        silently skipped a segment would be wrong, not partial)."""
        fields = None
        for eng in self.engines:
            f = set(eng.facet_fields())
            fields = f if fields is None else (fields & f)
        from .plans.build import FACET_COLUMNS

        return [c for c in FACET_COLUMNS if c in (fields or set())]

    def _facet_arrays(self, field: str):
        """Per-segment doc-values for one facet field, tombstones
        already dropped (docid-sorted ids + int codes into ONE unified
        category list) — cached per TieredEngine instance. Segments
        are docid-disjoint after tombstoning, so per-segment counts
        just sum."""
        from .operators.codec import isin_sorted

        cache = getattr(self, "_facet_cache", None)
        if cache is None:
            cache = self._facet_cache = {}
        if field in cache:
            return cache[field]
        if field not in self.facet_fields():
            raise ValueError(
                f"unknown facet field {field!r}; this segment list "
                f"serves: {self.facet_fields() or 'none'}"
            )
        seg_raw = []
        all_cats: set = set()
        for i, eng in enumerate(self.engines):
            by_salt, cats = eng._facet_arrays(field)
            tombs = self.tombstones[i]
            ds, cs = [], []
            for _salt, (fd, codes) in by_salt.items():
                if tombs is not None and tombs.size and fd.size:
                    keep = ~isin_sorted(tombs, fd)
                    fd, codes = fd[keep], codes[keep]
                ds.append(fd)
                cs.append(codes)
            d = (
                np.concatenate(ds) if ds else np.empty(0, np.int64)
            )
            c = (
                np.concatenate(cs) if cs else np.empty(0, np.int32)
            )
            order = np.argsort(d, kind="stable")
            seg_raw.append((d[order], c[order], cats))
            all_cats.update(cats)
        cats = sorted(all_cats, key=lambda x: (x is None, x or ""))
        code_of = {c: i for i, c in enumerate(cats)}
        segs = []
        for d, c, seg_cats in seg_raw:
            remap = np.array(
                [code_of[x] for x in seg_cats], np.int32
            ) if seg_cats else np.empty(0, np.int32)
            segs.append((d, remap[c] if c.size else c))
        cache[field] = (segs, cats)
        return cache[field]

    def facet_counts(
        self, query: str, field: str = "lang", negation: bool = False,
        top: int = 100,
    ) -> dict:
        """Per-facet LIVE doc counts over the full match set of a
        tiered segment list — tombstoned/overridden docs never count,
        so the result equals the compacted index's facet_counts
        (pytest). Same bounded shape as the single-index head: match
        set from the live posting decodes, facet values from cached
        per-segment doc-values. ``+must`` and ``title:`` clauses raise
        ValueError (engine.facet_query_terms)."""
        from .engine import facet_query_terms

        parsed = facet_query_terms(self, query, negation)
        if parsed is None:
            return {}
        terms, excluded = parsed
        segs, cats = self._facet_arrays(field)
        live = self._live_term_postings_many(
            list(dict.fromkeys(terms + excluded))
        )
        def _docids(ts):
            parts = [
                d
                for t in ts
                for d, _tf, _dl in live.get(t, (0, []))[1]
            ]
            return (
                np.unique(np.concatenate(parts))
                if parts
                else np.empty(0, np.int64)
            )
        matched = _docids(dict.fromkeys(terms))
        if excluded and matched.size:
            exc = _docids(dict.fromkeys(excluded))
            if exc.size:
                matched = matched[~np.isin(matched, exc)]
        totals = np.zeros(len(cats), np.int64)
        for fd, codes in segs:
            if not matched.size or not fd.size:
                continue
            p = np.searchsorted(fd, matched)
            p = np.minimum(p, fd.size - 1)
            hit = fd[p] == matched
            totals += np.bincount(
                codes[p[hit]], minlength=len(cats)
            ).astype(np.int64)
        ranked = sorted(
            (
                (("" if c is None else c), int(n))
                for c, n in zip(cats, totals)
                if n > 0
            ),
            key=lambda kv: (-kv[1], kv[0]),
        )
        return dict(ranked[: max(1, int(top))])

    def lookup_docs(
        self, docids: list[int], with_images: bool = True
    ) -> list[dict]:
        """Point-lookup hydration across segments — later segments win
        per docid (same pruned pyarrow reads as SearchEngine). Each
        segment is only asked for ids NOT tombstoned at its position:
        a re-crawled doc hydrates from the overriding segment, and a
        doc removed by a deletes segment hydrates from nowhere (the
        HTTP-path guarantee that a taken-down doc never resurfaces)."""
        from .operators.codec import isin_sorted

        out: dict[int, dict] = {}
        ids = np.asarray(docids, dtype=np.int64)
        for i, eng in enumerate(self.engines):  # oldest first
            tombs = self.tombstones[i]
            live = (
                ids[~isin_sorted(tombs, ids)] if tombs.size else ids
            )
            if not live.size:
                continue
            for row in eng.lookup_docs(
                [int(d) for d in live], with_images=with_images
            ):
                out[row["docid"]] = row
        return [out[d] for d in docids if d in out]


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
