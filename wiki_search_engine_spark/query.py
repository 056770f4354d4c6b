"""The driver-local query path, written once over a segment set.

Both engines expose the same segment set:

- ``segments``: ``[(SearchEngine, sorted tombstone docids), ...]``,
  oldest first. A SearchEngine is ``[(self, empty)]``. A TieredEngine
  supplies one entry per index segment; its tombstones are the docids of
  every later segment (re-crawls and deletes), so after tombstoning the
  segments are docid-disjoint.
- ``n`` / ``avgdl``: live collection stats.
- ``overridden``: how many docs later segments override. 0 means no
  segment holds a stale posting, so the summed lexicon df is live df.

A query runs in four steps, whatever its features:

1. ``parse`` turns the text and flags into ``Clauses`` (SHOULD, MUST and
   NOT body terms, ``title:`` clauses, wildcard expansion, fuzzy
   correction) and ``check_flags`` refuses combinations that do not
   compose (ValueError, an HTTP 400).
2. Plain OR runs the block-max kernel (``wand.score_shard_topk``) once
   per (segment, salt) with the segment's tombstones and the NOT docids
   as its drop mask, then ``wand.merge_topk``.
3. Everything else (AND/MUST, ``title:``, synonyms, bm25f,
   ``boost=static``) runs ``accumulate``: every live posting of every
   scoring source is decoded and scored, summed per doc, gated by the
   required sets and cut by the NOT set. Each feature only builds its
   sources. Facets count the same match set before the top-k cut.
4. ``query_response`` hydrates through the engine's ``lookup_docs`` and
   assembles the reference response shape.

The segments supply the IO: lexicon (``term_df``), postings
(``_cached_term_lists``), title rows, positions, doc values, the static
rank and hydration. The kernel and the posting decoder are called
through their module attributes (``wand.score_shard_topk``,
``codec.decode_posting_list``) so a tracer that patches them sees every
call.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np

from . import B, K1
from .functions.analyzer import (
    resolve_boolean_overlap, split_boolean, split_field_terms,
    split_negations,
)
from .operators import codec, wand
from .operators.codec import isin_sorted
from .oracle_py.oracle import bm25_idf, tfidf_idf

NO_DOCS = np.empty(0, dtype=np.int64)


class EmptyQueryError(ValueError):
    """Reference returns HTTP 400 {success:false, error:'Empty query'}
    for blank queries (backend/controllers/queryController.js:21-25)."""


def term_scores(tf, dl, df: int, n: int, avgdl: float, bm25: bool = True):
    """Per-posting BM25 (or TF-IDF) contribution of one scoring source
    with document frequency ``df`` — the one copy of the formula on the
    driver-local path (the kernel's is operators/wand.py)."""
    tf = np.asarray(tf, dtype=np.float64)
    if not bm25:
        return tf * tfidf_idf(n, df)
    dl = np.asarray(dl, dtype=np.float64)
    return (
        bm25_idf(n, df) * tf * (K1 + 1.0)
        / (tf + K1 * (1.0 - B + B * dl / avgdl))
    )


def top_k(docids: np.ndarray, scores: np.ndarray, k: int):
    """[(docid, score)] by (score desc, docid asc), at most ``k``."""
    idx = np.lexsort((docids, -scores))[: min(k, docids.size)]
    return [(int(docids[i]), float(scores[i])) for i in idx]


# -- parse ----------------------------------------------------------------
@dataclass
class Clauses:
    """A parsed query. ``terms``: positive body terms (SHOULD and MUST;
    wildcard-expanded, fuzzy-corrected, Lucene overlap applied);
    ``must``: the ``+terms`` among them; ``required``: the terms every
    match holds (all of ``terms`` under semantics='and', else ``must``);
    ``excluded``: body NOT terms; ``t_should``/``t_must``/``t_not``: the
    ``title:`` clauses. ``empty``: the query matches nothing."""

    terms: list = field(default_factory=list)
    must: list = field(default_factory=list)
    required: list = field(default_factory=list)
    excluded: list = field(default_factory=list)
    t_should: list = field(default_factory=list)
    t_must: list = field(default_factory=list)
    t_not: list = field(default_factory=list)
    empty: bool = False

    @property
    def fields(self) -> bool:
        return bool(self.t_should or self.t_must or self.t_not)


def _analyze(eng, text: str) -> list[str]:
    """Analyzed terms of a clause text; one that analyzes to nothing
    contributes nothing."""
    try:
        return eng.analyze(text) if text.strip() else []
    except EmptyQueryError:
        return []


def _field_terms(eng, toks: list[str]) -> list[str]:
    """``title:`` tokens through the index analyzer, one token at a
    time (a multi-word token can yield several field terms)."""
    if any("*" in t for t in toks):
        raise ValueError(
            "wildcards are not supported in field-scoped terms"
        )
    return list(dict.fromkeys(t for tok in toks for t in _analyze(eng, tok)))


def parse(
    eng, query: str, semantics: str = "or", negation: bool = False,
    fuzzy: bool = False,
) -> Clauses:
    """The one query parse. ``negation`` enables the Lucene operators —
    ``-term`` NOT, ``+term`` MUST and ``title:`` field scoping — and is
    opt-in so legacy queries keep the reference's bag-of-words reading.
    Wildcard tokens expand to top-df lexicon terms; ``fuzzy`` swaps
    zero-df terms for their best spell correction. A blank query raises
    EmptyQueryError (the reference's 400 body); a pure-NOT query, a
    ``+t -t`` contradiction or one with no positive term left is
    ``empty``."""
    query = query or ""
    must: list[str] = []
    excluded: list[str] = []
    t_s: list[str] = []
    t_m: list[str] = []
    t_n: list[str] = []
    if negation:
        has_title = "title:" in query.lower()
        query, must_q, neg_q = split_boolean(query)
        if has_title:
            query, t_s = split_field_terms(query)
            must_q, t_m = split_field_terms(must_q)
            neg_q, t_n = split_field_terms(neg_q)
            t_s, t_m, t_n = (_field_terms(eng, t) for t in (t_s, t_m, t_n))
            # the Lucene overlap rule inside the title namespace
            pos, contra = resolve_boolean_overlap(
                list(dict.fromkeys(t_s + t_m)), t_m, t_n
            )
            if contra:
                return Clauses(empty=True)
            t_s = [t for t in t_s if t in pos and t not in t_m]
        excluded = _analyze(eng, neg_q)
        must = _analyze(eng, must_q)
        query = f"{query} {must_q}".strip()
        if not query and not (t_s or t_m):
            return Clauses(empty=True)  # a pure-NOT query ranks nothing
    fields = bool(t_s or t_m or t_n)
    if not query.strip() and not fields:
        eng.analyze(query)  # raises EmptyQueryError
    terms = (
        (eng.expand_query_terms(query) if "*" in query else eng.analyze(query))
        if query.strip() else []
    )
    if not terms and not (t_s or t_m):
        return Clauses(empty=True)
    if fuzzy:
        terms, _ = eng.fuzzy_terms(terms)
    terms, contra = resolve_boolean_overlap(
        terms, terms if semantics == "and" else must, excluded
    )
    if contra or not (terms or fields):
        return Clauses(empty=True)
    must = [t for t in must if t in terms]
    return Clauses(
        terms, must, terms if semantics == "and" else must, excluded,
        t_s, t_m, t_n,
    )


def check_flags(
    eng, c: Clauses, mode: str, semantics: str = "or",
    synonyms: bool = False, boost: str | None = None, fuzzy: bool = False,
) -> None:
    """The one place flag combinations that do not compose are refused
    (ValueError; the server answers 400). Shared by the driver-local
    path and the distributed executors."""
    gated = semantics == "and" or bool(c.must)
    if c.fields and (
        semantics == "and" or synonyms or mode == "bm25f" or fuzzy or boost
    ):
        raise ValueError(
            "field-scoped terms (title:) compose with OR and +/- only — "
            "not with semantics=and, synonyms, bm25f, fuzzy, or boost"
        )
    if boost:
        if boost != "static":
            raise ValueError(f"unknown boost {boost!r}; supported: 'static'")
        if gated or synonyms or mode == "bm25f":
            raise ValueError(
                "boost=static composes with plain OR (and -term NOT) "
                "retrieval only"
            )
        if len(eng.segments) > 1:
            raise ValueError("boost is single-index serving only")
        # a missing sidecar is refused whatever the query matches
        eng.segments[0][0]._static_rank_arrays()
    if synonyms and eng._load_synonyms():
        if gated:
            raise ValueError(
                "synonyms compose with OR/SHOULD semantics only (a "
                "synonym group IS a disjunction)"
            )
        if mode == "bm25f":
            raise ValueError(
                "bm25f does not compose with synonym groups yet — pick "
                "one of mode=bm25f / synonyms=true"
            )
    if mode == "bm25f" and gated:
        raise ValueError(
            "bm25f serves OR/SHOULD semantics (title-boosted "
            "accumulation); AND/MUST composition is not supported"
        )


# -- live data over the segment set ----------------------------------------
def _concat(parts: list) -> tuple:
    if not parts:
        return NO_DOCS, NO_DOCS, NO_DOCS
    if len(parts) == 1:
        return parts[0]
    return tuple(np.concatenate([p[i] for p in parts]) for i in range(3))


def live_postings(eng, terms: list[str], lists: list | None = None) -> dict:
    """term -> (docids, tfs, doclens) of its LIVE postings across
    segments and salts, tombstoned entries dropped. One posting per live
    doc, so the docid count is live df. ``lists``: the segments'
    ``_cached_term_lists`` results when the caller already holds them."""
    terms = list(dict.fromkeys(terms))
    parts: dict[str, list] = {t: [] for t in terms}
    for i, (seg, tombs) in enumerate(eng.segments):
        seg_lists = lists[i] if lists else seg._cached_term_lists(terms)
        for t in terms:
            for _salt, blocks in seg_lists[t][1]:
                d, tf, dl = codec.decode_posting_list(blocks)
                if tombs.size and d.size:
                    keep = ~isin_sorted(tombs, d)
                    d, tf, dl = d[keep], tf[keep], dl[keep]
                parts[t].append((d, tf, dl))
    return {t: _concat(ps) for t, ps in parts.items()}


def live_df(eng, terms: list[str], lists: list | None = None) -> dict:
    """Exact live df per term with zero Spark jobs: summed stored df
    when no doc is overridden, else counted from the decoded live
    postings."""
    terms = list(dict.fromkeys(terms))
    if eng.overridden:
        return {
            t: int(p[0].size)
            for t, p in live_postings(eng, terms, lists).items()
        }
    out = dict.fromkeys(terms, 0)
    for i, (seg, _tombs) in enumerate(eng.segments):
        if lists:
            for t in terms:
                out[t] += lists[i][t][0]
        else:
            for t, df in seg.term_df(terms).items():
                out[t] += int(df)
    return out


def not_docids(eng, terms: list[str]) -> np.ndarray:
    """Sorted docids whose live postings hold any of ``terms`` — the
    driver-side NOT set. Its cost tracks those terms' posting sizes
    (what a positive query on them reads), never the corpus."""
    if not terms:
        return NO_DOCS
    parts = [p[0] for p in live_postings(eng, terms).values() if p[0].size]
    return np.unique(np.concatenate(parts)) if parts else NO_DOCS


def title_rows(eng, terms: list[str]) -> dict:
    """term -> (docids, title tfs, body doc lens), docid-sorted, from
    the LIVE title_tf rows across segments. Segments built without the
    sidecar contribute nothing; none carrying it raises the titleindex
    remedy."""
    terms = list(dict.fromkeys(terms))
    have = [
        (seg, tombs) for seg, tombs in eng.segments
        if os.path.isdir(f"{seg.index_dir}/title_tf")
    ]
    if not have:
        raise FileNotFoundError(
            f"{eng.segments[0][0].index_dir}/title_tf missing — BM25F and "
            "title: clauses need the title-field sidecar; run "
            "engine.build_title_tf() (CLI: titleindex) or rebuild the index"
        )
    parts: dict[str, list] = {t: [] for t in terms}
    for seg, tombs in have:
        for t, (td, ttf, tdl) in seg._title_rows(terms).items():
            if tombs.size and td.size:
                keep = ~isin_sorted(tombs, td)
                td, ttf, tdl = td[keep], ttf[keep], tdl[keep]
            parts[t].append((td, ttf, tdl))
    out = {}
    for t, ps in parts.items():
        d, tf, dl = _concat(ps)
        order = np.argsort(d, kind="stable")
        out[t] = (d[order], tf[order], dl[order])
    return out


# -- scoring ----------------------------------------------------------------
def search_local(
    eng, query: str, k: int = 50, mode: str = "bm25",
    semantics: str = "or", fuzzy: bool = False, negation: bool = False,
    synonyms: bool = False, boost: str | None = None,
) -> list[tuple[int, float]]:
    """Top-k (docid, score) on the driver, zero Spark jobs. Plain OR
    takes the block-max kernel; every other feature the accumulate
    scorer. Rank-identical to the distributed paths and, over segments,
    to the compacted index (pytest)."""
    c = parse(eng, query, semantics, negation, fuzzy)
    check_flags(eng, c, mode, semantics, synonyms, boost, fuzzy)
    if c.empty or not eng.n:
        return []
    for seg, _tombs in eng.segments:
        if not os.path.isdir(f"{seg.index_dir}/term_stats"):
            raise FileNotFoundError(
                f"{seg.index_dir}/term_stats missing — the local serving "
                "path needs the lexicon side table; rebuild the index or "
                "use path='wand'"
            )
    if (
        c.required or c.fields or mode == "bm25f" or boost
        or (synonyms and eng._load_synonyms())
    ):
        return top_k(*accumulate(eng, c, mode, synonyms, boost), k)
    return _or_topk(eng, c, k, mode)


def _or_topk(eng, c: Clauses, k: int, mode: str) -> list[tuple[int, float]]:
    """Plain OR: the block-max kernel once per (segment, salt) with live
    df, the segment's tombstones plus the NOT docids as the decode-time
    drop mask (NOT docs leave before the top-k cut, so the heap stays
    k-sized however common the excluded term), and the upper bounds
    scaled by ``max(1, avgdl / segment avgdl)`` — each segment's block
    maxima were computed at its own avgdl. Shards are docid-disjoint,
    so merging their top-ks is exact."""
    lists = [seg._cached_term_lists(c.terms) for seg, _t in eng.segments]
    df = live_df(eng, c.terms, lists)
    excl = not_docids(eng, c.excluded)
    shards = []
    for (seg, tombs), seg_lists in zip(eng.segments, lists):
        drop = np.union1d(tombs, excl) if tombs.size else excl
        extra = {"tombs": drop} if drop.size else {}
        if seg.avgdl and eng.avgdl > seg.avgdl:
            extra["ub_scale"] = eng.avgdl / seg.avgdl
        by_salt: dict[int, list] = {}
        for t in c.terms:
            if df[t] <= 0:
                continue
            for salt, blocks in seg_lists[t][1]:
                by_salt.setdefault(salt, []).append(
                    {"df": df[t], "blocks": blocks, **extra}
                )
        for tls in by_salt.values():
            shards.append(
                wand.score_shard_topk(tls, eng.n, eng.avgdl, k, mode)
            )
    return wand.merge_topk(shards, k)


def _sum_group(parts: list) -> tuple:
    """One synonym group as ONE source: per-doc tf summed over members,
    the doc's length, df = docs holding any member."""
    d, tf, dl = _concat([p for p in parts if p[0].size])
    uniq, inv = np.unique(d, return_inverse=True)
    tf_sum = np.zeros(uniq.size)
    np.add.at(tf_sum, inv, tf)
    dl_u = np.zeros(uniq.size)
    dl_u[inv] = dl  # constant per doc
    return uniq, tf_sum, dl_u


def _fold_title(body: tuple, title: tuple, w: float) -> tuple:
    """BM25F source: tf' = tf + (w-1)*tf_title per doc; title-only docs
    join with their stored body length; tf' == 0 postings drop (w == 1
    is plain BM25 exactly)."""
    d, tf, dl = body
    order = np.argsort(d, kind="stable")
    d = d[order]
    tf = tf[order].astype(np.float64)
    dl = dl[order].astype(np.float64)
    td, ttf, tdl = title
    if w != 1.0 and td.size:
        pos = np.searchsorted(d, td)
        in_body = (
            (pos < d.size) & (d[np.minimum(pos, max(d.size - 1, 0))] == td)
            if d.size else np.zeros(td.size, bool)
        )
        tf[pos[in_body]] += (w - 1.0) * ttf[in_body]
        d = np.concatenate([d, td[~in_body]])
        tf = np.concatenate([tf, (w - 1.0) * ttf[~in_body]])
        dl = np.concatenate([dl, tdl[~in_body]])
    keep = tf > 0
    return d[keep], tf[keep], dl[keep]


def accumulate(
    eng, c: Clauses, mode: str = "bm25", synonyms: bool = False,
    boost: str | None = None, title_weight: float | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """The full-decode scorer: every live posting of every scoring
    source is scored with live df, summed per doc, kept only in every
    required set, minus the NOT set. Returns (docids, scores) over the
    WHOLE match set — top-k and facets both start here. Block-max
    pruning has nothing to add (AND: the intersection is the pruning)
    or would be unsound (an additive boost or a title fold can lift a
    doc past an unboosted bound).

    Sources: each body term (a synonym group merged into one; under
    bm25f with its title tf folded in at ``title_weight``), each
    ``title:`` SHOULD/MUST term over the title rows; ``boost='static'``
    adds ``W * ln(1 + N * pagerank)`` per doc."""
    syn = eng._load_synonyms() if synonyms else {}
    groups = [list(dict.fromkeys([t] + syn.get(t, []))) for t in c.terms]
    body = live_postings(
        eng, [g for grp in groups for g in grp] + c.excluded
    )
    bm25f = mode == "bm25f"
    titles = (
        title_rows(
            eng, c.t_should + c.t_must + c.t_not + (c.terms if bm25f else [])
        )
        if c.fields or bm25f else {}
    )
    w = eng.segments[0][0].DEFAULT_TITLE_WEIGHT
    w = w if title_weight is None else float(title_weight)
    sources, gates = [], []
    for t, grp in zip(c.terms, groups):
        src = body[t] if len(grp) == 1 else _sum_group([body[g] for g in grp])
        if bm25f:
            src = _fold_title(src, titles[t], w)
        if t in c.required:
            gates.append(src[0])
        sources.append(src)
    for t in c.t_should + c.t_must:
        if t in c.t_must:
            gates.append(titles[t][0])
        sources.append(titles[t])
    bm25 = mode in ("bm25", "bm25f")
    all_d, all_s = [], []
    for d, tf, dl in sources:
        if d.size:
            all_d.append(d)
            all_s.append(term_scores(tf, dl, d.size, eng.n, eng.avgdl, bm25))
    if not all_d or any(not g.size for g in gates):
        return NO_DOCS, np.zeros(0)
    docs, inv = np.unique(np.concatenate(all_d), return_inverse=True)
    scores = np.zeros(docs.size)
    np.add.at(scores, inv, np.concatenate(all_s))
    keep = np.ones(docs.size, bool)
    for g in gates:
        keep &= np.isin(docs, g)
    exc = [body[t][0] for t in c.excluded] + [titles[t][0] for t in c.t_not]
    exc = [e for e in exc if e.size]
    if exc:
        keep &= ~np.isin(docs, np.concatenate(exc))
    if boost:
        seg = eng.segments[0][0]
        rd, rr = seg._static_rank_arrays()
        if rd.size:
            pos = np.minimum(np.searchsorted(rd, docs), rd.size - 1)
            hit = rd[pos] == docs
            scores[hit] += seg.STATIC_BOOST_WEIGHT * np.log1p(
                float(eng.n) * rr[pos[hit]]
            )
    return docs[keep], scores[keep]


# -- phrases ----------------------------------------------------------------
def _phrase_docs(eng, phrase: str, slop: int = 0):
    """(docids, doc lens, phrase tfs) of the LIVE docs matching a phrase
    (or ordered window of ``slop``) across segments, docid-sorted; None
    when nothing matches. Every segment needs its positional sidecar."""
    parts = []
    for seg, tombs in eng.segments:
        m = seg._phrase_matches(phrase, slop=slop)
        if m is None:
            continue
        d, dl, tf = m
        if tombs.size:
            keep = ~isin_sorted(tombs, d)
            d, dl, tf = d[keep], dl[keep], tf[keep]
        if d.size:
            parts.append((d, dl, tf))
    if not parts:
        return None
    d, dl, tf = _concat(parts)
    order = np.argsort(d, kind="stable")
    return d[order], dl[order], tf[order]


def search_phrase(
    eng, phrase: str, k: int = 50, slop: int = 0
) -> list[tuple[int, float, int]]:
    """Exact-phrase (or ``slop`` window) top-k from the positional
    sidecars: the phrase scores as a BM25 pseudo-term (tf = occurrences,
    df = matching live docs). Returns [(docid, score, phrase_tf)] by
    (score desc, docid asc); [] when a phrase term is absent."""
    m = _phrase_docs(eng, phrase, slop)
    if m is None or not eng.n:
        return []
    d, dl, tf = m
    s = term_scores(tf, dl, d.size, eng.n, eng.avgdl)
    idx = np.lexsort((d, -s))[:k]
    return [(int(d[i]), float(s[i]), int(tf[i])) for i in idx]


def search_mixed(
    eng, query: str, k: int = 50, mode: str = "bm25"
) -> list[tuple[int, float]]:
    """Mixed quoted-phrase query: every double-quoted span is a phrase
    REQUIREMENT scored as a pseudo-term; the remaining bag terms add
    their ordinary contributions without widening the candidate set. A
    quote-free query is a plain ``search_local``."""
    from .operators.phrase import parse_query

    bag_text, phrases = parse_query(query)
    if not phrases:
        return eng.search_local(query, k=k, mode=mode)
    bm25 = mode == "bm25"
    cand = pscore = None
    for ptext, pslop in phrases:
        m = _phrase_docs(eng, ptext, pslop)
        if m is None or not eng.n:
            return []
        docs, dls, tfs = m
        ps = term_scores(tfs, dls, docs.size, eng.n, eng.avgdl, bm25)
        if cand is None:
            cand, pscore = docs, ps
            continue
        keep = np.isin(cand, docs, assume_unique=True)
        cand, pscore = cand[keep], pscore[keep]
        if not cand.size:
            return []
        pscore = pscore + ps[np.isin(docs, cand, assume_unique=True)]
    bag = eng.analyze(bag_text) if bag_text else []
    for d, tf, dl in live_postings(eng, bag).values():
        if not d.size:
            continue
        order = np.argsort(d)
        d, tf, dl = d[order], tf[order], dl[order]
        pos = np.minimum(np.searchsorted(d, cand), d.size - 1)
        sel = d[pos] == cand
        if sel.any():
            pscore = pscore.copy()
            pscore[sel] += term_scores(
                tf[pos[sel]], dl[pos[sel]], d.size, eng.n, eng.avgdl, bm25
            )
    return top_k(cand, pscore, k)


def _mixed_ids(eng, query: str, k: int, mode: str, negation: bool):
    """Mixed query with ``-term`` NOT: run it without the NOT terms and
    filter. The over-fetch is capped, then deepened only while the page
    is short — a high-df excluded term must not size the heap up front.
    Quoted spans themselves are never negated (Lucene parity)."""
    if not negation:
        return eng.search_mixed(query, k=k, mode=mode)
    pos_q, neg_q = split_negations(query)
    exc = set(not_docids(eng, _analyze(eng, neg_q)).tolist())
    k_full = k + len(exc)
    k_eff = min(k_full, max(4 * k, k + 64))
    while True:
        res = eng.search_mixed(pos_q, k=k_eff, mode=mode)
        out = [(d, s) for d, s in res if d not in exc][:k]
        if len(out) >= k or len(res) < k_eff or k_eff >= k_full:
            return out
        k_eff = min(k_full, 4 * k_eff)


# -- facets -----------------------------------------------------------------
def facet_fields(eng) -> list[str]:
    """Facet fields every segment carries (a count that silently
    skipped a segment would be wrong, not partial)."""
    have = [set(seg.facet_fields()) for seg, _t in eng.segments]
    return [f for f in eng.segments[0][0].facet_fields()
            if all(f in h for h in have)]


def facet_counts(
    eng, query: str, field: str = "lang", negation: bool = False,
    top: int = 100, semantics: str = "or", synonyms: bool = False,
    mode: str = "bm25", fuzzy: bool = False,
) -> dict:
    """Per-facet LIVE doc counts over the query's full match set — the
    docs ``accumulate`` matches before its top-k cut, so ``+must``,
    ``title:``, NOT and the other flags count exactly the docs the
    results come from. Facet values come from each segment's cached
    doc-values; tombstoned copies never count. A null value counts
    under ``""``; ``top`` keeps the N largest categories (count desc,
    value asc)."""
    fields = facet_fields(eng)
    if field not in fields:
        raise ValueError(
            f"unknown facet field {field!r}; this index serves: "
            f"{fields or 'none'}"
        )
    c = parse(eng, query, semantics, negation, fuzzy)
    check_flags(eng, c, mode, semantics, synonyms, None, fuzzy)
    if c.empty:
        return {}
    docs, _scores = accumulate(eng, c, mode, synonyms)
    counts: dict[str, int] = {}
    for seg, tombs in eng.segments:
        by_salt, cats = seg._facet_arrays(field)
        for fd, codes in by_salt.values():
            if not docs.size or not fd.size:
                continue
            p = np.minimum(np.searchsorted(fd, docs), fd.size - 1)
            hit = fd[p] == docs
            if tombs.size:
                hit &= ~isin_sorted(tombs, docs)
            tally = np.bincount(codes[p[hit]], minlength=len(cats))
            for cat, n in zip(cats, tally.tolist()):
                if n:
                    key = "" if cat is None else cat
                    counts[key] = counts.get(key, 0) + n
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    return dict(ranked[: max(1, int(top))])


# -- hydration and the reference response ----------------------------------
def lookup_docs(
    eng, docids: list[int], with_images: bool = True
) -> list[dict]:
    """Point-lookup hydration across segments: each segment is asked
    only for the ids not tombstoned at its position, so a re-crawled
    doc hydrates from the overriding segment and a deleted one from
    nowhere."""
    out: dict[int, dict] = {}
    ids = np.asarray(docids, dtype=np.int64)
    for seg, tombs in eng.segments:
        live = ids[~isin_sorted(tombs, ids)] if tombs.size else ids
        if live.size:
            for row in seg.lookup_docs(live.tolist(), with_images=with_images):
                out[row["docid"]] = row
    return [out[d] for d in docids if d in out]


def sys_snapshot() -> dict:
    """Driver-process memory snapshot mirroring the reference's
    profiler sysSnapshot shape (backend/utils/profiler.js:20-29):
    rss_mb / heapUsed_mb / heapTotal_mb / eventLoopDelay_ms. Values come
    from /proc/self/status (VmRSS / VmData / VmSize); on platforms
    without procfs the fields degrade to 0.0 rather than erroring a
    query response."""
    vals = {"VmRSS": 0.0, "VmData": 0.0, "VmSize": 0.0}
    try:
        with open("/proc/self/status") as f:
            for line in f:
                key = line.split(":")[0]
                if key in vals:
                    vals[key] = float(line.split()[1]) / 1024.0  # kB->MB
    except OSError:
        pass
    return {
        "rss_mb": round(vals["VmRSS"], 1),
        "heapUsed_mb": round(vals["VmData"], 1),
        "heapTotal_mb": round(vals["VmSize"], 1),
        "eventLoopDelay_ms": 0,
    }


def assemble_reference_response(
    query: str,
    option_name: str,
    analyze,
    get_ids,
    lookup_docs,
    page: int | None = None,
    per_page: int = 10,
    decorate_snippet=None,
) -> dict:
    """The reference HTTP response shape (queryController.js:11-59).
    ``get_ids(mode) -> [(docid, score), ...]`` supplies scoring;
    ``lookup_docs(docids) -> rows`` supplies hydration; spans and the
    sysSnapshot follow utils/profiler.js.

    ``page`` enables SERVER-side pagination — the reference does it in
    the client (react-app/src/App.js:145-147: startIndex =
    (currentPage-1)*resultsPerPage, slice, resultsPerPage=10) over the
    full top-k it downloaded; passing page replays that exact slice
    over BOTH textResult and imageResult here and adds totalResults /
    page / resultsPerPage so a pager can render without shipping all k
    hydrated rows per request. page=None (default) keeps the reference
    API byte-shape."""
    mode = (option_name or "tfidf").lower()
    if mode not in ("tfidf", "bm25", "bm25f"):
        mode = "tfidf"
    t_all = time.time()
    measures = []

    def span(name, fn):
        t0 = time.time()
        out = fn()
        measures.append(
            {"name": name,
             "duration_ms": round(1000 * (time.time() - t0), 3)}
        )
        return out

    try:
        span(
            "validate_input",
            lambda: (_ for _ in ()).throw(EmptyQueryError("Empty query"))
            if not query or not query.strip()
            else None,
        )
        terms = span("stem_query", lambda: analyze(query))
    except EmptyQueryError:
        return {"success": False, "result": [], "error": "Empty query"}
    ids = span("get_documents", lambda: get_ids(mode))
    id_rows = [(int(d), float(s)) for d, s in ids]
    score_map = dict(id_rows)
    # result hydration is a point lookup over the k result ids — never a
    # second search and never a docs-table scan/join
    docs = span(
        "fetch_results",
        lambda: sorted(
            lookup_docs([d for d, _ in id_rows]),
            key=lambda r: (-score_map[r["docid"]], r["docid"]),
        ),
    )
    text_result = [
        {
            "docId": r["title"],
            "chunkedBody": (
                r["snippet"]
                if decorate_snippet is None
                else decorate_snippet(r["snippet"])
            ),
            "url": r["url"],
            "file_id": str(r["docid"]),
            "score": score_map[r["docid"]],
        }
        for r in docs
    ]
    image_result = span(
        "get_image_filenames",
        lambda: [
            img["image_id"]
            for r in docs
            for img in (r.get("images") or [])
        ],
    )
    measures.append(
        {"name": "total_request",
         "duration_ms": round(1000 * (time.time() - t_all), 3)}
    )
    resp = {
        "imageResult": image_result,
        "textResult": text_result,
        "searchTime": round(time.time() - t_all, 3),
        "profile": {
            "measures": measures,
            "sysSnapshot": sys_snapshot(),
        },
        "query_terms": terms,
    }
    if page is not None:
        # App.js:145-147 verbatim: slice(start, start+per) on whichever
        # list the client is viewing — both are sliced consistently so
        # either view paginates; hydration above already happened over
        # all k ids, matching what the client-side scheme fetched
        page = max(1, int(page))
        per_page = max(1, int(per_page))
        start = (page - 1) * per_page
        resp["totalResults"] = {
            "text": len(text_result), "image": len(image_result),
        }
        resp["page"] = page
        resp["resultsPerPage"] = per_page
        resp["textResult"] = text_result[start:start + per_page]
        resp["imageResult"] = image_result[start:start + per_page]
    return resp


def query_response(
    eng, query: str, option_name: str = "tfidf", k: int = 50,
    path: str = "local", semantics: str = "or",
    page: int | None = None, per_page: int = 10, phrase: bool = False,
    fuzzy: bool = False, highlight: bool = False, negation: bool = False,
    synonyms: bool = False, facets: str | None = None,
    facet_top: int = 100, boost: str | None = None,
) -> dict:
    """The reference's full HTTP response over a segment set
    (backend/controllers/queryController.js:11-59) with every extension
    flag. ``path='local'`` scores on the driver; any other path goes to
    the engine's distributed ``search_ids``. A quoted span routes to
    mixed phrase semantics when every segment carries the positional
    sidecar (without it quotes keep the bag-of-words reading, so old
    indexes never start erroring on quoted input)."""
    mixed = '"' in (query or "") and all(
        os.path.isdir(f"{seg.index_dir}/positions")
        for seg, _t in eng.segments
    )
    if fuzzy and path != "local":
        raise ValueError("fuzzy (did-you-mean) is served by the local path")
    if boost and path != "local":
        raise ValueError(
            "boost=static is served by the local path (the distributed "
            "twin is the bm25_static_rank plan)"
        )
    if boost and (phrase or mixed):
        raise ValueError(
            "boost=static composes with bag-of-words retrieval only (not "
            "phrase/mixed queries)"
        )

    def get_ids(mode):
        if phrase:
            return [(d, s) for d, s, _tf in eng.search_phrase(query, k=k)]
        if mixed:
            return _mixed_ids(eng, query, k, mode, negation)
        if path != "local":
            # 'wand' is every engine's default distributed path
            extra = {} if path == "wand" else {"path": path}
            return [
                (r["docid"], r["score"])
                for r in eng.search_ids(
                    query, k=k, mode=mode, semantics=semantics,
                    negation=negation, synonyms=synonyms, **extra,
                ).collect()
            ]
        return eng.search_local(
            query, k=k, mode=mode, semantics=semantics, fuzzy=fuzzy,
            negation=negation, synonyms=synonyms, boost=boost,
        )

    decorate = None
    if highlight:
        from .functions.textstats import highlight_snippet

        # the POSITIVE part only: an excluded term never appears
        hl_query = split_negations(query)[0] if negation else query
        hterms = set(eng.analyze(hl_query))
        if fuzzy:
            hterms |= set(eng.fuzzy_terms(eng.analyze(hl_query))[0])
        analyzer = eng.segments[0][0].analyzer

        def decorate(s, _t=frozenset(hterms)):
            return highlight_snippet(s, _t, analyzer)

    resp = assemble_reference_response(
        query, option_name, eng.analyze, get_ids, eng.lookup_docs,
        page=page, per_page=per_page, decorate_snippet=decorate,
    )
    if resp.get("success") is False:
        return resp
    if fuzzy:
        # what was corrected; absent when nothing was, so the reference
        # shape holds
        _t, corr = eng.fuzzy_terms(eng.analyze(query))
        if corr:
            resp["corrections"] = corr
    if facets:
        mode = "bm25f" if (option_name or "").lower() == "bm25f" else "bm25"
        resp["facets"] = {
            f: facet_counts(
                eng, query, f, negation, facet_top, semantics, synonyms,
                mode, fuzzy,
            )
            for f in dict.fromkeys(s.strip() for s in facets.split(","))
            if f
        }
    return resp
