"""Differential parity of the driver-local query path.

One fixed list of queries over the grammar (bare, ``+must``, ``-not``,
``title:``, quoted phrase, ``word*`` wildcard, ``semantics=and``,
synonyms, bm25f, ``boost=static``) is served by

- ``SearchEngine`` over the compacted index,
- ``TieredEngine([compacted])`` — one segment, no tombstones,
- ``TieredEngine([base, delta])`` — the delta re-crawls a quarter of
  the base's docs, so the base carries tombstones,

and every cell must return the compacted index's (file_id, score)
list, or raise the same exception type. Cells the exhaustive Spark
scorer serves must also match its top-k.
"""

import math
import re

import pytest

K = 20


def _words(text):
    return [t for t in text.lower().split() if re.fullmatch("[a-z]{4,}", t)]


@pytest.fixture(scope="module")
def titled_rows(corpus_rows):
    """The shared test corpus with one text word in each page's title (the
    title is the url slug), so ``title:`` clauses discriminate. Link
    targets fold onto the corpus's own pages so PageRank has a graph."""
    slug = {}
    for r in corpus_rows:
        i = int(re.search(r"Doc_(\d+)$", r["url"]).group(1))
        word = _words(r["text"])[0]
        slug[i] = f"{word.capitalize()}_{i}"
    out = []
    for r in corpus_rows:
        i = int(re.search(r"Doc_(\d+)$", r["url"]).group(1))
        html = re.sub(
            rb"Doc_(\d{6})",
            lambda m: slug[int(m.group(1)) % len(slug)].encode(),
            r["html"],
        )
        out.append(
            {**r, "url": f"https://en.wikipedia.org/wiki/{slug[i]}",
             "html": html}
        )
    return out


@pytest.fixture(scope="module")
def shapes(spark, titled_rows, tmp_path_factory):
    """(compacted, base, delta) engines. base = docs [0, 60), delta =
    docs [40, 80): docs 40..59 live in both, so the delta overrides
    them and the compacted index is the whole corpus."""
    import pandas as pd

    from wiki_search_engine_spark.engine import SearchEngine

    root = tmp_path_factory.mktemp("parity")
    kw = dict(
        stem=True, n_buckets=16, bucket_groups=1, salt_bits=2,
        positions=True,
    )

    def build(name, rows, **extra):
        df = spark.createDataFrame(pd.DataFrame(rows))
        return SearchEngine.build(
            spark, df, str(root / name), **kw, **extra
        )

    full = build("full", titled_rows, pagerank_iters=4)
    base = build("base", titled_rows[:60])
    delta = build("delta", titled_rows[40:])
    return full, base, delta


@pytest.fixture(scope="module")
def words(titled_rows):
    from wiki_search_engine_spark.sources.synth import vocabulary

    w = vocabulary(42)[0]
    toks = _words(titled_rows[45]["text"])
    return w, f"{toks[1]} {toks[2]}", toks[0]


def _cells(words):
    """(name, query, query_response kwargs, exhaustive-comparable)."""
    w, phrase, tw = words
    b = {"option_name": "bm25"}
    neg = {**b, "negation": True}
    return [
        ("bare_bm25", f"{w[3]} {w[50]}", b, True),
        ("bare_tfidf", f"{w[3]} {w[50]}", {"option_name": "tfidf"}, True),
        ("head_term", w[0], b, True),
        ("must", f"{w[3]} +{w[50]} {w[7]}", neg, True),
        ("not", f"{w[3]} {w[50]} -{w[20]}", neg, True),
        ("not_overlap", f"{w[3]} {w[50]} -{w[3]}", neg, True),
        ("title_should", f"title:{tw} {w[3]}", neg, True),
        ("title_must", f"+title:{tw} {w[0]}", neg, True),
        ("title_not", f"{w[0]} -title:{tw}", neg, True),
        ("wildcard", f"{w[3][:2]}*", b, True),
        ("and", f"{w[3]} {w[50]}", {**b, "semantics": "and"}, True),
        ("and_not", f"{w[0]} {w[3]} -{w[50]}",
         {**neg, "semantics": "and"}, True),
        ("synonyms", f"{w[3]} {w[7]}", {**b, "synonyms": True}, True),
        ("synonyms_not", f"{w[3]} -{w[20]}",
         {**neg, "synonyms": True}, True),
        ("bm25f", f"{tw} {w[3]}", {"option_name": "bm25f"}, True),
        ("bm25f_not", f"{tw} {w[3]} -{w[20]}",
         {"option_name": "bm25f", "negation": True}, True),
        ("phrase", phrase, {**b, "phrase": True}, False),
        ("phrase_head", f"{w[0]} {w[0]}", {**b, "phrase": True}, False),
        ("mixed", f'"{phrase}" {w[3]}', b, False),
        ("mixed_head", f'"{w[0]} {w[0]}" {w[3]}', b, False),
        ("mixed_not", f'"{w[0]} {w[0]}" {w[3]} -{w[20]}', neg, False),
        ("boost", f"{w[3]} {w[50]}", {**b, "boost": "static"}, False),
        ("boost_not", f"{w[3]} {w[50]} -{w[20]}",
         {**neg, "boost": "static"}, False),
        ("bad_and_synonyms", w[3],
         {**b, "semantics": "and", "synonyms": True}, False),
        ("bad_bm25f_and", w[3],
         {"option_name": "bm25f", "semantics": "and"}, False),
        ("bad_title_and", f"title:{tw} {w[3]}",
         {**neg, "semantics": "and"}, False),
        ("empty", "   ", b, False),
    ]


def _served(eng, q, kw):
    try:
        resp = eng.query_response(q, k=K, **kw)
    except Exception as e:  # the cell's outcome is the exception type
        return type(e)
    if resp.get("success") is False:
        return ("error", resp["error"])
    return [(int(r["file_id"]), r["score"]) for r in resp["textResult"]]


def _same(got, exp, where):
    if not isinstance(exp, list) or not isinstance(got, list):
        assert got == exp, where
        return
    assert [d for d, _ in got] == [d for d, _ in exp], where
    for (_, a), (_, b) in zip(got, exp):
        assert math.isclose(a, b, rel_tol=1e-9), where


@pytest.fixture(scope="module")
def with_synonyms(shapes, words):
    w = words[0]
    full, _base, delta = shapes
    group = [[w[3], w[50]]]
    # the tiered engine reads the NEWEST segment's sidecar
    full.set_synonyms(group)
    delta.set_synonyms(group)
    return shapes


def test_single_and_tiered_match_compacted(spark, with_synonyms, words):
    from wiki_search_engine_spark.tiered import TieredEngine

    full, base, delta = with_synonyms
    one = TieredEngine(spark, [full.index_dir])
    two = TieredEngine(spark, [base.index_dir, delta.index_dir])
    assert two.n == full.n and two.overridden == 20
    served = 0
    for name, q, kw, _ex in _cells(words):
        exp = _served(full, q, kw)
        if name.startswith(("bad_",)):
            assert exp is ValueError, name
        if isinstance(exp, list) and exp:
            served += 1
        _same(_served(one, q, kw), exp, f"{name}: tiered[1]")
        if kw.get("boost"):
            # the static boost is one index's sidecar: a set of several
            # index segments refuses it rather than mis-score
            assert _served(two, q, kw) is ValueError, name
            continue
        _same(_served(two, q, kw), exp, f"{name}: tiered[2]")
    assert served >= 20


def test_local_matches_exhaustive(spark, with_synonyms, words):
    full, _base, _delta = with_synonyms
    for name, q, kw, exhaustive in _cells(words):
        if not exhaustive:
            continue
        mode = kw.get("option_name", "bm25")
        exp = _served(full, q, kw)
        got = [
            (int(r["docid"]), float(r["score"]))
            for r in full.search_ids(
                q, k=K, mode=mode, path="exhaustive",
                semantics=kw.get("semantics", "or"),
                negation=kw.get("negation", False),
                synonyms=kw.get("synonyms", False),
            ).collect()
        ]
        _same(got, exp, f"{name}: exhaustive")
