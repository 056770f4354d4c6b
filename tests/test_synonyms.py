"""Query-time synonym groups: sidecar round-trip, serving ==
distributed operator identity, no-op and error contracts, HTTP."""

import json
import urllib.parse
import urllib.request

import pytest

from wiki_search_engine_spark import query
from wiki_search_engine_spark.sources.synth import vocabulary


@pytest.fixture()
def syn_words():
    words, _ = vocabulary(42)
    # positive query term + its configured synonym + an ordinary term
    return words[3], words[9], words[50]


def _clear(engine):
    import os

    p = f"{engine.index_dir}/synonyms.json"
    if os.path.isfile(p):
        os.remove(p)
    engine._syn_map = None


def test_synonyms_noop_without_sidecar(engine, syn_words):
    a, _b, c = syn_words
    _clear(engine)
    q = f"{a} {c}"
    assert engine.search_local(q, k=10, synonyms=True) == (
        engine.search_local(q, k=10)
    )


def test_synonyms_match_distributed_operator(
    spark, engine, corpus_df, syn_words
):
    from wiki_search_engine_spark.operators.scoring import (
        score_synonyms,
    )
    from wiki_search_engine_spark.operators.tokenize import (
        tokenize, with_docid,
    )

    a, b, c = syn_words
    try:
        engine.set_synonyms([[a, b]])
        q = f"{a} {c}"
        got = engine.search_local(q, k=10, synonyms=True)
        # synonyms changed the result vs the plain query
        assert got != engine.search_local(q, k=10)

        ga = engine.analyze(a) + engine.analyze(b)
        gc = engine.analyze(c)
        tokens = tokenize(
            with_docid(corpus_df, "url").select("docid", "text"),
            stem=True,
        )
        exp = [
            (int(r["docid"]), float(r["score"]))
            for r in score_synonyms(
                tokens, [ga, gc], engine.n, engine.avgdl, k=10,
                mode="bm25",
            ).collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in exp]
        for (gd, gs), (ed, es) in zip(got, exp):
            assert gs == pytest.approx(es, rel=1e-9)
    finally:
        _clear(engine)


def test_synonym_group_tf_sums(engine, syn_words):
    """A doc containing both group members must score the group as one
    pseudo-term with SUMMED tf — strictly different from plain OR over
    the two terms (which double-counts idf saturation)."""
    a, b, _c = syn_words
    try:
        engine.set_synonyms([[a, b]])
        syn_res = dict(
            engine.search_local(a, k=engine.n, synonyms=True)
        )
        or_res = dict(engine.search_local(f"{a} {b}", k=engine.n))
        assert syn_res  # the group matched something
        assert syn_res != or_res
    finally:
        _clear(engine)


def test_synonyms_and_raises(engine, syn_words):
    a, b, c = syn_words
    try:
        engine.set_synonyms([[a, b]])
        with pytest.raises(ValueError):
            engine.search_local(
                f"{a} {c}", k=5, semantics="and", synonyms=True
            )
    finally:
        _clear(engine)


def test_synonyms_compose_with_negation(engine, syn_words):
    a, b, c = syn_words
    try:
        engine.set_synonyms([[a, b]])
        got = engine.search_local(
            f"{a} -{c}", k=10, synonyms=True, negation=True
        )
        exc = set(query.not_docids(engine, engine.analyze(c)).tolist())
        assert all(d not in exc for d, _ in got)
        base = engine.search_local(a, k=engine.n, synonyms=True)
        assert got == [(d, s) for d, s in base if d not in exc][:10]
    finally:
        _clear(engine)


def test_tiered_synonyms_match_compacted(
    spark, engine, corpus_df, syn_words, tmp_path
):
    """A 2-segment tiered view serves synonym queries identically to
    the compacted index; the NEWEST segment's sidecar wins."""
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.tiered import TieredEngine

    a, b, c = syn_words
    try:
        engine.set_synonyms([[a, b]])
        half = corpus_df.count() // 2
        w = corpus_df.withColumn(
            "_r", F.row_number().over(Window.orderBy("url"))
        )
        ea = SearchEngine.build(
            spark, w.filter(F.col("_r") <= half).drop("_r"),
            str(tmp_path / "syn_a"), stem=True,
            n_buckets=16, bucket_groups=1, salt_bits=2,
        )
        eb = SearchEngine.build(
            spark, w.filter(F.col("_r") > half).drop("_r"),
            str(tmp_path / "syn_b"), stem=True,
            n_buckets=16, bucket_groups=1, salt_bits=2,
        )
        # sidecar only on the NEWEST segment
        eb.set_synonyms([[a, b]])
        teng = TieredEngine(spark, [ea.index_dir, eb.index_dir])
        q = f"{a} {c}"
        got = teng.search_local(q, k=10, synonyms=True)
        exp = engine.search_local(q, k=10, synonyms=True)
        assert len(got) == len(exp) and got
        for (gd, gs), (ed, es) in zip(got, exp):
            assert gd == ed
            assert gs == pytest.approx(es, rel=1e-9)
    finally:
        _clear(engine)


def test_carry_synonyms_through_merge(tmp_path):
    """Lifecycle ops keep the sidecar: delta wins when both inputs
    carry one; base's survives a delete; absent stays absent."""
    import json
    import os

    from wiki_search_engine_spark.plans.merge import _carry_synonyms

    base, delta, out = (
        str(tmp_path / d) for d in ("base", "delta", "out")
    )
    for d in (base, delta, out):
        os.makedirs(d)
    json.dump([["a", "b"]], open(f"{base}/synonyms.json", "w"))
    json.dump([["c", "d"]], open(f"{delta}/synonyms.json", "w"))
    _carry_synonyms(base, delta, out)
    assert json.load(open(f"{out}/synonyms.json")) == [["c", "d"]]
    # delete path: no delta — base's config survives
    os.remove(f"{out}/synonyms.json")
    _carry_synonyms(base, None, out)
    assert json.load(open(f"{out}/synonyms.json")) == [["a", "b"]]
    # neither input has one -> none written
    os.remove(f"{out}/synonyms.json")
    os.remove(f"{base}/synonyms.json")
    os.remove(f"{delta}/synonyms.json")
    _carry_synonyms(base, delta, out)
    assert not os.path.exists(f"{out}/synonyms.json")


def test_synonyms_over_http(engine, syn_words):
    from wiki_search_engine_spark.server import start_server

    a, b, c = syn_words
    srv = start_server(engine, port=0, path_mode="local")
    try:
        engine.set_synonyms([[a, b]])
        port = srv.server_address[1]
        q = urllib.parse.quote(f"{a} {c}")
        base = f"http://127.0.0.1:{port}/query-stem?query={q}"
        with urllib.request.urlopen(
            base + "&optionName=tfidf&synonyms=true", timeout=30
        ) as r:
            on = json.load(r)
        exp = engine.search_local(
            f"{a} {c}", k=50, mode="tfidf", synonyms=True
        )
        got_ids = [int(x["file_id"]) for x in on["textResult"]]
        assert got_ids == [d for d, _ in exp[: len(got_ids)]]
    finally:
        _clear(engine)
        srv.shutdown()


def test_synonyms_distributed_paths_identity(engine, syn_words):
    """search_ids serves synonyms on EVERY path now: exhaustive routes
    through operators/scoring.score_synonyms, a wand request downgrades
    to the same aggregation form; both rank- and score-identical to the
    local kernel (VERDICT r4 item 5 — the ValueError guards are gone)."""
    a, b, c = syn_words
    try:
        engine.set_synonyms([[a, b]])
        q = f"{a} {c}"
        exp = engine.search_local(q, k=10, synonyms=True)
        assert exp
        for path in ("exhaustive", "wand"):
            got = [
                (int(r["docid"]), float(r["score"]))
                for r in engine.search_ids(
                    q, k=10, path=path, synonyms=True
                ).collect()
            ]
            assert [d for d, _ in got] == [d for d, _ in exp]
            for (gd, gs), (ed, es) in zip(got, exp):
                assert gs == pytest.approx(es, rel=1e-9)
    finally:
        _clear(engine)


def test_synonyms_distributed_compose_with_negation(engine, syn_words):
    a, b, c = syn_words
    try:
        engine.set_synonyms([[a, b]])
        q = f"{a} -{c}"
        exp = engine.search_local(
            q, k=10, synonyms=True, negation=True
        )
        got = [
            (int(r["docid"]), float(r["score"]))
            for r in engine.search_ids(
                q, k=10, path="wand", synonyms=True, negation=True
            ).collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in exp]
    finally:
        _clear(engine)


def test_synonyms_distributed_and_raises(engine, syn_words):
    a, b, c = syn_words
    try:
        engine.set_synonyms([[a, b]])
        with pytest.raises(ValueError):
            engine.search_ids(
                f"{a} {c}", k=5, path="exhaustive",
                semantics="and", synonyms=True,
            )
    finally:
        _clear(engine)


def test_tiered_distributed_synonyms(
    spark, engine, corpus_df, syn_words, tmp_path
):
    """TieredEngine.search_ids serves synonyms over the LIVE postings,
    identical to the tiered local path (newest segment's sidecar)."""
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.tiered import TieredEngine

    a, b, c = syn_words
    half = corpus_df.count() // 2
    w = corpus_df.withColumn(
        "_r", F.row_number().over(Window.orderBy("url"))
    )
    ea = SearchEngine.build(
        spark, w.filter(F.col("_r") <= half).drop("_r"),
        str(tmp_path / "synd_a"), stem=True,
        n_buckets=16, bucket_groups=1, salt_bits=2,
    )
    eb = SearchEngine.build(
        spark, w.filter(F.col("_r") > half).drop("_r"),
        str(tmp_path / "synd_b"), stem=True,
        n_buckets=16, bucket_groups=1, salt_bits=2,
    )
    eb.set_synonyms([[a, b]])
    teng = TieredEngine(spark, [ea.index_dir, eb.index_dir])
    q = f"{a} {c}"
    exp = teng.search_local(q, k=10, synonyms=True)
    assert exp
    got = [
        (int(r["docid"]), float(r["score"]))
        for r in teng.search_ids(q, k=10, synonyms=True).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in exp]
    for (gd, gs), (ed, es) in zip(got, exp):
        assert gs == pytest.approx(es, rel=1e-9)


def test_synonyms_http_distributed_parity(engine, syn_words):
    """&synonyms=true works on a wand-path server (used to 500) and
    matches the local serving ranks."""
    from wiki_search_engine_spark.server import start_server

    a, b, c = syn_words
    srv = start_server(engine, port=0, path_mode="wand")
    try:
        engine.set_synonyms([[a, b]])
        port = srv.server_address[1]
        q = urllib.parse.quote(f"{a} {c}")
        url = (
            f"http://127.0.0.1:{port}/query-stem?query={q}"
            "&optionName=bm25&synonyms=true"
        )
        with urllib.request.urlopen(url, timeout=60) as r:
            resp = json.load(r)
        exp = engine.search_local(f"{a} {c}", k=50, synonyms=True)
        got_ids = [int(x["file_id"]) for x in resp["textResult"]]
        assert got_ids == [d for d, _ in exp[: len(got_ids)]]
    finally:
        _clear(engine)
        srv.shutdown()


def test_synonyms_and_combination_is_http_400(engine, syn_words):
    """synonyms + semantics=and is CLIENT input: the server answers 400
    with the standard error body, not a 500 (ADVICE r4)."""
    import urllib.error

    from wiki_search_engine_spark.server import start_server

    a, b, c = syn_words
    srv = start_server(engine, port=0, path_mode="local")
    try:
        engine.set_synonyms([[a, b]])
        port = srv.server_address[1]
        q = urllib.parse.quote(f"{a} {c}")
        url = (
            f"http://127.0.0.1:{port}/query-stem?query={q}"
            "&synonyms=true&semantics=and"
        )
        try:
            urllib.request.urlopen(url, timeout=30)
            assert False, "expected HTTP error"
        except urllib.error.HTTPError as e:
            assert e.code == 400
            body = json.load(e)
            assert body["success"] is False
            assert "synonym" in body["error"]
    finally:
        _clear(engine)
        srv.shutdown()
