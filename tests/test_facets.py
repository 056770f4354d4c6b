"""Facet counts over the full match set: engine kernel vs brute
force, NOT composition, doc-values column pruning, HTTP field."""

import json
import urllib.error
import urllib.parse
import urllib.request

import pytest


def _brute_facets(engine, corpus_rows, docid_map, terms, field="lang"):
    """Expected: count field values over docs whose ANALYZED token set
    intersects terms (engine's own analyzer, full match set)."""
    out = {}
    for r in corpus_rows:
        toks = set(engine.analyze(r["text"])) if r["text"].strip() else set()
        if toks & set(terms):
            out[r[field]] = out.get(r[field], 0) + 1
    return out


def test_facet_counts_match_bruteforce(
    engine, corpus_rows, docid_map, fixture_queries
):
    for q in list(fixture_queries)[:3]:
        terms = engine.analyze(q)
        got = engine.facet_counts(q, field="lang")
        exp = _brute_facets(engine, corpus_rows, docid_map, terms)
        assert got == exp, q
        # full match set, not top-k: counts exceed any small page
        assert sum(got.values()) >= len(
            engine.search_local(q, k=5)
        )


def test_facet_counts_compose_with_not(engine, corpus_rows, docid_map):
    from wiki_search_engine_spark.sources.synth import vocabulary

    words, _ = vocabulary(42)
    q = f"{words[3]} {words[50]} -{words[20]}"
    got = engine.facet_counts(q, field="lang", negation=True)
    pos_terms = engine.analyze(f"{words[3]} {words[50]}")
    neg_terms = set(engine.analyze(words[20]))
    exp = {}
    for r in corpus_rows:
        toks = set(engine.analyze(r["text"]))
        if (toks & set(pos_terms)) and not (toks & neg_terms):
            exp[r["lang"]] = exp.get(r["lang"], 0) + 1
    assert got == exp
    # and the exclusion actually removed something
    assert sum(got.values()) < sum(
        engine.facet_counts(
            f"{words[3]} {words[50]}", field="lang"
        ).values()
    )


def test_facet_unknown_field_raises(engine):
    with pytest.raises(ValueError, match="facet"):
        engine.facet_counts("anything", field="snippet")


def test_facet_read_is_column_pruned(engine):
    """The doc-values read touches (docid, field, salt) ONLY — facet
    serving must never deserialize snippet/images bytes."""
    calls = {}
    real_ds = engine._side_dataset("docs")

    class Proxy:
        def __getattr__(self, name):
            return getattr(real_ds, name)

        def to_table(self, *a, **kw):
            calls["columns"] = kw.get("columns") or (a[0] if a else None)
            return real_ds.to_table(*a, **kw)

    engine._facet_cache = {}
    orig = engine._side_dataset
    engine._side_dataset = lambda name: (
        Proxy() if name == "docs" else orig(name)
    )
    try:
        engine.facet_counts("spark", field="lang")
    finally:
        engine._side_dataset = orig
        engine._facet_cache = {}
    assert set(calls["columns"]) == {"docid", "lang", "salt"}


def test_facets_over_http(engine, corpus_rows, docid_map):
    from wiki_search_engine_spark.server import start_server

    srv = start_server(engine, port=0, path_mode="local")
    try:
        port = srv.server_address[1]
        q = urllib.parse.quote("spark")
        url = (
            f"http://127.0.0.1:{port}/query-stem?query={q}"
            "&facets=lang"
        )
        with urllib.request.urlopen(url, timeout=30) as r:
            resp = json.load(r)
        assert resp["facets"]["lang"] == engine.facet_counts(
            "spark", field="lang"
        )
        # unknown facet field: client error, not a 500
        bad = (
            f"http://127.0.0.1:{port}/query-stem?query={q}"
            "&facets=bogus"
        )
        try:
            urllib.request.urlopen(bad, timeout=30)
            assert False, "expected 400"
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        srv.shutdown()


def test_tiered_facets_live_counts(spark, engine, corpus_df, tmp_path):
    """Tiered facet counts equal the compacted index's, and a deletes
    segment drops its docs from the counts."""
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.tiered import (
        TieredEngine, write_deletes_segment,
    )

    half = corpus_df.count() // 2
    w = corpus_df.withColumn(
        "_r", F.row_number().over(Window.orderBy("url"))
    )
    ea = SearchEngine.build(
        spark, w.filter(F.col("_r") <= half).drop("_r"),
        str(tmp_path / "fc_a"), stem=True,
        n_buckets=16, bucket_groups=1, salt_bits=2,
    )
    eb = SearchEngine.build(
        spark, w.filter(F.col("_r") > half).drop("_r"),
        str(tmp_path / "fc_b"), stem=True,
        n_buckets=16, bucket_groups=1, salt_bits=2,
    )
    from wiki_search_engine_spark.sources.synth import vocabulary

    teng = TieredEngine(spark, [ea.index_dir, eb.index_dir])
    q = vocabulary(42)[0][3]
    assert teng.facet_counts(q, field="lang") == (
        engine.facet_counts(q, field="lang")
    )
    # tombstone every matched doc of one lang bucket half: counts drop
    matched = {
        d for d, _ in engine.search_local(q, k=engine.n)
    }
    victims = sorted(matched)[:3]
    del_seg = write_deletes_segment(
        str(tmp_path / "fc_del"), docids=victims
    )
    teng2 = TieredEngine(
        spark, [ea.index_dir, eb.index_dir, del_seg]
    )
    before = teng.facet_counts(q, field="lang")
    after = teng2.facet_counts(q, field="lang")
    assert sum(after.values()) == sum(before.values()) - len(victims)


def test_facets_http_multi_field_parse(engine):
    """&facets accepts a comma list; duplicate/blank entries collapse;
    an unknown member 400s the whole request (client error)."""
    from wiki_search_engine_spark.sources.synth import vocabulary

    from wiki_search_engine_spark.server import start_server

    q0 = vocabulary(42)[0][3]
    srv = start_server(engine, port=0, path_mode="local")
    try:
        port = srv.server_address[1]
        q = urllib.parse.quote(q0)
        url = (
            f"http://127.0.0.1:{port}/query-stem?query={q}"
            "&facets=lang,%20lang,"
        )
        with urllib.request.urlopen(url, timeout=30) as r:
            resp = json.load(r)
        assert set(resp["facets"]) == {"lang"}
        assert resp["facets"]["lang"] == engine.facet_counts(
            q0, field="lang"
        )
        bad = (
            f"http://127.0.0.1:{port}/query-stem?query={q}"
            "&facets=lang,bogus"
        )
        try:
            urllib.request.urlopen(bad, timeout=30)
            assert False, "expected 400"
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        srv.shutdown()


def test_facet_top_caps_categories(engine):
    """top=N returns the N highest-count categories (value-asc
    tie-break) — a high-cardinality facet must never produce an
    unbounded response; &facet_top=N rides HTTP."""
    from wiki_search_engine_spark.sources.synth import vocabulary

    from wiki_search_engine_spark.server import start_server

    q0 = vocabulary(42)[0][3]
    full = engine.facet_counts(q0, field="lang")
    assert len(full) >= 2  # en + de in the synthetic corpus
    top1 = engine.facet_counts(q0, field="lang", top=1)
    expect = sorted(full, key=lambda c: (-full[c], c))[0]
    assert top1 == {expect: full[expect]}
    srv = start_server(engine, port=0, path_mode="local")
    try:
        import urllib.parse
        import urllib.request

        port = srv.server_address[1]
        url = (
            f"http://127.0.0.1:{port}/query-stem?query="
            f"{urllib.parse.quote(q0)}&facets=lang&facet_top=1"
        )
        with urllib.request.urlopen(url, timeout=30) as r:
            resp = json.load(r)
        assert resp["facets"]["lang"] == top1
    finally:
        srv.shutdown()


def test_facets_count_must_and_title_match_sets(
    spark, engine, index_dir, corpus_rows, docid_map
):
    """Under negation, +must and title: clauses gate the results, and
    facets count exactly that match set: each facet total equals a
    brute-force count over search_local(k=n), on both engines and over
    HTTP."""
    from collections import Counter

    from wiki_search_engine_spark.server import start_server
    from wiki_search_engine_spark.sources.synth import vocabulary
    from wiki_search_engine_spark.tiered import TieredEngine

    words = vocabulary(42)[0]
    lang = {docid_map[r["url"]]: r["lang"] for r in corpus_rows}
    queries = [
        f"{words[3]} +{words[50]}",
        f"+{words[3]} +{words[50]} -{words[20]}",
        f"title:doc {words[50]}",
        f"+title:doc {words[3]}",
        f"{words[3]} {words[50]} -title:doc",
    ]
    teng = TieredEngine(spark, [index_dir])
    expected = {}
    for q in queries:
        hits = engine.search_local(q, k=engine.n, negation=True)
        expected[q] = dict(Counter(lang[d] for d, _s in hits))
        for eng in (engine, teng):
            assert eng.facet_counts(q, field="lang", negation=True) == (
                expected[q]
            ), q
    # +must narrows the set below the OR reading of the same words
    assert sum(expected[queries[0]].values()) < sum(
        engine.facet_counts(queries[0], field="lang").values()
    )
    srv = start_server(engine, port=0, path_mode="local")
    try:
        port = srv.server_address[1]
        for q in queries[:2]:
            url = (
                f"http://127.0.0.1:{port}/query-stem?query="
                f"{urllib.parse.quote(q)}&negation=true&facets=lang"
            )
            with urllib.request.urlopen(url, timeout=30) as r:
                assert r.status == 200
                assert json.load(r)["facets"]["lang"] == expected[q]
    finally:
        srv.shutdown()
