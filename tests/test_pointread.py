"""Footer-cached point reads (pointread.PointReader): every driver-side
lookup returns exactly the rows a plain filtered ``pq.read_table`` of
the same directory returns — absent keys, a missing salt directory,
multi-file multi-row-group directories, a sidecar rewritten under a
live engine — opening an engine parses no footer, and concurrent HTTP
requests racing term-cache eviction stay rank-identical."""

import json
import os
import random
import shutil
import sys
import urllib.parse
import urllib.request
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq
import pytest

# (subdirectory, sort key) of every table the engine point-reads
KEYED = (
    ("docs", "docid"),
    ("postings", "term"),
    ("term_stats", "term"),
    ("title_tf", "term"),
)


def _plain(path, key, keys, columns):
    """The pre-reader read: one filtered read_table per directory."""
    if not os.path.isdir(path):
        return []
    return pq.read_table(
        path, columns=columns, filters=[(key, "in", list(keys))]
    ).to_pylist()


def _resplit(leaf, key, n_files=3, row_group_size=4):
    """Rewrite a leaf directory as ``n_files`` key-sorted files of tiny
    row groups, so lookups must prune across files and row groups."""
    tbl = pq.read_table(leaf).sort_by(key)
    for name in os.listdir(leaf):
        os.remove(os.path.join(leaf, name))
    step = -(-len(tbl) // n_files)
    for i in range(n_files):
        part = tbl.slice(i * step, step)
        if len(part):
            pq.write_table(
                part, f"{leaf}/part-{i}.parquet",
                row_group_size=row_group_size,
            )


@pytest.fixture(scope="module")
def split_dir(engine, index_dir, tmp_path_factory):
    """A copy of the (built) test index whose keyed directories hold several
    files of several row groups each, with ``docs/salt=3`` removed."""
    out = str(tmp_path_factory.mktemp("split") / "idx")
    shutil.copytree(index_dir, out)
    for sub, key in KEYED:
        for leaf in os.listdir(f"{out}/{sub}"):
            if "=" in leaf:
                _resplit(f"{out}/{sub}/{leaf}", key)
    shutil.rmtree(f"{out}/docs/salt=3")
    return out


@pytest.fixture(scope="module")
def split_engine(spark, split_dir):
    from wiki_search_engine_spark.engine import SearchEngine

    return SearchEngine(spark, split_dir)


def _all_docids(index_dir):
    return pq.read_table(
        f"{index_dir}/doc_stats", columns=["docid"]
    ).column("docid").to_pylist()


def _by_docid(rows):
    return sorted(rows, key=lambda r: r["docid"])


def test_split_index_has_multi_row_group_dirs(split_dir):
    leaf = f"{split_dir}/docs/salt=0"
    files = [f for f in os.listdir(leaf) if f.endswith(".parquet")]
    assert len(files) > 1
    assert all(
        pq.read_metadata(f"{leaf}/{f}").num_row_groups > 1 for f in files
    )


def test_lookup_docs_matches_plain_read(split_engine, split_dir):
    from wiki_search_engine_spark.engine import salt_of

    eng = split_engine
    cols = ["docid", "url", "title", "snippet", "images", "image_count"]
    ids = _all_docids(split_dir)
    missing_salt = [d for d in ids if salt_of(d, eng.salt_bits) == 3]
    assert missing_salt  # the removed directory held real docs
    absent = [1, 2, (1 << 62) + 5]
    rng = random.Random(7)
    for pick in (
        rng.sample(ids, 12), absent, missing_salt, ids,
        rng.sample(ids, 5) + absent + missing_salt[:2],
    ):
        exp = []
        for s in sorted({salt_of(d, eng.salt_bits) for d in pick}):
            exp += _plain(
                f"{split_dir}/docs/salt={s}", "docid",
                [d for d in pick if salt_of(d, eng.salt_bits) == s],
                cols,
            )
        assert _by_docid(eng.lookup_docs(pick)) == _by_docid(exp)
    assert eng.lookup_docs(missing_salt) == []
    assert eng.lookup_docs(absent) == []


def test_lexicon_postings_title_match_plain_read(
    split_engine, split_dir, engine
):
    from wiki_search_engine_spark.operators.postings import term_bucket
    from wiki_search_engine_spark.sources.synth import vocabulary

    eng = split_engine
    words = vocabulary(42)[0]
    # "doc" is the one title-field term of the synthetic corpus
    terms = list(dict.fromkeys(eng.analyze(
        " ".join(words[:40] + words[500:520]) + " doc"
    ))) + ["zzznotaterm", "qqqalsomissing"]

    def plain_by_bucket(sub, cols):
        rows = []
        for b in sorted({term_bucket(t, eng.n_buckets) for t in terms}):
            rows += _plain(
                f"{split_dir}/{sub}/bucket={b}", "term",
                [t for t in terms if term_bucket(t, eng.n_buckets) == b],
                cols,
            )
        return rows

    exp_df = {
        r["term"]: r["df"]
        for r in plain_by_bucket("term_stats", ["term", "df"])
    }
    assert eng.term_df(terms) == exp_df
    assert eng.term_df(terms) == engine.term_df(terms)

    lists = eng._cached_term_lists(terms)
    exp_lists = {t: [] for t in terms}
    for r in plain_by_bucket("postings", ["term", "salt", "blocks"]):
        exp_lists[r["term"]].append((r["salt"], r["blocks"]))
    for t in terms:
        df, salted = lists[t]
        assert df == exp_df.get(t, 0), t
        assert sorted(salted, key=lambda x: x[0]) == sorted(
            exp_lists[t], key=lambda x: x[0]
        ), t

    trows = eng._title_rows(terms)
    exp_t = plain_by_bucket("title_tf", ["term", "docid", "tf", "doc_len"])
    assert any(r["term"] == "doc" for r in exp_t)
    for t in terms:
        mine = sorted(
            (r["docid"], r["tf"], r["doc_len"])
            for r in exp_t if r["term"] == t
        )
        d, tf, dl = trows[t]
        assert sorted(
            zip(d.tolist(), tf.astype(int).tolist(),
                dl.astype(int).tolist())
        ) == mine, t
    # scoring over the re-split files is the original index's, exactly
    q = f"{words[3]} {words[50]} {words[1]} doc"
    assert eng.search_local(q, k=20) == engine.search_local(q, k=20)
    assert eng.search_local(q, k=20, mode="bm25f") == (
        engine.search_local(q, k=20, mode="bm25f")
    )


def test_row_groups_are_pruned(split_engine, split_dir, monkeypatch):
    """One id in a multi-file, multi-row-group directory reads exactly
    one row group."""
    from wiki_search_engine_spark.engine import salt_of

    eng = split_engine
    d = next(
        x for x in _all_docids(split_dir)
        if salt_of(x, eng.salt_bits) == 0
    )
    eng.lookup_docs([d])  # footers parsed
    read = []
    orig = pq.ParquetFile.read_row_groups

    def counting(self, row_groups, *a, **kw):
        read.append(len(row_groups))
        return orig(self, row_groups, *a, **kw)

    monkeypatch.setattr(pq.ParquetFile, "read_row_groups", counting)
    assert [r["docid"] for r in eng.lookup_docs([d])] == [d]
    assert sum(read) == 1


def test_sidecar_rewrite_under_live_engine_is_visible(
    spark, engine, index_dir, tmp_path
):
    """build_title_tf() rewrites title_tf/ beneath a live engine whose
    reader already cached that directory: the new files are read."""
    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.sources.synth import vocabulary

    live = str(tmp_path / "live")
    shutil.copytree(index_dir, live)

    def parquet_files():
        return {
            f for _r, _d, fs in os.walk(f"{live}/title_tf") for f in fs
            if f.endswith(".parquet")
        }

    eng = SearchEngine(spark, live)
    q = " ".join(vocabulary(42)[0][:3]) + " doc"
    assert len(eng._title_rows(["doc"])["doc"][0])  # dir cached
    before = eng.search_local(q, k=10, mode="bm25f")
    old_files = parquet_files()
    eng.build_title_tf()
    assert not (old_files & parquet_files())  # every cached file is gone
    assert eng.search_local(q, k=10, mode="bm25f") == before


def test_engine_open_parses_no_footer(
    spark, engine, index_dir, monkeypatch
):
    """Opening an engine must not open the keyed directories (that
    would put every footer parse into set-up time); the first query
    parses the ones it touches."""
    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.sources.synth import vocabulary

    parsed = []
    orig = pq.read_metadata

    def counting(where, *a, **kw):
        parsed.append(str(where))
        return orig(where, *a, **kw)

    monkeypatch.setattr(pq, "read_metadata", counting)

    def keyed(paths):
        return [
            p for p in paths
            if any(f"/{sub}/" in p for sub in
                   ("docs", "postings", "term_stats"))
        ]

    eng = SearchEngine(spark, index_dir, cache_terms=16)
    assert keyed(parsed) == []
    eng.query_response(vocabulary(42)[0][3], option_name="bm25")
    touched = keyed(parsed)
    assert any("/docs/" in p for p in touched)
    assert any("/postings/" in p for p in touched)
    assert any("/term_stats/" in p for p in touched)
    # and each footer parses once: a repeat query adds none
    n = len(parsed)
    eng.query_response(vocabulary(42)[0][3], option_name="bm25")
    assert len(parsed) == n


def test_concurrent_requests_racing_cache_eviction(
    spark, engine, index_dir
):
    """6 client threads, more distinct queries than a 2-term cache
    holds: every response equals the sequential uncached engine's."""
    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.server import start_server
    from wiki_search_engine_spark.sources.synth import vocabulary

    words = vocabulary(42)[0]
    queries = [
        f"{words[i]} {words[i + 7]} {words[3 * i + 100]}"
        for i in range(24)
    ]

    def ranked(resp):
        return [(r["file_id"], r["score"]) for r in resp["textResult"]]

    expected = {
        q: ranked(engine.query_response(q, option_name="bm25", k=20))
        for q in queries
    }
    assert engine._cache_cap == 0
    srv = start_server(
        SearchEngine(spark, index_dir, cache_terms=2),
        port=0, path_mode="local",
    )
    port = srv.server_address[1]

    def fetch(q):
        url = (
            f"http://127.0.0.1:{port}/query-stem?optionName=bm25&k=20"
            f"&query={urllib.parse.quote(q)}"
        )
        with urllib.request.urlopen(url, timeout=60) as r:
            return q, ranked(json.loads(r.read()))

    work = queries * 3
    random.Random(3).shuffle(work)
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # more preemption inside the caches
    try:
        with ThreadPoolExecutor(6) as pool:
            got = list(pool.map(fetch, work, timeout=300))
    finally:
        sys.setswitchinterval(switch)
        srv.shutdown()
    assert len(got) == len(work)
    for q, res in got:
        assert res == expected[q], q
