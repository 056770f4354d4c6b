"""Seeded inputs: base corpus, re-crawl batch and the two query mixes.

Everything here is a pure function of the workload seed. The program
under test only ever receives the generated corpus files and HTTP query
strings.
"""

from __future__ import annotations

import os
import random

# base corpus and re-crawl batch sizes; the batch is ~10% of the base,
# half of it re-crawling existing urls with new content
BASE_DOCS = 1000
DELTA_DOCS = 100
TAIL_MIN_RANK = 2500  # serve_tail draws vocabulary terms past this rank


_P1, _P2, _P3 = 11400714785074694791, 14029467366897019727, 1609587929392839161
_P4, _P5 = 9650029242287828579, 2870177450012600261
_M = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M, 31) * _P1 & _M


def xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data``, unsigned (Spark's ``xxhash64`` uses seed 42)."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed,
             (seed - _P1) & _M]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _round(v[j], int.from_bytes(
                    data[i + 8 * j:i + 8 * j + 8], "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
             + _rotl(v[3], 18)) & _M
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= int.from_bytes(data[i:i + 4], "little") * _P1 & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= data[i] * _P5 & _M
        h = _rotl(h, 11) * _P1 & _M
        i += 1
    h ^= h >> 33
    h = h * _P2 & _M
    h ^= h >> 29
    h = h * _P3 & _M
    return h ^ (h >> 32)


def docid_of(url: str) -> int:
    """The docid the build derives from a url: xxhash64(url) >> 1,
    computed here independently of Spark."""
    return xxh64(url.encode("utf-8")) >> 1


def _url(i: int) -> str:
    return f"https://en.wikipedia.org/wiki/Doc_{i:06d}"


def base_rows(seed: int, n: int = BASE_DOCS) -> list[dict]:
    from wiki_search_engine_spark.sources.synth import doc_row

    return [doc_row(i, seed) for i in range(n)]


def delta_rows(seed: int, n_base: int = BASE_DOCS,
               n: int = DELTA_DOCS) -> list[dict]:
    """Re-crawl batch: new content (doc indexes past the base) whose urls
    alternate between a seeded sample of base urls and brand-new urls."""
    from wiki_search_engine_spark.sources.synth import doc_row

    rng = random.Random(seed * 7919 + 1)
    recrawled = rng.sample(range(n_base), (n + 1) // 2)
    rows = []
    for j in range(n):
        r = doc_row(n_base + j, seed)
        if j % 2 == 0:
            r["url"] = _url(recrawled[j // 2])
        rows.append(r)
    return rows


def write_corpus(rows: list[dict], out_dir: str) -> None:
    """One parquet file in the corpus schema with ``text`` NULL, so the
    build runs its own html extraction."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    cols = {
        "url": pa.array([r["url"] for r in rows], pa.string()),
        "warc_ts": pa.array(
            [r["warc_ts"] for r in rows], pa.timestamp("us", tz="UTC")
        ),
        "html": pa.array([r["html"] for r in rows], pa.binary()),
        "text": pa.nulls(len(rows), pa.string()),
        "lang": pa.array([r["lang"] for r in rows], pa.string()),
    }
    pq.write_table(pa.table(cols), f"{out_dir}/part-00000.parquet")


def setup_query(seed: int) -> str:
    """The set-up probe: the three most frequent vocabulary terms, so it
    hydrates a full top-k on every seed."""
    from wiki_search_engine_spark.sources.synth import vocabulary

    return " ".join(vocabulary(seed)[0][:3])


class QueryMix:
    """Endless seeded stream of 1-3 term queries.

    ``head``: terms drawn from the corpus's own Zipf vocabulary (s~1.1),
    so posting lists are long and terms repeat. ``tail``: terms drawn
    uniformly from vocabulary ranks >= TAIL_MIN_RANK and from the per-doc
    ``rare{i}x{j}`` terms, so lists are short and rarely repeat."""

    def __init__(self, kind: str, seed: int, stream: int,
                 n_docs: int = BASE_DOCS):
        from wiki_search_engine_spark.sources.synth import vocabulary

        if kind not in ("head", "tail"):
            raise ValueError(f"unknown query mix {kind!r}")
        self.kind = kind
        self.words, self.cum = vocabulary(seed)
        self.n_docs = n_docs
        self.rng = random.Random((seed << 8) ^ stream)

    def _term(self) -> str:
        import bisect

        rng = self.rng
        if self.kind == "head":
            i = bisect.bisect_left(self.cum, rng.random())
            return self.words[min(i, len(self.words) - 1)]
        if rng.random() < 0.5:
            return self.words[rng.randrange(TAIL_MIN_RANK, len(self.words))]
        return f"rare{rng.randrange(self.n_docs)}x{rng.randint(0, 1)}"

    def take(self, n: int) -> list[str]:
        return [
            " ".join(self._term() for _ in range(self.rng.randint(1, 3)))
            for _ in range(n)
        ]
