"""Which public calls the traced run wraps, and the per-layer metrics it
derives from the spans, the build manifest and Spark's status store.

Layers are the package's modules:

  server     _Handler.do_GET (request root span, id from X-Request-Id)
  engine     SearchEngine.query_response / analyze / search_local /
             _cached_term_lists (term cache) / term_df (lexicon) /
             lookup_docs (hydration)
  wand       score_shard_topk / decode_block / merge_topk
  codec      decode_posting_list (whole-list decode, tiered path)
  tiered     TieredEngine.__init__ / query_response / search_local /
             lookup_docs
  pyarrow    parquet.read_table, named by the index subdirectory read
  plans      build stages, read from the manifest.json the build writes
"""

from __future__ import annotations

import json
import os
import statistics

from spans import Tracer, layer_table, wrap

BUILD_STAGES = ("tokens", "docs", "stats", "postings", "term_stats",
                "title_tf")
# what a default build leaves under the index dir; loose top-level files
# (meta.json, manifest.json) count as "files"
INDEX_PARTS = ("tokens", "docs", "doc_stats", "stats", "postings",
               "term_stats", "title_tf", "files")


def _read_table_name(args, kwargs):
    path = str(args[0] if args else kwargs.get("source", ""))
    for part, name in (("/postings", "postings.read"),
                       ("/term_stats", "lexicon.read"),
                       ("/docs", "hydrate.read")):
        if part in path:
            return name
    return "parquet.read"


def _filter_terms(args, kwargs, _out):
    for col, op, val in kwargs.get("filters") or ():
        if col == "term" and op == "in":
            return {"terms": len(val)}
    return {}


def install(tracer: Tracer) -> list:
    """Wrap every layer boundary; returns the undo list for
    ``spans.unwrap``."""
    import pyarrow.parquet as pq

    from wiki_search_engine_spark import engine, server, tiered
    from wiki_search_engine_spark.operators import codec, wand

    undo: list = []
    SE, TE = engine.SearchEngine, tiered.TieredEngine

    def w(owner, attr, name, attrs_of=None, rid_of=None):
        wrap(tracer, owner, attr, name, attrs_of, undo, rid_of)

    w(server._Handler, "do_GET", "http",
      rid_of=lambda a: a[0].headers.get("X-Request-Id"))
    w(SE, "query_response", "query_response")
    w(SE, "analyze", "analyze")
    w(SE, "search_local", "search")
    w(SE, "_cached_term_lists", "term_cache",
      lambda a, k, out: {"terms": len(dict.fromkeys(a[1]))})
    w(SE, "term_df", "lexicon")
    w(SE, "lookup_docs", "hydrate", lambda a, k, out: {"docs": len(a[1])})
    w(wand, "score_shard_topk", "score",
      lambda a, k, out: {"blocks_in": sum(len(t["blocks"]) for t in a[0])})
    w(wand, "decode_block", "decode")
    w(wand, "merge_topk", "topk_merge")
    w(codec, "decode_posting_list", "tiered.decode",
      lambda a, k, out: {"blocks": len(a[0])})
    w(TE, "__init__", "tiered.open")
    w(TE, "query_response", "query_response")
    w(TE, "search_local", "tiered.search")
    w(TE, "lookup_docs", "tiered.hydrate")
    w(pq, "read_table", _read_table_name, _filter_terms)
    return undo


def query_layers(tracer: Tracer, reqs: list) -> dict[str, float]:
    """Per-request means over the spans of ``reqs`` (loadgen.Request)."""
    rids = {str(r.rid) for r in reqs}
    spans = [s for s in tracer.spans if s.rid in rids]
    t = layer_table(spans)
    n = max(1, len(reqs))

    def ms(name, key="ms"):
        return t.get(name, {}).get(key, 0.0) / n

    def calls(name):
        return t.get(name, {}).get("calls", 0) / n

    def count(name, key):
        return t.get(name, {}).get("counts", {}).get(key, 0) / n

    qr = {s.rid: s.ms for s in spans if s.name == "query_response"}
    blocks_in = count("score", "blocks_in")
    terms = count("term_cache", "terms")
    loaded = count("postings.read", "terms")
    return {
        "analyze.ms": ms("analyze"),
        "lexicon.ms": ms("lexicon"),
        "lexicon.reads": calls("lexicon.read"),
        "postings.ms": ms("postings.read"),
        "postings.reads": calls("postings.read"),
        "postings.terms_loaded": loaded,
        "term_cache.hit_ratio": 1.0 - loaded / terms if terms else 0.0,
        "decode.ms": ms("decode"),
        "decode.blocks": calls("decode"),
        "wand.blocks_in": blocks_in,
        "wand.decode_ratio": (
            calls("decode") / blocks_in if blocks_in else 0.0
        ),
        "score.self_ms": ms("score", "self_ms"),
        "topk_merge.ms": ms("topk_merge"),
        "hydrate.ms": ms("hydrate"),
        "hydrate.reads": calls("hydrate.read"),
        "hydrate.docs": count("hydrate", "docs"),
        "assemble.self_ms": ms("query_response", "self_ms"),
        "http.self_ms": statistics.fmean(
            [r.wall_ms - qr.get(str(r.rid), 0.0) for r in reqs]
        ) if reqs else 0.0,
    }


def tiered_layers(tracer: Tracer, reqs: list) -> dict[str, float]:
    rids = {str(r.rid) for r in reqs}
    t = layer_table([s for s in tracer.spans if s.rid in rids])
    n = max(1, len(reqs))
    opens = [s.ms for s in tracer.spans if s.name == "tiered.open"]
    return {
        "tiered.open.ms": opens[-1] if opens else 0.0,
        "tiered.search.ms": t.get("tiered.search", {}).get("ms", 0.0) / n,
        "tiered.decode.ms": t.get("tiered.decode", {}).get("ms", 0.0) / n,
        "tiered.decode.blocks": t.get("tiered.decode", {}).get(
            "counts", {}).get("blocks", 0) / n,
        "tiered.hydrate.ms": t.get("tiered.hydrate", {}).get("ms", 0.0) / n,
    }


def build_layers(index_dir: str) -> dict[str, float]:
    """Stage wall/rows/bytes from the build manifest; bytes per index
    subdirectory from the files the build left on disk."""
    with open(f"{index_dir}/manifest.json") as f:
        man = json.load(f)
    out: dict[str, float] = {}
    for stage in BUILD_STAGES:
        units = [
            v for k, v in man.items()
            if k == stage or (stage == "postings" and k.startswith("postings_g"))
        ]
        out[f"build.{stage}.ms"] = float(sum(u.get("wall_ms", 0) for u in units))
        out[f"build.{stage}.rows_out"] = float(
            sum(u.get("rows_out", 0) for u in units)
        )
        if any("bytes_out" in u for u in units):
            out[f"build.{stage}.bytes_out"] = float(
                sum(u.get("bytes_out", 0) for u in units)
            )
    per = index_bytes(index_dir)[1]
    for name in INDEX_PARTS:
        out[f"index.bytes.{name}"] = float(per.get(name, 0))
    return out


def index_bytes(index_dir: str) -> tuple[int, dict[str, int]]:
    """(total bytes, bytes per top-level subdirectory; loose top-level
    files count under 'files')."""
    per: dict[str, int] = {}
    for entry in os.scandir(index_dir):
        key = entry.name if entry.is_dir() else "files"
        if entry.is_dir():
            size = sum(
                os.path.getsize(os.path.join(root, f))
                for root, _d, files in os.walk(entry.path) for f in files
            )
        else:
            size = entry.stat().st_size
        per[key] = per.get(key, 0) + size
    return sum(per.values()), per


def spark_layers(spark, group: str) -> tuple[dict[str, float], dict]:
    """Jobs, tasks and failed tasks of a job group from the status
    tracker; shuffle write, spill and task skew (sum over stages of the
    slowest task's run time over the median task's) from the JVM status
    store. Returns (metrics, notes)."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(int(s) for s in info.stageIds)
    tasks = failed = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None:
            tasks += info.numCompletedTasks
            failed += info.numFailedTasks
    out = {
        "spark.jobs": float(len(jobs)),
        "spark.tasks": float(tasks),
        "spark.tasks_failed": float(failed),
    }
    notes: dict = {}
    try:
        gw = sc._gateway
        store = sc._jsc.sc().statusStore()
        quant = gw.new_array(gw.jvm.double, 2)
        quant[0], quant[1] = 0.5, 1.0
        shuffle = spill = 0
        sum_max = sum_med = 0.0
        for s in sorted(stages):
            attempts = store.stageData(s, False, None, False,
                                       gw.new_array(gw.jvm.double, 0))
            for i in range(attempts.length()):
                sd = attempts.apply(i)
                shuffle += sd.shuffleWriteBytes()
                spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                if sd.numCompleteTasks() < 2:
                    continue
                summ = store.taskSummary(s, sd.attemptId(), quant)
                if summ.isDefined():
                    rt = summ.get().executorRunTime()
                    sum_med += rt.apply(0)
                    sum_max += rt.apply(1)
        out["spark.shuffle_write_bytes"] = float(shuffle)
        out["spark.spill_bytes"] = float(spill)
        out["spark.task_skew"] = sum_max / sum_med if sum_med else 1.0
    except Exception as e:  # the JVM status store is not a public API
        notes["spark_status_store"] = f"unmeasured: {e!r}"
    return out, notes
