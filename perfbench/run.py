"""Search-engine benchmark: one index life cycle per run.

    python3 perfbench/run.py --workload serve_head --seed 1 --seconds 12 \
        --trace 0

Every run, on ``local[nproc]`` Spark in this one process:

1. writes a seeded corpus (``sources.synth``, ``text`` NULL so the build
   runs the html extraction) and builds it with the ``run_engine.py
   build`` defaults (64 buckets, 4 bucket groups, salt_bits 3) on a
   fresh JVM, as the CLI does;
2. ``SETUP_REPS`` times: opens ``SearchEngine(cache_terms=1024)`` behind
   ``SearchServer`` (the ``run_engine.py serve`` defaults: local path) and
   answers one fixed query of the three most frequent vocabulary terms
   with the term cache empty; ``setup_s`` is the median;
3. serves the workload's query mix over ``GET /query-stem``
   (optionName=bm25, default k) from a load-generator child process: a
   sequential warm-up, then an open loop at the workload's fixed rate for
   ``--seconds``;
4. checks every set-up and open-loop response against
   ``oracle_py.IndexOracle``
   built over the same corpus and docids (rank-identical docids, scores
   to 1e-9, each url hydrated for its own docid).

``--trace 1`` runs the same steps untraced, measures capacity with nproc
closed-loop clients, then wraps the layer boundaries (layers.py) and
repeats the open loop traced on the same server, so tracing overhead is
the ratio of the two p50s. It then builds a ~10% re-crawl batch as a
delta segment, serves the mix from ``TieredEngine([base, delta])`` and
merges base and delta with ``SearchEngine.merge`` (the ``run_engine.py
merge`` defaults); tiered responses must equal the merged index's and
capacity-phase responses must all be HTTP 200.

The last stdout line is the result JSON: end-to-end metrics untraced,
per-layer metrics traced. The complete result (all metrics, sample
counts, failures, layer table, environment, seed) goes to
``.perfbench/results/<workload>-seed<seed>-trace<t>.json`` in the
checkout, the spans of a traced run beside it as ``.spans.jsonl``.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import resource
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

# Open-loop rates are fixed constants, ~40% of the capacity each mix
# reached on the seed code (4 cores, nproc closed-loop clients): low
# enough that latency is mostly service time, not queueing on the GIL.
WORKLOADS = {
    "serve_head": {"mix": "head", "rate": 17.0},
    "serve_tail": {"mix": "tail", "rate": 24.0},
}
# traced runs' closed loop: the first window settles, the rest count
CAPACITY_WINDOWS = 3
CAPACITY_WINDOW_S = 1.0
SETUP_REPS = 11
WARMUP_QUERIES = 40
TIERED_WARMUP = 10
TIERED_QUERIES = 100
K = 50  # the server's default k
BUILD_ARGS = {"n_buckets": 64, "bucket_groups": 4, "salt_bits": 3}
CACHE_TERMS = 1024


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--result", help="result file (default under "
                   ".perfbench/results/ in the checkout)")
    p.add_argument("--docs", type=int, default=None,
                   help="base corpus size (self-test only)")
    p.add_argument("--inject-wrong-result", action="store_true",
                   help="corrupt one checked response (self-test only)")
    return p.parse_args(argv)


def require_package() -> None:
    """The benchmark measures the checkout's package; without it there is
    nothing to run."""
    if not os.path.isfile(
        os.path.join(ROOT, "wiki_search_engine_spark", "engine.py")
    ):
        sys.stderr.write(
            f"perfbench: no wiki_search_engine_spark package under {ROOT}\n"
        )
        raise SystemExit(2)
    sys.path.insert(0, ROOT)


def start_spark(work: str):
    from wiki_search_engine_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    mem = os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # spark-submit's own JVM
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"{java_opts} -Xms{mem}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def vm_hwm_mb(pid: int | None) -> float:
    if pid is None:
        return 0.0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def cpu_snapshot(jvm: int | None) -> dict:
    """CPU seconds so far: this process, its JVM, and the machine's
    /proc/stat busy, idle and steal totals."""
    tick = os.sysconf("SC_CLK_TCK")
    out = {"self": time.process_time()}
    if jvm is not None:
        with open(f"/proc/{jvm}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        out["jvm"] = (int(fields[11]) + int(fields[12])) / tick
    with open("/proc/stat") as f:
        cpu = [int(x) / tick for x in f.readline().split()[1:]]
    out["idle"] = cpu[3] + cpu[4]
    out["steal"] = cpu[7]
    out["busy"] = sum(cpu[:8]) - out["idle"] - out["steal"]
    return out


def cpu_delta(a: dict, b: dict) -> dict:
    return {k: b[k] - a[k] for k in a}


def timed_build(spark, corpus_dir: str, index_dir: str, group: str):
    from wiki_search_engine_spark.engine import SearchEngine

    spark.sparkContext.setJobGroup(group, group)
    t = time.perf_counter()
    SearchEngine.build(
        spark, spark.read.parquet(corpus_dir), index_dir, **BUILD_ARGS
    )
    return time.perf_counter() - t


def serve_in_thread(engine):
    """``server.start_server`` with a short shutdown poll: the default
    0.5 s poll only delays ``shutdown()``, never a request, and the
    set-up is repeated SETUP_REPS times per run."""
    import threading

    from wiki_search_engine_spark.server import SearchServer

    server = SearchServer(engine, "127.0.0.1", 0, "local")
    threading.Thread(target=server.serve_forever, args=(0.02,),
                     daemon=True).start()
    return server


def serving_setup(spark, index_dir: str, query: str):
    """Open the engine, start the server and answer ``query`` with the
    term cache still empty; returns (server, request, seconds)."""
    import loadgen

    from wiki_search_engine_spark.engine import SearchEngine

    t = time.perf_counter()
    server = serve_in_thread(
        SearchEngine(spark, index_dir, cache_terms=CACHE_TERMS)
    )
    req = loadgen.Request(0, query, t)
    loadgen.send(server.server_address[1], req)
    return server, req, time.perf_counter() - t


def stop_server(server) -> None:
    server.shutdown()
    server.server_close()


def same_ranking(got, exp) -> str | None:
    """None if ``got`` [(docid, score, url)] equals ``exp``
    [(docid, score)] rank for rank, scores to 1e-9; else the reason."""
    if [g[0] for g in got] != [e[0] for e in exp]:
        return "docids differ"
    for g, e in zip(got, exp):
        if abs(g[1] - e[1]) > 1e-9 * max(1.0, abs(e[1])):
            return f"score {g[1]!r} != {e[1]!r} for docid {e[0]}"
    return None


def check(reqs, url_docid, expected=None) -> list[dict]:
    """Failures among ``reqs``: transport errors, non-200 responses and,
    when ``expected(query)`` gives the reference ranking, wrong rankings
    and urls hydrated for another docid."""
    bad = []
    for r in reqs:
        why = r.error
        if why is None and r.status != 200:
            why = f"HTTP {r.status}"
        if why is None and expected is not None:
            why = same_ranking(r.results, expected(r.query))
            for d, _s, url in r.results if why is None else ():
                if url_docid.get(url) != d:
                    why = f"url {url} hydrated for docid {d}"
                    break
        if why is not None:
            bad.append({"rid": r.rid, "query": r.query, "why": why})
    return bad


class Run:
    """One run: inputs, base build, serving, and in traced runs a traced
    open loop plus the re-crawl phase; ``result`` assembles the complete
    result."""

    def __init__(self, args):
        import loadgen
        import workload as wl

        self.args = args
        self.spec = WORKLOADS[args.workload]
        self.clients = loadgen.max_threads()
        loadgen.check_threads(self.clients)
        self.n_base = args.docs or wl.BASE_DOCS
        self.work = os.path.join(
            STATE, "work", f"{args.workload}-{args.seed}-{os.getpid()}"
        )
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.phases: dict[str, float] = {}
        self.samples: dict = {}
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.layer_notes: dict = {}
        self.tracer = None
        self.setup_reqs: list = []
        self.cap_reqs: list = []
        self.traced_reqs: list = []
        self.tiered_reqs: list = []

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def prepare(self) -> None:
        """Seeded inputs and the oracle; runs while the JVM starts."""
        import workload as wl

        from wiki_search_engine_spark.oracle_py import IndexOracle

        t = time.perf_counter()
        seed, n = self.args.seed, self.n_base
        self.base = wl.base_rows(seed, n)
        self.delta = wl.delta_rows(seed, n, max(2, n // 10))
        wl.write_corpus(self.base, self.path("corpus_base"))
        wl.write_corpus(self.delta, self.path("corpus_delta"))
        self.mix = {
            name: wl.QueryMix(self.spec["mix"], seed, stream, n)
            for stream, name in enumerate(
                ("warm", "capacity", "open", "traced", "tiered"))
        }
        self.setup_query = wl.setup_query(seed)
        self.url_docid = {
            r["url"]: wl.docid_of(r["url"]) for r in self.base + self.delta
        }
        self.oracle = IndexOracle(stem=True)
        for r in self.base:
            self.oracle.add_document(self.url_docid[r["url"]], r["text"])
        self.phases["inputs_s"] = time.perf_counter() - t

    def execute(self) -> dict:
        from concurrent.futures import ThreadPoolExecutor

        spark = None
        try:
            with ThreadPoolExecutor(1) as pool:
                inputs = pool.submit(self.prepare)
                t = time.perf_counter()
                spark = start_spark(self.work)
                self.phases["spark_start_s"] = time.perf_counter() - t
            inputs.result()
            self.build_phase(spark)
            # the benchmark's own objects (corpus, oracle) are long-lived:
            # keep the collector from re-scanning them while serving
            gc.collect()
            gc.freeze()
            self.serve_phase(spark)
            if self.args.trace:
                self.recrawl_phase(spark)
            self.check_phase(spark)
            if self.args.trace:
                self.trace_phase(spark)
            return self.result(spark)
        finally:
            gc.unfreeze()
            if self.tracer is not None:
                from spans import unwrap

                unwrap(self.undo)
            if spark is not None:
                stop_spark(spark)
            shutil.rmtree(self.work, ignore_errors=True)

    def build_phase(self, spark) -> None:
        """The timed base build, on the fresh JVM as the CLI runs it."""
        import layers

        self.build_s = timed_build(
            spark, self.path("corpus_base"), self.path("base"), "base_build"
        )
        self.phases["base_build_s"] = self.build_s
        n = len(self.base)
        self.e2e["build_docs_per_s"] = n / self.build_s
        self.e2e["index_bytes_per_doc"] = (
            layers.index_bytes(self.path("base"))[0] / n
        )

    def serve_phase(self, spark) -> None:
        """Serving set-up (repeated), a sequential warm-up that fills the
        term cache, then the open loop at the workload's fixed rate for
        --seconds. Traced runs add the closed-loop capacity phase, then
        wrap the layers and repeat the open loop on the same server."""
        import loadgen

        setups, server = [], None
        for i in range(SETUP_REPS):
            if server is not None:
                stop_server(server)
            server, req, s = serving_setup(spark, self.path("base"),
                                           self.setup_query)
            req.rid = i
            self.setup_reqs.append(req)
            setups.append(s)
        port = server.server_address[1]
        rate = self.spec["rate"]
        n_open = max(1, int(round(rate * self.args.seconds)))
        try:
            loadgen.run({
                "mode": "sequential", "port": port, "rid_base": 1 * 10**6,
                "queries": self.mix["warm"].take(WARMUP_QUERIES),
            })
            cpu0 = cpu_snapshot(jvm_pid(spark))
            self.open_reqs, open_wall = loadgen.run({
                "mode": "open", "port": port, "rid_base": 2 * 10**6,
                "queries": self.mix["open"].take(n_open), "rate": rate,
            })
            cpu = cpu_delta(cpu0, cpu_snapshot(jvm_pid(spark)))
            # peak RSS of the untraced run: this process + its JVM
            self.rss = {
                "python": resource.getrusage(
                    resource.RUSAGE_SELF).ru_maxrss / 1024.0,
                "jvm": vm_hwm_mb(jvm_pid(spark)),
            }
            if self.args.trace:
                self.capacity_phase(port)
                import layers
                from spans import Tracer

                self.tracer = Tracer()
                self.undo = layers.install(self.tracer)
                self.traced_reqs, _ = loadgen.run({
                    "mode": "open", "port": port, "rid_base": 4 * 10**6,
                    "queries": self.mix["traced"].take(n_open),
                    "rate": rate,
                })
        finally:
            stop_server(server)
        lat = [r.latency_ms for r in self.open_reqs]
        self.e2e.update({
            "setup_s": statistics.median(setups),
            # this process's CPU (server threads and pyarrow's pool; the
            # load generator is another process) per open-loop request:
            # unlike wall-clock latency it excludes CPU stolen by the host
            "query_cpu_ms": 1000.0 * cpu["self"] / len(self.open_reqs),
            "peak_rss_mb": sum(self.rss.values()),
        })
        self.samples.update({
            "setup_reps_s": setups,
            "open_loop_rate_qps": rate,
            "open_loop_requests": len(self.open_reqs),
            "open_loop_wall_s": open_wall,
            "open_loop_latency_ms": lat,
            "open_loop_percentiles_ms": {
                q: percentile(lat, q) for q in (50, 90, 95, 99)},
            "open_loop_queue_wait_ms": statistics.fmean(
                1000.0 * (r.take - r.put) for r in self.open_reqs),
            "open_loop_generator_late_ms": statistics.fmean(
                1000.0 * (r.put - r.due) for r in self.open_reqs),
            "serve_cpu_s": cpu,
        })

    def capacity_phase(self, port: int) -> None:
        """nproc closed-loop clients; capacity is the median of the
        per-window completion rates."""
        import loadgen

        self.cap_reqs, wall = loadgen.run({
            "mode": "closed", "port": port, "rid_base": 3 * 10**6,
            "queries": self.mix["capacity"].take(100000),
            "clients": self.clients,
            "seconds": (1 + CAPACITY_WINDOWS) * CAPACITY_WINDOW_S,
        })
        self.layers["serve.capacity_qps"] = loadgen.capacity_qps(
            self.cap_reqs, CAPACITY_WINDOW_S, CAPACITY_WINDOWS)
        self.samples.update({
            "capacity_clients": self.clients,
            "capacity_requests": len(self.cap_reqs),
            "capacity_wall_s": wall,
            "capacity_windows": [CAPACITY_WINDOWS, CAPACITY_WINDOW_S],
        })

    def recrawl_phase(self, spark) -> None:
        """Delta build of the re-crawl batch, the serving mix from
        TieredEngine([base, delta]) over HTTP, then merge(base, delta)."""
        import loadgen

        from wiki_search_engine_spark.engine import SearchEngine
        from wiki_search_engine_spark.tiered import TieredEngine

        delta_s = timed_build(spark, self.path("corpus_delta"),
                              self.path("delta"), "delta_build")
        tiered = TieredEngine(spark, [self.path("base"), self.path("delta")],
                              cache_terms=CACHE_TERMS)
        server = serve_in_thread(tiered)
        port = server.server_address[1]
        try:
            queries = self.mix["tiered"].take(TIERED_WARMUP + TIERED_QUERIES)
            loadgen.run({
                "mode": "sequential", "port": port, "rid_base": 5 * 10**6,
                "queries": queries[:TIERED_WARMUP],
            })
            self.tiered_reqs, _ = loadgen.run({
                "mode": "sequential", "port": port, "rid_base": 6 * 10**6,
                "queries": queries[TIERED_WARMUP:],
            })
        finally:
            stop_server(server)
        spark.sparkContext.setJobGroup("merge", "merge")
        t = time.perf_counter()
        SearchEngine.merge(spark, self.path("base"), self.path("delta"),
                           self.path("merged"))
        merge_s = time.perf_counter() - t
        self.phases.update(delta_build_s=delta_s, merge_s=merge_s)
        self.layers.update({
            "delta_build.ms": 1000.0 * delta_s,
            "merge.ms": 1000.0 * merge_s,
            "ingest_docs_per_s": len(self.delta) / (delta_s + merge_s),
            "tiered.query_p50_ms": percentile(
                [r.latency_ms for r in self.tiered_reqs], 50),
        })
        self.samples.update(tiered_requests=len(self.tiered_reqs),
                            delta_docs=len(self.delta))

    def check_phase(self, spark) -> None:
        """Open-loop responses against the oracle, tiered responses
        against the merged index, capacity-phase responses for status.
        Every mismatch is a failed operation."""
        from wiki_search_engine_spark.engine import SearchEngine

        t = time.perf_counter()
        if self.args.inject_wrong_result:
            r = next((r for r in self.open_reqs if r.results),
                     self.open_reqs[0])
            r.results = list(reversed(r.results or [])) + [(-1, 0.0, "")]
        oracle = lambda q: self.oracle.search(q, K, "bm25")  # noqa: E731
        checked = self.setup_reqs + self.open_reqs + self.traced_reqs
        self.failures = (
            check(checked, self.url_docid, oracle)
            + check(self.cap_reqs, self.url_docid)
        )
        if self.tiered_reqs:
            merged = SearchEngine(spark, self.path("merged"))
            self.failures += check(
                self.tiered_reqs, self.url_docid,
                lambda q: merged.search_local(q, K, "bm25"),
            )
        self.attempted = (len(checked) + len(self.cap_reqs)
                          + len(self.tiered_reqs))
        self.samples["oracle_checked"] = len(checked)
        self.phases["check_s"] = time.perf_counter() - t

    def trace_phase(self, spark) -> None:
        import layers

        tr = self.tracer
        self.layers.update(layers.query_layers(tr, self.traced_reqs))
        traced_p50 = percentile(
            [r.latency_ms for r in self.traced_reqs], 50)
        untraced_p50 = percentile(
            [r.latency_ms for r in self.open_reqs], 50)
        self.layers.update({
            "queue_wait_ms": statistics.fmean(
                1000.0 * (r.take - r.put) for r in self.traced_reqs),
            "generator_late_ms": statistics.fmean(
                1000.0 * (r.put - r.due) for r in self.traced_reqs),
            "serve.query_p50_ms": untraced_p50,
            "serve.query_p95_ms": percentile(
                [r.latency_ms for r in self.open_reqs], 95),
            "traced.query_p50_ms": traced_p50,
            "tracing.overhead_ratio": traced_p50 / untraced_p50,
            "build.ms": 1000.0 * self.build_s,
        })
        self.layers.update(layers.build_layers(self.path("base")))
        sm, self.layer_notes = layers.spark_layers(spark, "base_build")
        self.layers.update(sm)
        self.layers.update(layers.tiered_layers(tr, self.tiered_reqs))

    def result(self, spark) -> dict:
        out = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "trace": self.args.trace,
            "end_to_end": self.e2e,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "failed_frac": len(self.failures) / max(1, self.attempted),
            "failures": self.failures[:20],
            "samples": {**self.samples, "base_docs": len(self.base),
                        "index_docs": self.oracle.n_docs},
            "rss_mb": self.rss,
            "phases_s": self.phases,
            "environment": environment(spark),
        }
        if self.tracer is not None:
            import layers

            rids = {str(r.rid) for r in self.traced_reqs}
            out["per_layer"] = self.layers
            out["layer_notes"] = self.layer_notes
            out["layer_table"] = layers.layer_table(
                [s for s in self.tracer.spans if s.rid in rids]
            )
        return out


def environment(spark) -> dict:
    import platform

    import pyarrow
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "spark_conf": dict(spark.sparkContext.getConf().getAll()),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    require_package()
    sys.path.insert(0, HERE)
    try:
        run = Run(args)
        result = run.execute()
    except Exception:
        traceback.print_exc()
        return 1
    path = args.result or os.path.join(
        STATE, "results",
        f"{args.workload}-seed{args.seed}-trace{args.trace}.json",
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    if run.tracer is not None:
        run.tracer.write_jsonl(path[:-len(".json")] + ".spans.jsonl")
    with open(path, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    metrics = result["per_layer"] if args.trace else result["end_to_end"]
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {
            k: {"value": v, "unit": unit_of(k)}
            for k, v in metrics.items()
        },
    }))
    return 0


def unit_of(name: str) -> str:
    if name.endswith(("_per_s", "_qps")):
        return "1/s"
    if name.endswith("ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if "bytes" in name:
        return "B"
    if name.endswith(("ratio", "skew")):
        return "ratio"
    return "count"

if __name__ == "__main__":
    raise SystemExit(main())
