"""Tiny-size self-test of the benchmark (a few minutes; run it from the
checkout root):

    python3 perfbench/selftest.py

- every workload, untraced and traced, on a few hundred docs: exits 0,
  prints every metric BENCHMARK.json names for that mode with the unit it
  declares, and counts no failures;
- an injected wrong result raises failed_frac and clears ``correct``;
- more load threads than nproc are refused;
- in a directory holding only BENCHMARK.json and the benchmark's files
  the benchmark exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench", "selftest")
DOCS = "200"


def bench(*extra: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "3", "--seconds",
         "2", "--docs", DOCS, *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def last_json(p: subprocess.CompletedProcess) -> dict:
    if p.returncode != 0:
        raise AssertionError(f"exit {p.returncode}: {p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(OUT)

    for w in spec["workloads"]:
        for trace, declared in ((0, spec["end_to_end"]),
                                (1, spec["per_layer"])):
            res = os.path.join(OUT, f"{w['name']}-trace{trace}.json")
            out = last_json(bench("--workload", w["name"], "--trace",
                                  str(trace), "--result", res))
            assert set(out) == {"correct", "attempted", "failed",
                                "metrics"}, out.keys()
            assert out["correct"] and out["failed"] == 0, out
            assert out["attempted"] >= 1
            want = {m["name"]: m["unit"] for m in declared}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            assert got == want, (w["name"], trace, set(got) ^ set(want))
            if trace == 0:
                assert all(v["value"] > 0 for v in out["metrics"].values())
            with open(res) as f:
                full = json.load(f)
            assert full["seed"] == 3 and full["environment"]["nproc"] >= 1
            if trace:
                assert full["layer_table"], "traced run recorded no spans"
            print(f"ok  {w['name']} trace={trace}: {len(got)} metrics",
                  flush=True)

    res = os.path.join(OUT, "injected.json")
    out = last_json(bench("--workload", spec["workloads"][0]["name"],
                          "--trace", "0", "--inject-wrong-result",
                          "--result", res))
    with open(res) as f:
        full = json.load(f)
    assert not out["correct"] and out["failed"] >= 1, out
    assert full["failed_frac"] > 0, full["failed_frac"]
    print(f"ok  injected wrong result: failed_frac={full['failed_frac']:.4f}")

    sys.path.insert(0, HERE)
    import loadgen

    try:
        loadgen.check_threads(loadgen.max_threads() + 1)
    except SystemExit:
        print("ok  more than nproc load threads refused")
    else:
        raise AssertionError("check_threads accepted nproc + 1 threads")

    bare = os.path.join(OUT, "bare")
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p = bench("--workload", spec["workloads"][0]["name"], "--trace", "0",
              cwd=bare)
    assert p.returncode != 0 and not p.stdout.strip(), (p.returncode,
                                                         p.stdout)
    print(f"ok  bare benchmark directory: exit {p.returncode}, no result")
    shutil.rmtree(bare)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
