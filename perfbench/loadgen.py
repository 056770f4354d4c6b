"""HTTP load generation against ``GET /query-stem``: one process, at most
``nproc`` threads. The benchmark runs it as a child process (``run``), so
clients never compete with the server for its interpreter lock.

- ``open_loop``: one generator thread releases request i at its due time
  t0 + i/rate, whatever the server is doing; worker threads send them.
  Latency is measured from the due time, so a stall also counts against
  the requests queued behind it. The generator's own lateness and each
  request's wait for a free worker are recorded separately.
- ``closed_loop``: each client sends its next request only after the
  previous reply; completed requests over wall time is the capacity.
"""

from __future__ import annotations

import http.client
import json
import os
import queue
import statistics
import subprocess
import sys
import threading
import time
from urllib.parse import quote


def max_threads() -> int:
    return len(os.sched_getaffinity(0))


def check_threads(n: int) -> None:
    """Load generation is single-process with at most nproc threads."""
    if n < 1 or n > max_threads():
        raise SystemExit(
            f"refusing to start: {n} load threads requested, this machine "
            f"allows 1..{max_threads()} (nproc)"
        )


class Request:
    __slots__ = ("rid", "query", "due", "put", "take", "done", "status",
                 "results", "error")

    def __init__(self, rid: int, query: str, due: float = 0.0):
        self.rid = rid
        self.query = query
        self.due = due
        self.put = self.take = self.done = due
        self.status = 0
        self.results = None  # [(docid, score, url)] in response order
        self.error = None

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}

    @classmethod
    def from_dict(cls, d: dict) -> "Request":
        r = cls(d["rid"], d["query"])
        for k in cls.__slots__:
            setattr(r, k, d[k])
        return r

    @property
    def latency_ms(self) -> float:
        return 1000.0 * (self.done - self.due)

    @property
    def wall_ms(self) -> float:
        """Client-side wall: send start to last byte read."""
        return 1000.0 * (self.done - self.take)


def send(port: int, req: Request) -> None:
    """One ``GET /query-stem?optionName=bm25`` (default k); fills status,
    timestamps and the parsed (docid, score, url) rows."""
    path = f"/query-stem?query={quote(req.query)}&optionName=bm25"
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    try:
        conn.request("GET", path, headers={"X-Request-Id": str(req.rid)})
        resp = conn.getresponse()
        body = resp.read()
        req.done = time.perf_counter()
        req.status = resp.status
    except OSError as e:
        req.done = time.perf_counter()
        req.error = repr(e)
        return
    finally:
        conn.close()
    if req.status == 200:
        try:
            rows = json.loads(body)["textResult"]
            req.results = [
                (int(r["file_id"]), float(r["score"]), r["url"])
                for r in rows
            ]
        except (ValueError, KeyError, TypeError) as e:
            req.error = f"unparseable response: {e!r}"


def open_loop(port: int, queries: list[str], rate: float,
              rid_base: int = 0) -> tuple[list[Request], float]:
    """Send ``queries`` at ``rate`` per second; returns (requests, wall s).
    Uses 1 generator + (nproc - 1) worker threads."""
    workers = max(1, max_threads() - 1)
    check_threads(workers + 1)
    q: queue.Queue = queue.Queue()
    reqs = [Request(rid_base + i, s) for i, s in enumerate(queries)]

    def work():
        while True:
            r = q.get()
            if r is None:
                return
            r.take = time.perf_counter()
            send(port, r)

    threads = [threading.Thread(target=work) for _ in range(workers)]
    for t in threads:
        t.start()
    t0 = time.perf_counter() + 0.05
    try:
        for i, r in enumerate(reqs):
            r.due = t0 + i / rate
            delay = r.due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            r.put = time.perf_counter()
            q.put(r)
    finally:
        for _ in threads:
            q.put(None)
        for t in threads:
            t.join()
    return reqs, time.perf_counter() - t0


def closed_loop(port: int, queries: list[str], clients: int,
                seconds: float, rid_base: int = 0
                ) -> tuple[list[Request], float]:
    """``clients`` threads each send back-to-back requests for
    ``seconds``; returns (completed requests, wall s)."""
    check_threads(clients)
    src = iter(enumerate(queries))
    lock = threading.Lock()
    done: list[Request] = []
    stop_at = time.perf_counter() + seconds

    def client():
        while time.perf_counter() < stop_at:
            with lock:
                nxt = next(src, None)
            if nxt is None:
                return
            i, s = nxt
            r = Request(rid_base + i, s, time.perf_counter())
            send(port, r)
            with lock:
                done.append(r)

    t0 = time.perf_counter()
    threads = [threading.Thread(target=client) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return done, time.perf_counter() - t0


def sequential(port: int, queries: list[str], rid_base: int = 0
               ) -> list[Request]:
    """One client, back to back: per-request service time."""
    out = []
    for i, s in enumerate(queries):
        r = Request(rid_base + i, s, time.perf_counter())
        send(port, r)
        out.append(r)
    return out


def capacity_qps(reqs: list[Request], width: float, windows: int) -> float:
    """Completions per second of a closed-loop phase: the median over
    ``windows`` windows of ``width`` seconds each, after a first window
    of the same width that only fills caches."""
    t0 = min(r.due for r in reqs) + width
    counts = [0] * windows
    for r in reqs:
        i = int((r.done - t0) // width)
        if 0 <= i < windows:
            counts[i] += 1
    return statistics.median(counts) / width


def run(spec: dict) -> tuple[list[Request], float]:
    """Run one load phase in a child process; ``spec`` holds ``mode``
    (open | closed | sequential), ``port``, ``queries``, ``rid_base`` and
    the mode's ``rate`` or ``clients`` and ``seconds``."""
    p = subprocess.run(
        [sys.executable, os.path.abspath(__file__)],
        input=json.dumps(spec), capture_output=True, text=True,
        timeout=120, check=False,
    )
    if p.returncode != 0:
        raise RuntimeError(f"load generator failed: {p.stderr[-2000:]}")
    out = json.loads(p.stdout)
    return [Request.from_dict(d) for d in out["requests"]], out["wall_s"]


def _main() -> None:
    spec = json.load(sys.stdin)
    port, queries, base = spec["port"], spec["queries"], spec["rid_base"]
    if spec["mode"] == "open":
        reqs, wall = open_loop(port, queries, spec["rate"], base)
    elif spec["mode"] == "closed":
        reqs, wall = closed_loop(port, queries, spec["clients"],
                                 spec["seconds"], base)
    else:
        t = time.perf_counter()
        reqs = sequential(port, queries, base)
        wall = time.perf_counter() - t
    json.dump({"requests": [r.as_dict() for r in reqs], "wall_s": wall},
              sys.stdout)


if __name__ == "__main__":
    _main()
