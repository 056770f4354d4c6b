"""In-memory span recorder for the traced benchmark run.

The package carries no tracing of its own, so the benchmark wraps the
public calls into each layer (module and class attributes) and records a
span per call: name, start, end, parent span and request id.
Spans stay in memory; ``write_jsonl`` dumps them when the run ends.

Request ids: the load generator sends an ``X-Request-Id`` header on every
request (traced or not, so both runs send identical requests) and the
wrapped HTTP handler opens the request's root span with it. Every span
opened later on that handler thread inherits the id through the
thread-local span stack.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time


class Span:
    __slots__ = ("sid", "name", "start", "end", "parent", "rid", "attrs")

    def __init__(self, sid, name, start, parent, rid, attrs):
        self.sid = sid
        self.name = name
        self.start = start
        self.end = None
        self.parent = parent
        self.rid = rid
        self.attrs = attrs

    @property
    def ms(self) -> float:
        return 1000.0 * (self.end - self.start)

    def as_dict(self) -> dict:
        return {
            "id": self.sid, "name": self.name, "start": self.start,
            "end": self.end, "parent": self.parent, "rid": self.rid,
            **({"attrs": self.attrs} if self.attrs else {}),
        }


class Tracer:
    """Collects closed spans from every thread."""

    def __init__(self):
        self.spans: list[Span] = []
        self._local = threading.local()
        self._ids = itertools.count()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, rid=None) -> Span:
        st = self._stack()
        parent = st[-1] if st else None
        if rid is None and parent is not None:
            rid = parent.rid
        sp = Span(next(self._ids), name, time.perf_counter(),
                  parent.sid if parent else None, rid, {})
        st.append(sp)
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()
        self.spans.append(sp)

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(sp.as_dict()) + "\n")


def wrap(tracer: Tracer, owner, attr: str, name, attrs_of=None,
         undo: list | None = None, rid_of=None) -> None:
    """Replace ``owner.attr`` by a wrapper that records a span around each
    call. ``name`` is a string or ``name(args, kwargs) -> str | None``
    (None: call untraced). ``attrs_of(args, kwargs, result)`` may add
    counts to the span; ``rid_of(args)`` gives a root span its request
    id. ``undo`` collects (owner, attr, original) for ``unwrap``."""
    orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(
        owner, attr
    )
    kind = None
    if isinstance(orig, classmethod):
        kind, fn = classmethod, orig.__func__
    elif isinstance(orig, staticmethod):
        kind, fn = staticmethod, orig.__func__
    else:
        fn = orig

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        nm = name(args, kwargs) if callable(name) else name
        if nm is None:
            return fn(*args, **kwargs)
        sp = tracer.open(nm, rid_of(args) if rid_of else None)
        try:
            out = fn(*args, **kwargs)
        finally:
            tracer.close(sp)
        if attrs_of is not None:
            sp.attrs.update(attrs_of(args, kwargs, out))
        return out

    setattr(owner, attr, kind(traced) if kind else traced)
    if undo is not None:
        undo.append((owner, attr, orig))


def unwrap(undo: list) -> None:
    for owner, attr, orig in reversed(undo):
        setattr(owner, attr, orig)
    undo.clear()


def self_ms(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of its interval its children cover."""
    iv = sorted(
        (max(c.start, span.start), min(c.end, span.end)) for c in children
    )
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in iv:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return 1000.0 * (span.end - span.start - covered)


def layer_table(spans: list[Span]) -> dict[str, dict]:
    """Per span name: calls, total ms, total self ms and summed counts."""
    kids: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append(sp)
    table: dict[str, dict] = {}
    for sp in spans:
        row = table.setdefault(
            sp.name, {"calls": 0, "ms": 0.0, "self_ms": 0.0, "counts": {}}
        )
        row["calls"] += 1
        row["ms"] += sp.ms
        row["self_ms"] += self_ms(sp, kids.get(sp.sid, []))
        for k, v in sp.attrs.items():
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                row["counts"][k] = row["counts"].get(k, 0) + v
    return table
