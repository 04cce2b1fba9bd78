"""In-memory spans for traced runs.

A span is (id, parent, name, start, end) on one clock.  Spans nest per
thread through a stack; ``add`` records a span whose times were measured
elsewhere (trigger spans built from ``StreamingQueryProgress``).  Spans
stay in memory and are written once, with self times, when the run ends.

``patch`` wraps a public callable by attribute substitution and restores
the original on exit; only traced runs install wrappers.  ``cost_s``
measures what one wrapped call adds, so a run can state the overhead of
its own tracing.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "parent": stack[-1] if stack else None,
                   "name": name, "start": self.clock(), "end": None, **attrs}
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = self.clock()

    def add(self, name: str, start: float, end: float, parent=None, **attrs):
        with self._lock:
            sid = len(self.spans)
            self.spans.append({"id": sid, "parent": parent, "name": name,
                               "start": start, "end": end, **attrs})
        return sid

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return wrapped

    def self_times(self) -> list[dict]:
        """Each span with ``dur`` and ``self`` (duration minus the time
        its direct children cover; children nest, so they do not
        overlap one another)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = []
        for s in self.spans:
            dur = s["end"] - s["start"]
            out.append({**s, "dur": dur, "self": dur - child[s["id"]]})
        return out

    def totals(self, prefix: str = "") -> dict[str, dict]:
        """Per span name: call count, total duration, total self time."""
        agg: dict[str, dict] = {}
        for s in self.self_times():
            if not s["name"].startswith(prefix):
                continue
            a = agg.setdefault(s["name"], {"calls": 0, "dur": 0.0, "self": 0.0})
            a["calls"] += 1
            a["dur"] += s["dur"]
            a["self"] += s["self"]
        return agg

    def write(self, path: str, **extra) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.self_times(), **extra}, f)


@contextlib.contextmanager
def patch(tracer: Tracer, targets):
    """Wrap each ``(owner, attribute, span_name)`` for the block."""
    saved = []
    try:
        for owner, attr, name in targets:
            orig = getattr(owner, attr)
            saved.append((owner, attr, orig))
            setattr(owner, attr, tracer.wrap(name, orig))
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


def cost_s(n: int = 20000) -> float:
    """Seconds one traced call adds over a plain call, measured here."""
    def noop():
        return None

    tracer = Tracer()
    wrapped = tracer.wrap("calibrate", noop)
    t0 = time.perf_counter()
    for _ in range(n):
        noop()
    plain = time.perf_counter() - t0
    t0 = time.perf_counter()
    for _ in range(n):
        wrapped()
    traced = time.perf_counter() - t0
    return max(0.0, (traced - plain) / n)
