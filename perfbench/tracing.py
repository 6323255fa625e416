"""In-memory spans recorded around the benchmark's calls into each layer.

A span has a name, start, end, the span that caused it and the id of the
operation (request) it belongs to. Spans are kept in memory and written out
when the run ends. `NullTracer` is used for the untraced runs that produce
the end-to-end metrics.
"""

from __future__ import annotations

import contextlib
import itertools
import threading
import time
from collections import defaultdict


class Tracer:
    enabled = True

    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        # epoch seconds minus perf_counter seconds, to place Spark's epoch
        # timestamps on the span clock
        self.epoch_offset = time.time() - time.perf_counter()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, request: int | None = None, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        if request is None and parent is not None:
            request = parent["request"]
        rec = {"id": next(self._ids), "name": name,
               "parent": parent["id"] if parent else None,
               "request": request, "start": time.perf_counter(), **attrs}
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def record(self, name: str, start: float, end: float,
               parent: int | None = None, request: int | None = None,
               **attrs) -> dict:
        """Add a span measured elsewhere (e.g. on the client side)."""
        rec = {"id": next(self._ids), "name": name, "parent": parent,
               "request": request, "start": start, "end": end, **attrs}
        with self._lock:
            self.spans.append(rec)
        return rec

    def wrap(self, name: str, fn):
        """fn wrapped in a span of its own name."""
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced


class NullTracer:
    enabled = False
    spans: list[dict] = []

    def span(self, name: str, request: int | None = None, **attrs):
        return contextlib.nullcontext({})

    def wrap(self, name: str, fn):
        return fn


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        p = by_id.get(s["parent"])
        if p is not None:
            kids[p["id"]].append((max(s["start"], p["start"]),
                                  min(s["end"], p["end"])))
    return {s["id"]: (s["end"] - s["start"]) - _covered(kids[s["id"]])
            for s in spans}


def self_time_table(spans: list[dict]) -> list[dict]:
    """Per span name: count, total and self time in ms, self share."""
    selfs = self_times(spans)
    rows: dict[str, dict] = {}
    for s in spans:
        r = rows.setdefault(s["name"], {"span": s["name"], "count": 0,
                                        "total_ms": 0.0, "self_ms": 0.0})
        r["count"] += 1
        r["total_ms"] += (s["end"] - s["start"]) * 1000.0
        r["self_ms"] += selfs[s["id"]] * 1000.0
    all_self = sum(r["self_ms"] for r in rows.values()) or 1.0
    for r in rows.values():
        r["self_share"] = r["self_ms"] / all_self
    return sorted(rows.values(), key=lambda r: -r["self_ms"])
