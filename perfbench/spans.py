"""In-memory spans recorded around calls into the engine's layers.

A span has a name, a start and end (``time.time()`` seconds, so spans
taken from Spark's own timestamps line up with ours), a parent and the
run id. Spans stay in memory and are written once, at the end of a run.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Collects spans; ``enabled=False`` makes every call a no-op so the
    untraced run pays nothing but the attribute check."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int | None:
        """Record a finished span; returns its id."""
        if not self.enabled:
            return None
        with self._lock:
            sid = next(self._ids)
            self.spans.append(
                {"id": sid, "name": name, "start": start, "end": end,
                 "parent": parent, "run": self.run_id, **attrs}
            )
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        """Time the body as a span; nested ``span`` calls on one thread
        take the enclosing span as parent."""
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(
                    {"id": sid, "name": name, "start": start, "end": end,
                     "parent": parent, "run": self.run_id, **attrs}
                )

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in with_self_time(self.spans):
                fh.write(json.dumps(s) + "\n")


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def with_self_time(spans: list[dict]) -> list[dict]:
    """Copies of ``spans`` with ``self_s``: duration minus the part of the
    span's interval that its child spans cover (overlapping children are
    counted once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = []
    for s in spans:
        dur = s["end"] - s["start"]
        kids = children.get(s["id"], [])
        out.append({**s, "dur_s": dur, "self_s": dur - _covered(kids, s["start"], s["end"])})
    return out
