"""In-memory spans, self time per layer, and the JSON dump.

A span is one timed call into a layer: ``(id, parent, run, layer, name,
start, end)`` with wall-clock seconds, so spans built from Spark's own
timestamps (micro-batch progress events) nest with the benchmark's.
Nothing is written until ``dump``. A disabled ``Tracer`` records
nothing and costs one attribute check per call.
"""

from __future__ import annotations

import itertools
import json
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Pass:
    """One timed pass: wall-clock window, wall seconds, its root span."""

    start: float
    end: float
    wall: float
    traced: bool
    span: int | None


@dataclass
class Span:
    id: int
    parent: int | None
    run: str
    layer: str
    name: str
    start: float
    end: float


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @property
    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        parent = self.current
        self._stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans.append(Span(sid, parent, self.run, layer, name, start, time.time()))

    def add(self, layer: str, name: str, start: float, end: float, parent: int | None) -> None:
        """Record a span measured elsewhere (e.g. a micro-batch)."""
        if self.enabled:
            self.spans.append(Span(next(self._ids), parent, self.run, layer, name, start, end))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


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


def self_times(spans: list[Span], roots: set[int]) -> dict[str, float]:
    """Self time per layer over the subtrees under ``roots``: each span's
    duration minus the part its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    by_id = {s.id: s for s in spans}
    out: dict[str, float] = {}
    todo = [by_id[r] for r in roots if r in by_id]
    while todo:
        s = todo.pop()
        kids = children.get(s.id, [])
        own = (s.end - s.start) - _covered([(k.start, k.end) for k in kids], s.start, s.end)
        out[s.layer] = out.get(s.layer, 0.0) + own
        todo.extend(kids)
    return out
