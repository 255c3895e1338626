"""In-memory spans for the traced run.

Every timed call gets a span: name, start, end, parent and query id.
Spans stay in memory and are written out when the run ends. A span's
self time is its duration minus the part of it that its child spans
cover; summing self times by span name gives the per-layer times.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    query: str | None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, query: str | None = None):
        parent = self._stack[-1] if self._stack else None
        if query is None and parent is not None:
            query = self.spans[parent].query
        s = Span(len(self.spans), name, time.perf_counter(), float("nan"), parent, query)
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


class NullTracer:
    """Tracing off: spans cost one context-manager entry and record nothing."""

    def span(self, name: str, query: str | None = None):
        return nullcontext()


def _covered(lo: float, hi: float, intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - _covered(s.start, s.end, children[s.id])
        for s in spans
    }


def subtree(spans: list[Span], root: int) -> list[Span]:
    """The root span and all its descendants."""
    keep = {root}
    for s in spans:  # parents always precede children
        if s.parent in keep:
            keep.add(s.id)
    return [s for s in spans if s.id in keep]


def layer_self_times(spans: list[Span], root: int) -> dict[str, float]:
    """Self time summed by span name over the root's subtree."""
    tree = subtree(spans, root)
    own = self_times(tree)
    out: dict[str, float] = defaultdict(float)
    for s in tree:
        out[s.name] += own[s.id]
    return dict(out)
