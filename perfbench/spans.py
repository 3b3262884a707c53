"""In-memory spans, self time and the summary statistics the benchmark
reports. Pure Python: nothing here touches Spark."""
from __future__ import annotations

import json
import math
import time
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass
from typing import Optional

# Percentiles tried from the top down by :func:`tail_percentile`.
PERCENTILE_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


@dataclass
class Span:
    id: int
    parent: Optional[int]
    op: Optional[int]
    layer: str
    name: str
    start: float
    end: float = 0.0


class Tracer:
    """Records spans (name, layer, start, end, parent, op id) in memory.

    Spans nest through a stack: a span opened while another is open
    becomes its child, and inherits its op id."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, layer: str, name: str, op: Optional[int] = None):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = parent.op
        s = Span(len(self.spans), parent.id if parent else None, op,
                 layer, name, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


class NullTracer:
    """The untraced run's tracer: every span is a no-op."""

    def span(self, layer: str, name: str, op: Optional[int] = None):
        return nullcontext()


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of its interval that its
    direct children cover (children clipped to the parent)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.id: s for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            p = by_id[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                kids.setdefault(p.id, []).append((lo, hi))
    return {s.id: (s.end - s.start) - _covered(kids.get(s.id, []))
            for s in spans}


def layer_self_ms(spans: list[Span]) -> dict[str, float]:
    """Total self time per layer, in ms."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.layer] = out.get(s.layer, 0.0) + st[s.id] * 1000.0
    return out


def tail_percentile(n: int) -> Optional[float]:
    """Highest ladder percentile with at least MIN_BEYOND of ``n``
    samples ranked above it (nearest rank, as :func:`percentile`);
    None when even the median has fewer."""
    for p in PERCENTILE_LADDER:
        if n - _rank(n, p) >= MIN_BEYOND:
            return p
    return None


def _rank(n: int, p: float) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples."""
    return max(1, math.ceil(round(n * p / 100.0, 9)))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile of ``values``."""
    xs = sorted(values)
    return xs[_rank(len(xs), p) - 1]
