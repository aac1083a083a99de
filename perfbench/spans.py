"""Spans and order statistics for the benchmark.

Spans are recorded only by the benchmark's own code, around its calls
into the engine, kept in memory and written out when the run ends.
"""

from __future__ import annotations

import math
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; ``enabled=False`` records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str = "", **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), parent=parent,
                 op=op or (self.spans[parent].op if parent is not None else ""),
                 attrs=attrs)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def to_json(self) -> list[dict]:
        return [
            {"id": i, "name": s.name, "op": s.op, "parent": s.parent,
             "start": s.start, "end": s.end, **s.attrs}
            for i, s in enumerate(self.spans)
        ]


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
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


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval that its
    direct children cover (overlapping children are counted once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [s.duration - covered(children.get(i, []), s.start, s.end)
            for i, s in enumerate(spans)]


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    totals: dict[str, float] = {}
    for s, t in zip(spans, self_times(spans)):
        totals[s.name] = totals.get(s.name, 0.0) + t
    return totals


def tail(samples: list[float], min_beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile that has at least ``min_beyond`` samples
    above it: returns ``(percentile, value, samples_beyond)``.

    The value is the ``(n - min_beyond)``-th smallest sample, so exactly
    ``min_beyond`` samples rank above it; its percentile is its rank
    share ``100 * (n - min_beyond) / n``. With ``n <= min_beyond`` no
    sample qualifies, and the maximum is returned with the count of
    samples that do lie beyond it (zero)."""
    if not samples:
        raise ValueError("no samples")
    xs = sorted(samples)
    n = len(xs)
    if n <= min_beyond:
        return 100.0, xs[-1], 0
    k = n - min_beyond
    return 100.0 * k / n, xs[k - 1], min_beyond


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def fmt(x: float) -> str:
    return f"{x:.4g}" if math.isfinite(x) else str(x)
