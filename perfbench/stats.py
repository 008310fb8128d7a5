"""Summary statistics and span arithmetic for the benchmark (no Spark)."""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field

#: a percentile is reported only when at least this many samples lie beyond it
MIN_TAIL = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated ``p``-th percentile (0-100) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, candidates=(99.9, 99.0, 90.0)) -> float | None:
    """The highest candidate percentile with at least ``MIN_TAIL`` of
    ``n`` samples beyond it, or None when even p90 lacks them."""
    for p in candidates:
        if n * (100.0 - p) / 100.0 >= MIN_TAIL - 1e-9:
            return p
    return None


def summary(values: list[float]) -> dict:
    """Median, sample count and the tail percentile the count supports."""
    out = {"n": len(values), "p50": statistics.median(values)}
    p = tail_percentile(len(values))
    if p is not None:
        out[f"p{p:g}"] = percentile(values, p)
    return out


@dataclass
class Span:
    """One timed interval at a layer boundary."""

    name: str
    start: float
    end: float
    parent: int | None = None
    id: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
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


def self_time(span: Span, spans: list[Span]) -> float:
    """``span``'s duration minus the part of it its children cover
    (overlapping children are counted once)."""
    kids = [(s.start, s.end) for s in spans if s.parent == span.id]
    return span.duration - covered(kids, span.start, span.end)
