"""Order statistics for latency samples."""

from __future__ import annotations

import math
import statistics

MIN_TAIL_SAMPLES = 10  # p90 is reported only with this many samples beyond it


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``%
    of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(xs)))
    return xs[rank - 1]


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``p``-th."""
    return n - max(1, math.ceil(p / 100 * n))


def tail_percentile(values: list[float]) -> float | None:
    """p90 of ``values``, or None when fewer than ``MIN_TAIL_SAMPLES``
    samples lie beyond it."""
    if samples_beyond(len(values), 90) < MIN_TAIL_SAMPLES:
        return None
    return percentile(values, 90)


def summary(values: list[float]) -> dict:
    """Sample count, median, and p90 when the count supports it."""
    out = {"n": len(values)}
    if values:
        out["p50"] = statistics.median(values)
        p90 = tail_percentile(values)
        if p90 is not None:
            out["p90"] = p90
    return out
