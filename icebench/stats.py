"""Summary statistics for the benchmark report."""

from __future__ import annotations

import math
import statistics

# Percentiles the report may quote as a tail, highest last.
LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def nearest_rank(values: list[float], p: float) -> float:
    """The p-th percentile by nearest rank (a value that was measured)."""
    s = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def tail_percentile(values: list[float], min_beyond: int = MIN_BEYOND):
    """Highest ladder percentile with at least ``min_beyond`` samples
    above its rank, as ``(p, value)``; ``None`` when even the median
    has fewer than that beyond it."""
    n = len(values)
    best = None
    for p in LADDER:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= min_beyond:
            best = (p, nearest_rank(values, p))
    return best


def summary(values: list[float]) -> dict:
    """Median, quartiles, tail percentile and n of a sample."""
    out: dict = {"n": len(values)}
    if not values:
        return out
    out["p50"] = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
        out["q1"], out["q3"] = q1, q3
    tail = tail_percentile(values)
    if tail is not None:
        out["tail_p"], out["tail"] = tail
    return out
