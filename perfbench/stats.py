"""Small statistics helpers shared by the workloads."""

from __future__ import annotations

import math
import statistics

# Percentiles considered for the tail figure, lowest first.
TAIL_LADDER = (50.0, 90.0, 95.0, 99.0, 99.9)


def median(values) -> float:
    return float(statistics.median(values))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile of ``values`` (0 < p <= 100)."""
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return float(xs[rank - 1])


def tail_percentile(values, min_beyond: int = 10):
    """The highest ladder percentile with at least ``min_beyond`` samples
    above it, as ``(p, value)``; ``None`` when even the median has fewer.

    With n samples, nearest-rank percentile p sits at rank ceil(p*n/100),
    so ``n - rank`` samples lie beyond it."""
    n = len(values)
    best = None
    for p in TAIL_LADDER:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= min_beyond:
            best = (p, percentile(values, p))
    return best
