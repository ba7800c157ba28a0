"""Order statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail_percentile(n: int, min_beyond: int = 10) -> int | None:
    """The highest whole percentile with at least ``min_beyond`` of ``n``
    samples strictly above it, or ``None`` when ``n`` is too small.

    Percentile ``p`` is read as the sample at rank ``ceil(p/100 * n)``
    (nearest rank), so ``n - rank`` samples lie beyond it."""
    for p in range(99, 0, -1):
        rank = max(1, math.ceil(p / 100 * n))
        if n - rank >= min_beyond:
            return p
    return None


def percentile(values: list[float], p: int) -> float:
    """Nearest-rank percentile, matching ``tail_percentile``."""
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(ordered)))
    return float(ordered[rank - 1])


def halves_drift(values: list[float]) -> float:
    """Relative difference between the medians of the first and second half
    of a run's timed ops, in run order; 0.0 with fewer than two ops."""
    if len(values) < 2:
        return 0.0
    half = len(values) // 2
    first, second = median(values[:half]), median(values[half:])
    return abs(second - first) / median(values)
