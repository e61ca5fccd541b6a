"""Order statistics the benchmark reports.

Percentiles are nearest-rank: the p-th percentile of ``n`` sorted samples
is the sample at 1-based rank ``ceil(p / 100 * n)``, so it is always an
observed latency and exactly ``n - rank`` samples lie above it.
"""

from __future__ import annotations

import math
import statistics


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank ``p``-th percentile (0 < p <= 100) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < p <= 100:
        raise ValueError(f"percentile must be in (0, 100], got {p}")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def tail_percentile(n: int, min_above: int) -> int:
    """The highest whole percentile whose nearest-rank sample still has at
    least ``min_above`` of ``n`` samples above it.

    Raises when ``n`` is too small for any percentile to qualify."""
    for p in range(99, 0, -1):
        if n - math.ceil(p / 100.0 * n) >= min_above:
            return p
    raise ValueError(f"{n} samples leave no percentile with {min_above} above it")


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles(n=4)``
    gives them — the run-to-run spread a metric's bound is judged by."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else math.inf
