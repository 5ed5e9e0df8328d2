"""Order statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

#: a tail percentile is reported only with at least this many samples beyond it
TAIL_BEYOND = 10


def tail_percentile(n: int, beyond: int = TAIL_BEYOND) -> int | None:
    """Highest whole percentile with at least ``beyond`` of ``n`` samples
    strictly above its rank (nearest-rank definition), or None when ``n``
    is too small for any percentile ≥ 50 to qualify."""
    for p in range(99, 49, -1):
        if n - nearest_rank(n, p) >= beyond:
            return p
    return None


def nearest_rank(n: int, p: float) -> int:
    """1-based rank of the ``p``-th percentile of ``n`` sorted samples."""
    return max(1, math.ceil(p / 100 * n))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: always one of the measured values."""
    s = sorted(values)
    return s[nearest_rank(len(s), p) - 1]


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else math.inf
