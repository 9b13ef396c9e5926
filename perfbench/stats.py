"""Small statistics helpers shared by the workloads and tests."""

from __future__ import annotations

import math
import statistics

#: A percentile is reported only when at least this many samples lie
#: beyond it; otherwise one outlier decides it.
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank ``p``-th percentile (0 < p < 100) of ``values``.

    Raises ``ValueError`` when fewer than ``MIN_BEYOND`` samples lie
    above the percentile, e.g. a p90 from fewer than 100 samples."""
    if not 0 < p < 100:
        raise ValueError(f"percentile must be in (0, 100), got {p}")
    n = len(values)
    rank = math.ceil(p / 100.0 * n)
    if n - rank < MIN_BEYOND:
        raise ValueError(
            f"p{p:g} of {n} samples has {n - rank} beyond it; need {MIN_BEYOND}"
        )
    return sorted(values)[rank - 1]


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))
