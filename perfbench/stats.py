"""Order statistics used by the benchmark's metrics.

A percentile is only reported when at least ``MIN_TAIL`` samples lie
beyond it: a p90 over 20 samples rests on two values and moves with
either of them, so it is withheld rather than printed.
"""

from __future__ import annotations

import math
import statistics

MIN_TAIL = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def percentile(values: list[float], q: float) -> float | None:
    """The ``q``-th percentile (0 < q < 100, nearest-rank), or None
    when fewer than ``MIN_TAIL`` samples lie strictly beyond its rank."""
    if not 0 < q < 100:
        raise ValueError(f"percentile rank out of range: {q}")
    n = len(values)
    rank = math.ceil(q / 100 * n)  # 1-based nearest rank
    if n - rank < MIN_TAIL:
        return None
    return sorted(values)[rank - 1]
