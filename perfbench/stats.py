"""Summary statistics with the benchmark's reporting rules."""

from __future__ import annotations

import math
import statistics

TAIL_TARGET = 0.90
MIN_BEYOND = 10  # a tail percentile needs this many samples above it


def median(values: list[float]) -> float:
    return statistics.median(values)


def tail(values: list[float], target: float = TAIL_TARGET) -> tuple[float, float] | None:
    """(percentile, value) of the highest nearest-rank percentile up to
    ``target`` that has at least ``MIN_BEYOND`` samples beyond it, or None
    when the sample is too small to support any tail."""
    v = sorted(values)
    n = len(v)
    if n <= MIN_BEYOND:
        return None
    k = min(math.ceil(target * n), n - MIN_BEYOND)
    return 100.0 * k / n, v[k - 1]
