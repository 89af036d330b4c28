"""Summary statistics the benchmark reports.

A latency is reported as its median plus its *tail*: the highest whole
percentile that still has at least ``TAIL_BEYOND`` samples above it, so
the tail always rests on enough observations to mean something. Below
``TAIL_BEYOND + 1`` samples no such percentile exists.
"""

from __future__ import annotations

import math
import statistics

TAIL_BEYOND = 10


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile p of n samples with at least ``TAIL_BEYOND``
    samples beyond its nearest-rank position ``ceil(p * n / 100)``."""
    if n <= TAIL_BEYOND:
        return None
    return min(99, (100 * (n - TAIL_BEYOND)) // n)


def nearest_rank(values: list[float], p: float) -> float:
    ordered = sorted(values)
    k = max(1, math.ceil(p * len(ordered) / 100))
    return ordered[k - 1]


def tail(values: list[float]) -> tuple[int | None, float | None]:
    """(percentile, value) of the tail, or (None, None) if too few samples."""
    p = tail_percentile(len(values))
    if p is None:
        return None, None
    return p, nearest_rank(values, p)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")
