"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math

# percentiles tried for the tail, highest last
TAIL_LADDER = (50.0, 90.0, 99.0, 99.9, 99.99, 99.999)


def trimmed_mean(values: list[float]) -> float:
    """Mean of the values without the lowest and the highest one, when
    there are at least three (with three, the middle one)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("mean of no samples")
    if len(xs) >= 3:
        xs = xs[1:-1]
    return sum(xs) / len(xs)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def tail(values: list[float]) -> tuple[float, float, int] | None:
    """The highest percentile of ``TAIL_LADDER`` that leaves at least ten
    samples above it, as (percentile, value, sample count); None when there
    are too few samples for even the median to qualify."""
    n = len(values)
    best = None
    for p in TAIL_LADDER:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= 10:
            best = p
    if best is None:
        return None
    return best, percentile(values, best), n
