"""Summary statistics for the benchmark's end-to-end metrics."""

from __future__ import annotations

import statistics

TAIL_MIN_ABOVE = 10


def median(values) -> float:
    return float(statistics.median(values))


def tail(values, min_above: int = TAIL_MIN_ABOVE) -> tuple[float, float, int]:
    """The highest percentile with at least ``min_above`` samples above it.

    Returns ``(value, percentile, n)``. With ``n`` sorted samples the
    ``k``-th smallest (1-based) has ``n - k`` samples above it, so the
    highest admissible rank is ``k = n - min_above``, reported as
    percentile ``100 * k / n``. With ``n <= min_above`` no percentile
    qualifies; the maximum is returned with percentile 100 so the caller
    still prints a number, and ``n`` tells the reader it is not a tail
    estimate.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n <= min_above:
        return float(xs[-1]), 100.0, n
    k = n - min_above
    return float(xs[k - 1]), 100.0 * k / n, n
