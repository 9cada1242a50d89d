"""Order statistics the benchmark reports."""

from __future__ import annotations

import statistics


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(xs, n=4)`` gives them."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def tail(xs: list[float], beyond: int) -> tuple[float, float, int]:
    """The highest percentile with at least ``beyond`` samples above it:
    (value, percentile, sample count). When that percentile would not be
    above the median, the samples support no tail and the maximum is
    returned as percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n <= 2 * beyond:
        return s[-1], 100.0, n
    k = n - 1 - beyond
    return s[k], 100.0 * (k + 1) / n, n
