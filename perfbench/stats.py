"""Summary statistics the benchmark reports."""

from __future__ import annotations

import statistics


def median(values) -> float:
    return float(statistics.median(values))


def tail(values) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that still has at least
    ten samples beyond it.

    With ``n`` sorted samples that is the sample at index ``n - 11``: ten
    samples lie above it, and it sits at percentile ``100 * (n - 11) / (n - 1)``.
    With eleven samples or fewer no percentile above the minimum qualifies;
    the median is returned then, with its percentile, 50."""
    xs = sorted(values)
    n = len(xs)
    if n < 12:
        return median(xs), 50.0
    i = n - 11
    return float(xs[i]), 100.0 * i / (n - 1)

