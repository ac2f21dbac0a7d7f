"""Order statistics the benchmark reports."""

from __future__ import annotations

import statistics

#: a tail percentile needs this many samples beyond it
TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile that has at least
    ``TAIL_BEYOND`` samples beyond it, or None when there are too few
    samples. With n samples that is the (TAIL_BEYOND+1)-th largest
    value, at percentile 100 * (n - TAIL_BEYOND) / n."""
    n = len(values)
    if n <= TAIL_BEYOND:
        return None
    return 100.0 * (n - TAIL_BEYOND) / n, float(sorted(values)[n - TAIL_BEYOND - 1])


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / median(values)
