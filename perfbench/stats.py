"""Order statistics shared by run.py and compare.py."""
import math
import statistics

TAIL_BEYOND = 10  # samples that must lie beyond a reported tail percentile


def nearest_rank(sorted_values, pct):
    """The pct-th percentile of sorted_values by the nearest-rank rule."""
    n = len(sorted_values)
    rank = max(1, math.ceil(pct / 100.0 * n))
    return sorted_values[rank - 1]


def tail(values, beyond=TAIL_BEYOND):
    """The highest whole percentile with at least `beyond` samples above it.

    Returns (percentile, value, samples beyond it, sample count). With too
    few samples for any percentile from 50 up, falls back to the median and
    reports how many samples lie beyond it.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    for pct in range(99, 49, -1):
        rank = max(1, math.ceil(pct / 100.0 * n))
        if n - rank >= beyond:
            return pct, xs[rank - 1], n - rank, n
    return 50, statistics.median(xs), n // 2, n


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Interquartile distance as a share of the median (0 when the median is)."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / abs(q2) if q2 else 0.0
