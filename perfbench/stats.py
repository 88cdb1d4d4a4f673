"""Summary statistics the benchmark reports."""
import math
import statistics

# A percentile is reported only when at least this many samples lie
# beyond it; below that one slow sample decides its value.
MIN_TAIL = 10


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(first quartile, median, third quartile), as statistics.quantiles
    gives them with its default (exclusive) method."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def percentile(xs, p):
    """Nearest-rank p-th percentile, or None when fewer than MIN_TAIL
    samples lie beyond it."""
    n = len(xs)
    if n == 0 or n * (100 - p) / 100 < MIN_TAIL:
        return None
    rank = max(1, math.ceil(p / 100 * n))
    return sorted(xs)[rank - 1]
