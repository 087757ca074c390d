"""Order statistics used by the benchmark's reports."""
import math
import statistics

# A tail percentile is reported only when at least this many samples lie
# beyond it; with fewer, it is a single noisy sample dressed as a statistic.
MIN_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def nearest_rank(xs, q):
    """The q-quantile (0 < q <= 1) by nearest rank: the smallest sample
    with at least a q share of the samples at or below it."""
    s = sorted(xs)
    return s[max(1, math.ceil(q * len(s))) - 1]


def beyond(n, q):
    """How many of n samples lie beyond the nearest-rank q-quantile."""
    return n - max(1, math.ceil(q * n))


def tail(xs, q=0.9):
    """The q-quantile, or None when fewer than MIN_BEYOND samples lie
    beyond it."""
    if not xs or beyond(len(xs), q) < MIN_BEYOND:
        return None
    return nearest_rank(xs, q)


def quartile_spread(xs):
    """Distance between the first and third quartile as a share of the
    median, as statistics.quantiles(n=4) gives the quartiles."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)
