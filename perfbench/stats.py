"""The benchmark's arithmetic: percentiles, tails and spreads.

Kept free of I/O so test_perfbench.py can pin each rule.
"""
import math
import statistics

MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile (p in (0, 100]) of a non-empty sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def beyond(n, p):
    """How many of n samples lie strictly above the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail_percentile(n, candidates=(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)):
    """The highest candidate percentile with at least MIN_BEYOND of n samples
    beyond it, or None when even the median has fewer."""
    for p in candidates:
        if beyond(n, p) >= MIN_BEYOND:
            return p
    return None


def summarize(values):
    """Median, the highest percentile with >= MIN_BEYOND samples beyond it,
    and the sample count."""
    n = len(values)
    p = tail_percentile(n)
    return {"n": n, "p50": statistics.median(values) if n else None,
            "tail_p": p, "tail": percentile(values, p) if p else None}


def geomean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values))


def quartile_spread(values):
    """Inter-quartile distance as a share of the median, as
    statistics.quantiles(values, n=4) gives the quartiles."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")
