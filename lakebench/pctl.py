"""Percentiles with an honest sample floor."""
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else None


def percentile(xs, p, min_tail=0):
    """Nearest-rank p-th percentile of xs and the sample count. The value
    is None unless at least `min_tail` samples lie above it, so a p90
    asked with min_tail=10 needs at least 100 samples."""
    n = len(xs)
    if n == 0:
        return None, 0
    rank = max(1, math.ceil(p / 100.0 * n))
    if n - rank < min_tail:
        return None, n
    return sorted(xs)[rank - 1], n


def highest(xs, candidates=(99, 95, 90, 75, 50), min_tail=10):
    """The highest candidate percentile with at least `min_tail` samples
    beyond it: (p, value, sample_count), or (None, None, n)."""
    for p in candidates:
        v, n = percentile(xs, p, min_tail)
        if v is not None:
            return p, v, n
    return None, None, len(xs)
