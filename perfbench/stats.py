"""Order statistics used for every reported timing."""

import math


def percentile(values, p):
    """Linear-interpolated percentile, p in [0, 100] (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def tail_percentile(n, candidates=(99.9, 99, 95, 90, 75)):
    """The highest candidate percentile with at least ten of n samples
    beyond it, or None when n is too small for any."""
    for p in candidates:
        if n * (100 - p) / 100.0 >= 10:
            return p
    return None
