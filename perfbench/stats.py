"""Percentile arithmetic for the benchmark's report.

A tail percentile is only reported when at least `MIN_BEYOND` samples lie
beyond it; there is no min-of-N estimator and no sample is ever dropped.
"""
MIN_BEYOND = 10


def percentile(values, q):
    """Linear-interpolated q-quantile (0 <= q <= 1) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(n, q):
    """How many of n samples lie beyond the q-quantile."""
    return int(n * (1 - q) + 1e-9)


def tail_ok(n, q):
    """True when the q-quantile of n samples may be reported."""
    return q <= 0.5 or beyond(n, q) >= MIN_BEYOND

