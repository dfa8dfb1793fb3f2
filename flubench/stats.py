"""Order statistics used by the benchmark's metrics."""
import math
import statistics


def median(values):
    """Median of a non-empty sequence."""
    if not values:
        raise ValueError("median of no values")
    return statistics.median(values)


def percentile(values, p):
    """p-th percentile (0..100) by linear interpolation between the two
    nearest ranks, the same rule as numpy's default."""
    if not values:
        raise ValueError("percentile of no values")
    if not 0 <= p <= 100:
        raise ValueError(f"percentile {p} outside 0..100")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n, candidates=(99.9, 99.0, 90.0, 50.0)):
    """Highest candidate percentile with at least ten of `n` samples
    above it, or None when even the median has fewer."""
    for p in candidates:
        if n * (100.0 - p) / 100.0 >= 10 - 1e-9:
            return p
    return None


def relative_iqr(values):
    """Distance between the first and third quartile as a share of the
    median, with the quartiles `statistics.quantiles(values, n=4)` gives."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
