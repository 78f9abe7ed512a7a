"""Order statistics and interval arithmetic for the benchmark's metrics."""
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, p):
    """Linear-interpolated p-th percentile (0 <= p <= 100) of xs."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail_percentile(xs):
    """The highest of p90, p99 and p99.9 with at least ten samples beyond
    it, as (p, value); None when there are too few samples."""
    best = None
    for p in (90.0, 99.0, 99.9):
        if len(xs) * (100.0 - p) / 100.0 >= 10:
            best = (p, percentile(xs, p))
    return best


def spread(xs):
    """Distance between the first and third quartile as a share of the
    median, with the quartiles `statistics.quantiles(n=4)` gives."""
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4)
    m = statistics.median(xs)
    return (q3 - q1) / m if m else 0.0


def union(intervals):
    """Merges (start, end) intervals into disjoint sorted ones."""
    merged = []
    for a, b in sorted((a, b) for a, b in intervals if b > a):
        if merged and a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    return [tuple(m) for m in merged]


def uncovered(window, intervals):
    """Length of `window` not covered by any of the intervals."""
    lo, hi = window
    covered = sum(min(b, hi) - max(a, lo) for a, b in union(intervals) if b > lo and a < hi)
    return (hi - lo) - covered
