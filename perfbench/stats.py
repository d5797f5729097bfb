"""Arithmetic the benchmark reports with; covered by test_stats.py."""
import math

TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(xs):
    s = sorted(xs)
    if not s:
        return 0.0
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def tail(xs, min_beyond=10):
    """(value, percentile, samples beyond) for the highest percentile that
    has at least `min_beyond` samples above it. With too few samples for
    any percentile to qualify, the median is the tail."""
    for p in TAIL_PERCENTILES:
        v = percentile(xs, p)
        beyond = sum(1 for x in xs if x > v)
        if beyond >= min_beyond:
            return v, p, beyond
    m = median(xs)
    return m, 50.0, sum(1 for x in xs if x > m)


def failed_frac(failed, attempted):
    if attempted < 1:
        raise ValueError("no operation was attempted")
    return failed / attempted


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its child spans cover."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children
               if ce > s and cs < e]
    return (e - s) - union_length(clipped)


def latency_growth(latencies):
    """Median of the last quarter of a series over the median of its
    first quarter (1.0 = flat)."""
    q = max(1, len(latencies) // 4)
    first = median(latencies[:q])
    return median(latencies[-q:]) / first if first > 0 else 0.0


def growth_per_step(values):
    """Average increase per step from the first to the last value."""
    return (values[-1] - values[0]) / (len(values) - 1) if len(values) > 1 else 0.0

