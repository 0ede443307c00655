"""Percentiles, interval arithmetic for span self times, and run spread."""
import math
import statistics

# Percentiles a latency is reported at, highest first.
TAIL_CANDIDATES = (99, 95, 90, 75, 50)
MIN_BEYOND = 10


def percentile(values, q):
    """Nearest-rank percentile: the smallest value with at least ``q``% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[rank - 1]


def beyond(n, q):
    """How many of ``n`` samples lie above the nearest-rank ``q``-th percentile."""
    return n - max(1, math.ceil(q / 100.0 * n))


def tail_percentile(n):
    """The highest reported percentile with at least ten samples beyond it,
    or None when even the median has fewer (a run with under 21 samples)."""
    for q in TAIL_CANDIDATES:
        if beyond(n, q) >= MIN_BEYOND:
            return q
    return None


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(interval, within):
    """``interval`` cut to ``within``; empty intervals come back as (s, s)."""
    s, e = max(interval[0], within[0]), min(interval[1], within[1])
    return (s, max(s, e))


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    covered = union_length([clip(c, span) for c in children])
    return (span[1] - span[0]) - covered


def coverage(span, descendants):
    """Share of a span's duration covered by any of its descendants."""
    d = span[1] - span[0]
    if d <= 0:
        return 1.0
    return union_length([clip(c, span) for c in descendants]) / d


def spread(values):
    """Inter-quartile distance as a share of the median (the check the
    benchmark's bounds are set against)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")
