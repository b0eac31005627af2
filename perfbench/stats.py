"""Statistics helpers of the benchmark: medians, the supported tail
percentile, spreads and span self time."""

import statistics

TAIL_BEYOND = 10


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else None


def tail(xs):
    """The highest percentile of ``xs`` that has at least ten samples beyond
    it, as ``(value, percentile, samples_beyond, n)``.

    With n samples that is the (n-10)-th smallest value, the
    100*(n-10)/n-th percentile. With fewer than 11 samples no percentile
    has ten beyond it; the maximum is returned with the count actually
    beyond it (0), so the report shows the tail is unsupported.
    """
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return None, None, 0, 0
    if n <= TAIL_BEYOND:
        return s[-1], 100.0, 0, n
    return s[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n, TAIL_BEYOND, n


def iqr_share(xs):
    """Distance between the first and third quartile as a share of the
    median (quartiles as ``statistics.quantiles(xs, n=4)`` gives them)."""
    xs = list(xs)
    if len(xs) < 2:
        return 0.0
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def union_length(intervals):
    """Total length covered by possibly overlapping ``(start, end)`` pairs."""
    total = 0.0
    cur_s = cur_e = None
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


def clip(intervals, start, end):
    return [(max(s, start), min(e, end)) for s, e in intervals if min(e, end) > max(s, start)]


def self_time(start, end, children):
    """A span's duration minus the part of it that its children cover."""
    return (end - start) - union_length(clip(children, start, end))


def mean_active(start, end, intervals):
    """Mean number of ``intervals`` active over ``[start, end]``."""
    if end <= start:
        return 0.0
    return sum(e - s for s, e in clip(intervals, start, end)) / (end - start)
