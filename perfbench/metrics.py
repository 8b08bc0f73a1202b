"""Metric arithmetic for perfbench: pure functions over raw samples,
self-tested by test_metrics.py."""


def tail(xs):
    """The highest percentile with at least ten samples beyond it.

    Returns (value, percentile, samples_beyond). With n sorted samples,
    the k-th smallest (1-based) has n - k samples above it, so the tail
    is the (n - 10)-th smallest, at percentile 100 * (n - 10) / n. With
    ten samples or fewer no percentile qualifies; the maximum is
    returned, with the number of samples beyond it (zero) stated."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0, 0
    k = n - 10
    return s[k - 1], 100.0 * k / n, n - k


def interval_union(intervals, lo=None, hi=None):
    """Total length covered by the union of [start, end) intervals,
    clipped to [lo, hi] when given."""
    spans = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            spans.append((a, b))
    spans.sort()
    total = 0
    cur_a = cur_b = None
    for a, b in spans:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def no_task_time(window, intervals):
    """Time inside `window` = (start, end) during which no task ran."""
    lo, hi = window
    return (hi - lo) - interval_union(intervals, lo, hi)


def failed_ratio(oks):
    """Failed ops over attempted ops; an op that threw or returned a
    wrong output has ok = False."""
    oks = list(oks)
    if not oks:
        raise ValueError("no ops attempted")
    return sum(1 for ok in oks if not ok) / len(oks)


def growth(latencies):
    """Last over first latency of a sequence; 1.0 when there are fewer
    than two."""
    if len(latencies) < 2 or latencies[0] <= 0:
        return 1.0
    return latencies[-1] / latencies[0]
