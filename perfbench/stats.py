"""Arithmetic of the benchmark: percentiles, self time, core busy share."""
import statistics

TAIL_LEVELS = (50, 75, 90, 95, 99)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def nearest_rank(sorted_xs, pct):
    """Smallest sample with at least `pct` percent of samples at or below it."""
    k = max(1, -(-len(sorted_xs) * pct // 100))  # ceil
    return sorted_xs[int(k) - 1]


def tail(xs, min_beyond=10, fallback=90):
    """The highest percentile of TAIL_LEVELS with at least `min_beyond`
    samples above it; with too few samples for any level, the `fallback`
    percentile. Returns (level, value, n, beyond, rule_met)."""
    s = sorted(xs)
    best = None
    for level in TAIL_LEVELS:
        v = nearest_rank(s, level)
        beyond = sum(1 for x in s if x > v)
        if beyond >= min_beyond:
            best = (level, v, len(s), beyond, True)
    if best is None:
        v = nearest_rank(s, fallback)
        best = (fallback, v, len(s), sum(1 for x in s if x > v), False)
    return best


def union_length(intervals, lo=None, hi=None):
    """Length of the union of (start, end) intervals, clipped to [lo, hi];
    overlapping intervals are counted once."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    children cover, overlapping children counted once. `spans` maps id to
    (parent, start, end); parent 0 means a root."""
    children = {}
    for sid, (parent, a, b) in spans.items():
        children.setdefault(parent, []).append((a, b))
    return {sid: (b - a) - union_length(children.get(sid, []), a, b)
            for sid, (parent, a, b) in spans.items()}


def busy_core_time(intervals, lo, hi, cores):
    """Integral over [lo, hi] of min(running tasks, cores)."""
    edges = []
    for a, b in intervals:
        a, b = max(a, lo), min(b, hi)
        if b > a:
            edges += [(a, 1), (b, -1)]
    edges.sort()
    total, running, last = 0.0, 0, lo
    for t, d in edges:
        total += min(running, cores) * (t - last)
        running += d
        last = t
    return total


def core_busy_share(intervals, windows, cores):
    """Busy core time of the task intervals inside the windows, as a share
    of cores x the windows' total length."""
    span = sum(b - a for a, b in windows)
    if span <= 0:
        return 0.0
    busy = sum(busy_core_time(intervals, a, b, cores) for a, b in windows)
    return busy / (cores * span)
