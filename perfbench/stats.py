"""Percentiles, interval unions and span self-times used by the benchmark."""
import statistics

# A tail percentile is reported only with at least this many samples beyond it.
TAIL_SAMPLES = 10


def median(values):
    """The median, or None without samples."""
    return statistics.median(values) if values else None


def tail(values, beyond=TAIL_SAMPLES):
    """The highest percentile with `beyond` samples above it: the value
    ranked `beyond` + 1 from the top, or None with too few samples."""
    if len(values) <= beyond:
        return None
    return sorted(values)[-beyond - 1]


def union(intervals):
    """Merge (start, end) intervals into disjoint sorted ones."""
    merged = []
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if merged and lo <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], hi)
        else:
            merged.append([lo, hi])
    return [tuple(m) for m in merged]


def clip(intervals, lo, hi):
    """Intervals cut to the window [lo, hi]; empty pieces dropped."""
    return [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]


def length(intervals):
    """Total length covered by possibly overlapping intervals."""
    return sum(hi - lo for lo, hi in union(intervals))


def subtract(intervals, minus):
    """Parts of `intervals` not covered by `minus`, as disjoint intervals."""
    out = []
    cuts = union(minus)
    for lo, hi in union(intervals):
        cur = lo
        for a, b in cuts:
            if b <= cur or a >= hi:
                continue
            if a > cur:
                out.append((cur, a))
            cur = max(cur, b)
        if cur < hi:
            out.append((cur, hi))
    return out


def self_times(window, layers):
    """Split `window` = (start, end) among nested layers, innermost first.

    `layers` is [(name, intervals)]. Each layer's self time is the part of
    the window its intervals cover that no earlier layer covers; what is
    left is returned under "self". The values sum to the window's length.
    """
    lo, hi = window
    taken = []
    out = {}
    for name, intervals in layers:
        own = subtract(clip(intervals, lo, hi), taken)
        out[name] = length(own)
        taken = union(taken + own)
    out["self"] = (hi - lo) - length(taken)
    return out
