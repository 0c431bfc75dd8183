"""Statistics used to turn raw benchmark samples into reported metrics.

Kept free of any I/O so that test_stats.py can pin the definitions.
"""
import math


def median(values):
    """Median of a non-empty sequence (mean of the middle pair when even)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no samples")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def quantile(values, q):
    """Linear-interpolated quantile, q in [0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no samples")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


# Percentiles considered for the tail, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail_percentile(values, min_beyond=10):
    """Highest percentile in TAIL_PERCENTILES with at least `min_beyond`
    samples above it, as (percentile, value); None when even the median
    has fewer than `min_beyond` samples beyond it."""
    n = len(values)
    for p in TAIL_PERCENTILES:
        if n * (100.0 - p) / 100.0 >= min_beyond:
            return p, quantile(values, p / 100.0)
    return None


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals; overlaps
    count once. Intervals with end <= start cover nothing."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(intervals, start, end):
    """The parts of `intervals` that fall inside [start, end]."""
    out = []
    for s, e in intervals:
        s, e = max(s, start), min(e, end)
        if e > s:
            out.append((s, e))
    return out


def uncovered(start, end, intervals):
    """Length of [start, end] that no interval covers, e.g. the driver's
    share of a batch: its wall time not covered by any Spark job."""
    return (end - start) - union_length(clip(intervals, start, end))


def self_times(spans):
    """Self time per span id: the span's duration minus the part of its
    interval covered by its direct children. `spans` are dicts with keys
    id, parent, start, end."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: uncovered(s["start"], s["end"], children.get(s["id"], []))
            for s in spans}
