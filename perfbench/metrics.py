"""The benchmark's own arithmetic: percentiles, span self time, interval
unions, byte ratios and tracing overhead. Kept free of I/O so `selfcheck.py` can pin it."""
import math
import statistics

# Tail percentiles considered, highest first. A fixed ladder keeps the
# reported tail from drifting with small changes in the sample count.
TAIL_LADDER = (99.9, 99, 95, 90, 75, 50)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def nearest_rank(xs, p):
    """The p-th percentile by nearest rank, and how many samples lie
    beyond it."""
    s = sorted(xs)
    k = max(1, math.ceil(p / 100 * len(s)))
    return s[k - 1], len(s) - k


def tail(xs, beyond=10):
    """(percentile, value): the highest ladder percentile with at least
    `beyond` samples above it. With too few samples for any of them the
    tail is the maximum, reported as percentile 100."""
    for p in TAIL_LADDER:
        v, n = nearest_rank(xs, p)
        if n >= beyond:
            return p, v
    return 100.0, max(xs)


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Total length covered by the intervals, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, end = 0.0, -math.inf
    for a, b in clipped:
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover;
    overlapping children count once."""
    a, b = span
    return (b - a) - union_length(children, a, b)


def write_amp(bytes_created, plain_bytes):
    """Bytes the table layer wrote per byte of the same batches written
    once as plain parquet."""
    return bytes_created / plain_bytes if plain_bytes else 0.0



def trace_overhead(seq):
    """(seconds, share) a traced operation takes beyond an untraced one.
    `seq` holds (kind, wall seconds, traced) in run order. Each traced
    operation is compared with the mean of the untraced operations of
    its kind just before and just after it (one of them when the other
    is missing), so a drift in speed over the run cancels; the medians
    of the differences and of the relative differences are reported."""
    diffs, shares = [], []
    for i, (kind, wall, traced) in enumerate(seq):
        if not traced:
            continue
        near = [next((w for k, w, t in side if k == kind and not t), None)
                for side in (reversed(seq[:i]), seq[i + 1:])]
        near = [w for w in near if w is not None]
        if near:
            base = sum(near) / len(near)
            diffs.append(wall - base)
            shares.append((wall - base) / base if base else 0.0)
    return median(diffs), median(shares)
