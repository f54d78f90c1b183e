"""Order statistics and span arithmetic used by run.py."""
import math
import statistics


def median(xs):
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def tail(xs, beyond=10):
    """The highest whole percentile that has at least `beyond` samples
    above it, by nearest rank.  Returns (value, percentile, n)."""
    n = len(xs)
    if n <= beyond:
        raise ValueError(f"{n} samples: no percentile has {beyond} beyond it")
    p = 100 * (n - beyond) // n
    rank = max(1, math.ceil(p * n / 100))
    return sorted(xs)[rank - 1], p, n


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, cur = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        s = max(s, cur)
        if e > s:
            total += e - s
            cur = e
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover; children
    may nest, overlap each other or stick out of the span."""
    s, e = span
    return (e - s) - covered(children, s, e)
