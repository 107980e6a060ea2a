"""Percentiles and interval arithmetic shared by run.py and layers.py."""
import math


def percentile(xs, q):
    """Nearest-rank percentile: the smallest sample with at least a
    q share of the samples at or below it."""
    s = sorted(xs)
    if not s:
        return float("nan")
    return s[max(0, min(len(s) - 1, math.ceil(q * len(s)) - 1))]


def beyond(n, q):
    """How many of n samples lie strictly above the q percentile."""
    return n - math.ceil(q * n) if n else 0


def valid_tail(n, q, need=10):
    """A percentile is reported as valid only with `need` samples beyond it."""
    return beyond(n, q) >= need


def median(xs):
    s = sorted(xs)
    if not s:
        return float("nan")
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


def union(intervals):
    """Merged, sorted, non-overlapping intervals."""
    out = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [tuple(i) for i in out]


def union_length(intervals):
    return sum(b - a for a, b in union(intervals))


def covered(span, children):
    """Length of `span` = (start, end) covered by the union of children,
    each clipped to the span."""
    a, b = span
    return union_length((max(a, x), min(b, y)) for x, y in children)


def self_time(span, children):
    """Span duration minus the part of its interval its children cover."""
    return (span[1] - span[0]) - covered(span, children)
