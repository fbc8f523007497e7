"""Arithmetic of the benchmark: medians, geometric means, the union of time
intervals, span self time and failure counting. Kept free of
I/O so that test_stats.py can pin it."""
import math


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def geomean(xs):
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def union_length(intervals):
    """Total length covered by (start, end) intervals; overlaps count once."""
    total = 0
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


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(spans):
    """spans: {id: (parent, start, end)} → {id: duration minus the union of
    its children's intervals (clipped to the span)}."""
    children = {}
    for sid, (parent, s, e) in spans.items():
        children.setdefault(parent, []).append((s, e))
    out = {}
    for sid, (_, s, e) in spans.items():
        out[sid] = (e - s) - union_length(clip(children.get(sid, []), s, e))
    return out


def gap(window, busy):
    """Time of `window` (start, end) not covered by any `busy` interval."""
    lo, hi = window
    return (hi - lo) - union_length(clip(busy, lo, hi))


def failures(samples):
    """samples: iterable of ok flags → (attempted, failed)."""
    attempted = failed = 0
    for ok in samples:
        attempted += 1
        failed += 0 if ok else 1
    return attempted, failed
