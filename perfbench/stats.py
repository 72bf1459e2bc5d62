"""The tail percentile rule and span arithmetic for the graft benchmark."""
import math


def tail(values, beyond=10):
    """The highest integer percentile with at least `beyond` samples
    above it, by nearest rank: (percentile, value).  None when there
    are too few samples for any such percentile."""
    n = len(values)
    if n <= beyond:
        return None
    p = (100 * (n - beyond)) // n
    rank = max(1, math.ceil(p * n / 100))
    return p, sorted(values)[rank - 1]


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, end = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_times(spans):
    """{span id: self time}: each span's duration minus the part of its
    interval that its child spans cover (overlapping children count
    once).  `spans` are dicts with id, parent, start and end."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - covered(kids.get(s["id"], []), s["start"], s["end"])
            for s in spans if s["id"]}
