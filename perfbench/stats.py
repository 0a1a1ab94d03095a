"""Pure helpers behind the benchmark's metrics; unit-tested in
`test_stats.py`."""
import math


def median(values):
    """Middle value; the mean of the two middle values for an even count."""
    if not values:
        return None
    ordered = sorted(values)
    mid = len(ordered) // 2
    if len(ordered) % 2:
        return ordered[mid]
    return (ordered[mid - 1] + ordered[mid]) / 2.0


def union_length(intervals):
    """Total length covered by the union of (start, end) intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def gap(window, intervals):
    """Time inside `window` = (start, end) that no interval covers."""
    lo, hi = window
    clipped = [(max(s, lo), min(e, hi)) for s, e in intervals
               if e > lo and s < hi]
    return (hi - lo) - union_length(clipped)


def self_times(spans):
    """Self time per span id: its duration minus the part of it that its
    children cover. `spans` are dicts with id, parent, start, end."""
    children = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children.get(s["id"], [])
                if c["end"] > s["start"] and c["start"] < s["end"]]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(kids)
    return out
