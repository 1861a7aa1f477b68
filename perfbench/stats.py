"""The benchmark's arithmetic, kept apart so test_stats.py can check it."""
import math


def percentile(values, q):
    """Nearest-rank percentile: the smallest sample with at least q percent
    of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(q * len(s) / 100.0 - 1e-9))
    return s[rank - 1]


def median(values):
    s = sorted(values)
    if not s:
        raise ValueError("median of no samples")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2.0


def tail(values, min_beyond=10):
    """The highest percentile (one decimal, at most 99.9) that has at least
    `min_beyond` samples above its rank, as (percentile, value). A run with
    no more than `min_beyond` samples has no such percentile; its largest
    sample stands in, reported as percentile 100."""
    n = len(values)
    if n <= min_beyond:
        return 100.0, max(values)
    q = min(99.9, math.floor((n - min_beyond) * 1000.0 / n) / 10.0)
    return q, percentile(values, q)


def union_length(intervals, lo=None, hi=None):
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(clipped):
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
    """Self time of every span of one operation's tree.

    `spans` are dicts with name, parent, start and end; the root has
    parent "". A span's children are the spans naming it as parent, and
    `job` spans (parent "") are attached to the innermost non-job span
    that contains their start. Self time is the span's length minus the
    part of it its children cover; overlapping children count once.
    Returns a list of (name, self time) in input order."""
    named = [s for s in spans if s["name"] != "job"]
    jobs = [s for s in spans if s["name"] == "job"]
    children = {id(s): [] for s in named}
    by_name = {s["name"]: s for s in named}
    for s in named:
        if s["parent"]:
            children[id(by_name[s["parent"]])].append(s)
    for j in jobs:
        holders = [s for s in named if s["start"] <= j["start"] <= s["end"]]
        if holders:
            inner = min(holders, key=lambda s: s["end"] - s["start"])
            children[id(inner)].append(j)
    out = []
    for s in named + jobs:
        kids = children.get(id(s), [])
        covered = union_length([(k["start"], k["end"]) for k in kids],
                               s["start"], s["end"])
        out.append((s["name"], (s["end"] - s["start"]) - covered))
    return out


def due_latencies(events):
    """Open-loop latency of each event: from the time its input was due
    (not when the generator got round to writing it) to its emission."""
    return [e["emitted"] - e["from"] for e in events]


def generator_lag(writes):
    """How late the generator wrote each tick, from its due time."""
    return [max(0.0, w["at"] - w["due"]) for w in writes]
