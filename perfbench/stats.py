"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics


def geomean(values) -> float:
    """Geometric mean of positive values; a 2x change on any one value
    moves it by the same factor whatever that value's size."""
    vals = [float(v) for v in values]
    if not vals:
        raise ValueError("geomean of no values")
    if any(v <= 0 for v in vals):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


def percentile(values, q: float) -> float:
    """The q-th percentile (0..100) by linear interpolation between
    closest ranks (numpy's default method)."""
    vals = sorted(float(v) for v in values)
    if not vals:
        raise ValueError("percentile of no values")
    pos = (len(vals) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(vals) - 1)
    return vals[lo] + (vals[hi] - vals[lo]) * (pos - lo)


TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail_percentile(n: int, beyond: int = 10) -> float | None:
    """The highest of TAIL_CANDIDATES that leaves at least `beyond`
    samples above it in a sample of `n`; None when even the median does
    not (fewer than 2 * beyond samples)."""
    for q in TAIL_CANDIDATES:
        if n * (100.0 - q) / 100.0 >= beyond - 1e-9:
            return q
    return None


def quartile_spread(values) -> float:
    """(Q3 - Q1) / median, with Python's `statistics.quantiles(n=4)`."""
    vals = [float(v) for v in values]
    if len(vals) < 2:
        return 0.0
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def exclusive_times(spans) -> dict:
    """Split covered time among spans: each instant belongs to the
    deepest span open at it, and among spans of equal depth to the one
    that started last.  `spans` are dicts with id, parent, start, end.
    Where children nest without overlapping, a span's share is its
    self time; where siblings overlap, the shares still add up to the
    covered time instead of counting the overlap twice."""
    depth: dict = {}
    for sp in spans:  # parents precede their children
        depth[sp["id"]] = 0 if sp["parent"] is None else depth[sp["parent"]] + 1
    out = {sp["id"]: 0.0 for sp in spans}
    points = sorted({t for sp in spans for t in (sp["start"], sp["end"])})
    for a, b in zip(points, points[1:]):
        mid = (a + b) / 2
        best = None
        for sp in spans:
            if sp["start"] <= mid < sp["end"]:
                key = (depth[sp["id"]], sp["start"])
                if best is None or key > best[0]:
                    best = (key, sp["id"])
        if best is not None:
            out[best[1]] += b - a
    return out
