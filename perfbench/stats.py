"""Small statistics helpers of the benchmark (tested in tests/test_stats.py)."""
import math

PHASES = ("build", "exec")


def percentile(values, p):
    """The p-th percentile (0..100) with linear interpolation between
    closest ranks, as numpy's default and statistics.quantiles' inclusive
    method compute it."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values):
    return percentile(values, 50)


def quartiles(values):
    return [percentile(values, 25), percentile(values, 50), percentile(values, 75)]


def tail_percentile(n):
    """The highest whole percentile, at most 90, with at least ten of n
    samples beyond it under `percentile`'s interpolation: the largest p
    with (n - 1) * p / 100 < n - 10. None when that is not above the
    median (n < 20), since such a tail says no more than the median."""
    if n <= 10:
        return None
    p = min(90, (100 * (n - 10) - 1) // (n - 1))
    return p if p > 50 else None


def tail(values):
    """[percentile, value] of the tail a sample supports, or None."""
    p = tail_percentile(len(values))
    return None if p is None else [p, percentile(values, p)]


def self_times(spans):
    """Self time in seconds per span id: a span's duration minus that of
    the layer spans nested directly in it. Phase spans (build, exec) are
    looked through: they split a layer's time, they do not take it away,
    and a layer span nested in a phase counts against the enclosing layer.
    Spans are dicts with id, name, parent (-1 at the root), start_ns and
    end_ns."""
    by_id = {s["id"]: s for s in spans}

    def layer_parent(s):
        p = by_id.get(s["parent"])
        while p is not None and p["name"] in PHASES:
            p = by_id.get(p["parent"])
        return p

    out = {s["id"]: (s["end_ns"] - s["start_ns"]) / 1e9 for s in spans}
    for s in spans:
        if s["name"] in PHASES:
            continue
        p = layer_parent(s)
        if p is not None:
            out[p["id"]] -= (s["end_ns"] - s["start_ns"]) / 1e9
    return out


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total = 0.0
    end = None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
