"""Summary statistics and span arithmetic used by the metrics."""
import math
import statistics


def median(values):
    return statistics.median(values) if values else 0.0


def geomean(values):
    """Geometric mean: each operation weighs the same whatever its size,
    so one slow row cannot dominate a pass of very different rows."""
    return statistics.geometric_mean(values) if values else 0.0


def percentile(values, p):
    """The ``p``-th percentile (0-100, nearest rank), or None when fewer
    than ten samples lie beyond it: a tail figure resting on a handful of
    samples is omitted rather than reported."""
    n = len(values)
    if n == 0:
        return None
    rank = max(1, math.ceil(p / 100.0 * n))
    if n - rank < 10:
        return None
    return sorted(values)[rank - 1]


def quartile_spread(values):
    """Interquartile distance as a share of the median, the way the
    stability check computes it."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its child spans cover (overlapping children count once).

    ``spans`` are dicts with ``id``, ``parent``, ``start_ms`` and ``end_ms``;
    the result maps span id to milliseconds.
    """
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ms"]):
            a, b = max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = (s["end_ms"] - s["start_ms"]) - covered
    return out
