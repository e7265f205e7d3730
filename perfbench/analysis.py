"""Pure functions that turn the harness's raw records into metrics.

Times in the raw records are epoch milliseconds. Spans are dicts with
``id``, ``parent``, ``name``, ``layer``, ``start`` and ``end``.
"""
import heapq
import math
import re


def _betacf(a, b, x):
    """Continued fraction of the regularized incomplete beta function."""
    tiny, c, d = 1e-300, 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-14:
            break
    return h


def betainc(a, b, x):
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b) +
                     a * math.log(x) + b * math.log(1.0 - x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def hd_quantile(xs, p=0.5):
    """Harrell-Davis estimate of the ``p`` quantile: a beta-weighted mean
    of all order statistics. Unlike the sample median it does not jump
    between neighbouring values when a sample lands in a gap of the
    distribution, so it repeats more closely from run to run."""
    s = sorted(xs)
    n = len(s)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    cdf = [betainc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * v for i, v in enumerate(s))


def percentile(xs, p):
    """The ``p``-th percentile of ``xs`` (nearest rank), or None unless at
    least ten samples lie strictly beyond it."""
    if not xs:
        return None
    s = sorted(xs)
    rank = max(1, -(-len(s) * p // 100))  # ceil(n * p / 100)
    value = s[int(rank) - 1]
    beyond = sum(1 for x in s if x > value)
    return value if beyond >= 10 else None


def highest_percentile(xs, candidates=(99.9, 99, 95, 90, 75, 50)):
    """(p, value) for the highest candidate percentile with at least ten
    samples beyond it, or None."""
    for p in candidates:
        v = percentile(xs, p)
        if v is not None:
            return p, v
    return None


def clip_to_parents(spans):
    """Clip every span to its parent's interval (listener clocks have
    millisecond resolution, so a job can overhang its caller by a tick).
    Returns new span dicts; spans whose parent is unknown are roots."""
    by_id = {s["id"]: dict(s) for s in spans}
    order = sorted(by_id.values(), key=lambda s: depth_of(s, by_id))
    for s in order:
        p = by_id.get(s["parent"])
        if p is not None:
            s["start"] = min(max(s["start"], p["start"]), p["end"])
            s["end"] = max(min(s["end"], p["end"]), s["start"])
    return list(by_id.values())


def depth_of(span, by_id):
    d, p = 0, by_id.get(span["parent"])
    while p is not None:
        d, p = d + 1, by_id.get(p["parent"])
    return d


def self_times(spans):
    """Self time of every span: its duration minus the part of it that a
    descendant covers. Where several spans overlap (concurrent jobs or
    stages), each instant goes to the deepest span, the latest-started
    one among equals, so the self times of a tree add up to its root's
    duration. Returns {span id: self time}."""
    spans = clip_to_parents(spans)
    by_id = {s["id"]: s for s in spans}
    depth = {s["id"]: depth_of(s, by_id) for s in spans}
    events = sorted({t for s in spans for t in (s["start"], s["end"])})
    starts = sorted(spans, key=lambda s: s["start"])
    out = {s["id"]: 0.0 for s in spans}
    heap, i = [], 0
    for a, b in zip(events, events[1:]):
        while i < len(starts) and starts[i]["start"] <= a:
            s = starts[i]
            heapq.heappush(heap, (-depth[s["id"]], -s["start"], s["id"]))
            i += 1
        while heap and by_id[heap[0][2]]["end"] <= a:
            heapq.heappop(heap)
        if heap:
            out[heap[0][2]] += b - a
    return out


def union_length(intervals, lo, hi):
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


CALLSITE = re.compile(r"at (\w+)\.(?:scala|java):\d+")


def callsite_layer(callsite, file_layers):
    """Layer of the graft source file named in a Spark call site such as
    ``parquet at Tables.scala:25``; None for files outside graft."""
    m = CALLSITE.search(callsite or "")
    return file_layers.get(m.group(1)) if m else None


def job_layer(callsite, caller, file_layers):
    """Jobs whose call site is a source loader belong to ``sources``; other
    jobs started while a DataFrame is being built belong to
    ``operators``; every other job is execution."""
    layer = callsite_layer(callsite, file_layers)
    if layer == "sources":
        return "sources"
    if caller == "build":
        return "operators"
    return "exec"
