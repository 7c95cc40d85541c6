"""Metric math for the benchmark: medians, the tail percentile, span self
time, and attribution of engine events to the benchmark's spans.

Every function here is pure, so test_metrics.py covers it without Spark.
"""


def median(xs):
    """Median of a non-empty sequence; 0.0 for an empty one."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0
    mid = n // 2
    return float(s[mid]) if n % 2 else (s[mid - 1] + s[mid]) / 2.0


def tail(xs, beyond=10):
    """The highest percentile that has at least `beyond` samples above it.

    Returns (value, percentile, n), or None when there are too few samples.
    With n samples sorted ascending, the sample at rank r (1-based) has
    n - r samples after it, so the highest qualifying rank is n - beyond.
    """
    s = sorted(xs)
    n = len(s)
    r = n - beyond
    if r < 1:
        return None
    return s[r - 1], 100.0 * r / n, n


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


def clip(interval, lo, hi):
    return max(interval[0], lo), min(interval[1], hi)


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    lo, hi = span
    return (hi - lo) - union_length([clip(c, lo, hi) for c in children])


def owner(spans, t):
    """Index of the deepest sequential span whose interval holds time t.

    `spans` are dicts with t0, t1, depth and seq. Sequential spans never
    overlap a sibling, so the deepest one holding t is unique.
    """
    best = None
    for i, s in enumerate(spans):
        if s["seq"] and s["t0"] <= t <= s["t1"]:
            if best is None or s["depth"] > spans[best]["depth"]:
                best = i
    return best


def parts_check(spans, events, tol=0.05, slack_ms=2.0):
    """The parts-sum self-check of span attribution.

    `spans` are dicts with id, parent, t0, t1, depth and seq (times in ms);
    `events` are (id, t0, t1) jobs or stages. Each event belongs to the
    deepest sequential span holding its start, and to that span's
    ancestors. A sequential span's parts are the time its events ran, as
    the listener timed them, plus its driver time outside them. Two things
    make the parts miss the wall time: an event that runs past the end of
    the span that owns it, and an event a span owns directly that overlaps
    one of its sequential children, which the child's interval then
    claims too. A span fails when the time so misattributed exceeds `tol`
    of its wall time (or `slack_ms`, the listener's clock granularity).

    Returns (indices of failing spans, ids of events no span owns).
    """
    owned = [[] for _ in spans]
    direct = [[] for _ in spans]
    index = {s["id"]: i for i, s in enumerate(spans)}
    unowned = []
    for e in events:
        i = owner(spans, e[1])
        if i is None:
            unowned.append(e[0])
            continue
        direct[i].append(e)
        while i is not None:
            owned[i].append(e)
            i = index.get(spans[i]["parent"])
    failing = []
    for i, s in enumerate(spans):
        if not s["seq"]:
            continue
        lo, hi = s["t0"], s["t1"]
        ivs = [(e[1], e[2]) for e in owned[i]]
        in_events = union_length(ivs)
        outside = (hi - lo) - union_length([clip(iv, lo, hi) for iv in ivs])
        kids = [(c["t0"], c["t1"]) for c in spans if c["seq"] and c["parent"] == s["id"]]
        claimed = sum(max(0.0, min(e[2], k1) - max(e[1], k0))
                      for e in direct[i] for k0, k1 in kids)
        if abs(in_events + outside - (hi - lo)) + claimed > max(tol * (hi - lo), slack_ms):
            failing.append(i)
    return failing, unowned


def listener_overhead(intervals, callbacks):
    """Tracing overhead of the timed rounds: their wall time over that time
    less the listener callbacks that ran inside them.

    `intervals` are the rounds' (t0, t1); `callbacks` are (event time,
    callback ns). Counting every callback as if it held up the driver
    makes this an upper bound. Returns a ratio with its base.
    """
    wall = sum(t1 - t0 for t0, t1 in intervals)
    cb_ms = sum(ns for t, ns in callbacks if any(t0 <= t <= t1 for t0, t1 in intervals)) / 1e6
    return dict(ratio(wall, wall - cb_ms), callback_ms=cb_ms)


def depths(spans):
    """Annotate each span dict with its depth in the parent tree."""
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        d, p = 0, s["parent"]
        while p in by_id:
            d += 1
            p = by_id[p]["parent"]
        s["depth"] = d
    return spans


def ratio(num, base):
    """A ratio with its base, so a reader can see what it divides."""
    return {"value": num / base if base else 0.0, "num": num, "base": base}
