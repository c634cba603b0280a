"""The benchmark's arithmetic: percentiles, span self time and open-loop lag.

Kept free of I/O so `test_stats.py` can check it directly.
"""

import math
import statistics

# A percentile is reported only when at least this many samples lie beyond it.
MIN_BEYOND = 10


def percentile(values, q):
    """Nearest-rank q-quantile (0 < q <= 1) of a non-empty sample."""
    xs = sorted(values)
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


def beyond(n, q):
    """How many of n samples lie strictly above the nearest-rank q-quantile."""
    return n - max(1, math.ceil(q * n))


def supported(n, q):
    """True when the q-quantile of n samples has MIN_BEYOND samples past it."""
    return n > 0 and beyond(n, q) >= MIN_BEYOND


def union_length(intervals, lo, hi):
    """Length of the union of intervals, each clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, end = 0.0, lo
    for a, b in clipped:
        if b <= a:
            continue
        a = max(a, end)
        if b > a:
            total += b - a
            end = b
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    its children cover. Children may nest, overlap each other, or stick out
    of the parent; only the covered part of the parent's own interval counts.

    spans: iterable of dicts with id, parent, t0, t1.
    Returns {span id: self time}.
    """
    spans = list(spans)
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    return {
        s["id"]: (s["t1"] - s["t0"]) - union_length(kids.get(s["id"], []), s["t0"], s["t1"])
        for s in spans
    }


def lags(ops):
    """Lag of each op whose effect showed: from the time the effect was due
    (its source commit), not from when anything downstream started to work
    on it, to the time it showed (mirrored). A stall therefore counts
    against every op that waited behind it. Ops whose effect never showed
    are left out; count them separately."""
    return [o["mirrored"] - o["committed"] for o in ops if o.get("mirrored") is not None]


def quartile_spread(values):
    """Distance between the first and third quartile, as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")
