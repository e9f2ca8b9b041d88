"""Metric arithmetic: backed percentiles, quartile spreads, span self time."""
import math
import statistics

MIN_BEYOND = 10  # samples that must lie beyond a reported percentile


def percentile(xs, p: int) -> float:
    """p-th percentile (p in 1..99) of a sample, interpolated between the
    two nearest ranks: a median of an even count is the mean of the middle
    two, so two operations swapping places do not move it."""
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


def beyond(n: int, p: float) -> int:
    """How many of n samples rank beyond the p-th percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def backed(n: int, p: float) -> bool:
    return n > 0 and beyond(n, p) >= MIN_BEYOND


def highest_backed(n: int, candidates=(99, 95, 90, 75, 50)):
    """The highest candidate percentile with MIN_BEYOND samples beyond it,
    or None when even the median is not backed."""
    return next((p for p in candidates if backed(n, p)), None)


def geomean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = quartiles(xs)
    return (q3 - q1) / med if med else float("inf")


def covered(start: float, end: float, children) -> float:
    """Length of [start, end] covered by the union of child intervals."""
    iv = sorted((max(start, s), min(end, e)) for s, e in children
                if e > start and s < end)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list) -> dict:
    """Per-layer self time (ms): each span's duration minus the part of it
    its children cover, summed by layer."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    out = {}
    for s in spans:
        d = s["end_ms"] - s["start_ms"]
        own = d - covered(s["start_ms"], s["end_ms"], kids.get(s["id"], []))
        key = s["layer"] if s["layer"] != "spark" else f"spark.{s['name']}"
        out[key] = out.get(key, 0.0) + own
    return out
