"""Statistics shared by run.py and compare.py (pure functions, tested)."""

import statistics


def median(values):
    return statistics.median(values)


def tail(values, beyond=10):
    """The highest percentile with at least `beyond` samples above it.

    Returns (value, percentile, count) for sorted samples x[0..n-1]: the
    sample at rank n-1-beyond, i.e. percentile 100*(n-beyond)/n, or None
    when there are not more than `beyond` samples."""
    n = len(values)
    if n <= beyond:
        return None
    xs = sorted(values)
    return xs[n - 1 - beyond], 100.0 * (n - beyond) / n, n


def quartile_spread(values):
    """Inter-quartile distance as a share of the median (Python's
    statistics.quantiles, n=4): the run-to-run spread of a metric."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def union_ms(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, end = 0, None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span
    return (e - s) - union_ms(clip(children, s, e))


def pair_verdict(parent, change, better="lower", bound=None):
    """The pair rule for one metric on one workload.

    `parent` and `change` are per-run values in run order; run i of each
    side forms pair i. Returns (verdict, detail): "gain" when the change
    wins at least 9/10 of the pairs (ties count for neither) and the
    medians differ by more than the parent's inter-quartile distance;
    "regression" when the change's median is worse than the parent's by
    more than `bound` (a share of the parent median); "unresolved" when
    the spread of either side is wider than `bound`, unless every change
    run beats every parent run; otherwise "same"."""
    sign = 1 if better == "lower" else -1
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if sign * (p - c) > 0)
    mp, mc = median(parent), median(change)
    q = statistics.quantiles(parent, n=4) if len(parent) >= 2 else [mp, mp, mp]
    iqr = q[2] - q[0]
    worse = sign * (mc - mp) / abs(mp) if mp else 0.0
    detail = {"parent_median": mp, "change_median": mc, "pairs": len(pairs),
              "change_wins": wins, "worse_share": worse}
    if pairs and wins >= 0.9 * len(pairs) and abs(mc - mp) > iqr:
        return "gain", detail
    if bound is not None:
        spreads = [quartile_spread(v) for v in (parent, change) if len(v) >= 2]
        all_better = all(sign * (p - c) > 0 for p in parent for c in change)
        if any(s > bound for s in spreads) and not all_better:
            return "unresolved", detail
        if worse > bound:
            return "regression", detail
    return "same", detail
