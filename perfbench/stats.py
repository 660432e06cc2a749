"""Small summaries shared by the workloads: percentiles, the highest
percentile a sample supports, the end-to-end tail, and the union of
time intervals."""

from __future__ import annotations

import math
from fractions import Fraction

#: Candidate percentiles for the tail figure, highest first.
TAIL_PERCENTILES = ("99.9", "99", "95", "90", "75", "50")
#: Samples a percentile needs beyond it before it is reported.
MIN_BEYOND = 10
#: The end-to-end tail goes no higher than p90: higher percentiles of a
#: run of seconds rest on a few micro-batches and spread too widely to gate.
TAIL_CAP = "90"


def percentile(values, p) -> float:
    """Nearest-rank percentile: the smallest value with at least p% of
    the sample at or below it. ``p`` may be a string ("99.9") so the
    rank is computed exactly."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    rank = math.ceil(Fraction(str(p)) / 100 * len(xs))
    return xs[max(rank, 1) - 1]


def beyond(n: int, p) -> int:
    """Samples strictly beyond the nearest-rank p-th percentile of n."""
    return n - max(math.ceil(Fraction(str(p)) / 100 * n), 1)


def summarize(values) -> dict:
    """p50, the highest percentile with at least ``MIN_BEYOND`` samples
    beyond it (None when even p50 lacks them), and n."""
    xs = list(values)
    n = len(xs)
    out = {"n": n, "p50": percentile(xs, 50) if xs else None, "top_pct": None, "top": None}
    for p in TAIL_PERCENTILES:
        if beyond(n, p) >= MIN_BEYOND:
            out["top_pct"] = float(p)
            out["top"] = percentile(xs, p)
            break
    return out


def tail(values) -> tuple[float, float]:
    """(percentile, value) of the end-to-end tail: the highest percentile
    up to ``TAIL_CAP`` with at least ``MIN_BEYOND`` samples beyond it,
    else the p50."""
    n = len(values)
    for p in TAIL_PERCENTILES:
        if Fraction(p) <= Fraction(TAIL_CAP) and beyond(n, p) >= MIN_BEYOND:
            return float(p), percentile(values, p)
    return 50.0, percentile(values, 50)


def union_length(intervals) -> float:
    """Total length covered by (start, end) intervals."""
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
