"""Pure helpers of the benchmark: percentiles, job-window attribution,
interval unions and span self time. No Spark, no I/O."""

from __future__ import annotations

import math
import statistics
from typing import Dict, Iterable, List, Optional, Sequence, Tuple

# percentiles offered as the latency tail, highest first
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def percentile(values: Sequence[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> Optional[float]:
    """The highest percentile in TAIL_PERCENTILES that leaves at least
    TAIL_MIN_BEYOND of n samples beyond it, or None when n is too
    small for any of them."""
    for pct in TAIL_PERCENTILES:
        # rounded: 100 - 99.9 is not exactly 0.1 in binary
        if round(n * (100.0 - pct) / 100.0, 6) >= TAIL_MIN_BEYOND:
            return pct
    return None


def tail(values: Sequence[float]) -> Tuple[float, float, int]:
    """(value, percentile, n) of the latency tail. With too few
    samples for any tail percentile the median is reported, so the
    percentile field says 50 and n says why."""
    pct = tail_percentile(len(values))
    if pct is None:
        pct = 50.0
    return percentile(values, pct), pct, len(values)


def spread(values: Sequence[float]) -> float:
    """Interquartile range as a share of the median — the steadiness
    figure the benchmark is held to."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def jobs_in_window(
    jobs: Iterable[Dict], start_ms: float, end_ms: float
) -> List[Dict]:
    """Jobs attributed to one op: those submitted inside the op's wall
    window [start_ms, end_ms]. Ops run one at a time from a single
    client, so every job submitted while an op is open belongs to it."""
    out = []
    for j in jobs:
        sub = j.get("submissionTime")
        if sub is not None and start_ms <= sub <= end_ms:
            out.append(j)
    return sorted(out, key=lambda j: j["jobId"])


def union_length(
    intervals: Iterable[Tuple[float, float]],
    lo: float = -math.inf,
    hi: float = math.inf,
) -> float:
    """Total length covered by the intervals, each clipped to
    [lo, hi]; overlapping intervals are counted once."""
    clipped = sorted(
        (max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)
    )
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(
    start: float, end: float, children: Iterable[Tuple[float, float]]
) -> float:
    """A span's duration minus the part of its interval that its child
    spans cover."""
    return (end - start) - union_length(children, start, end)
