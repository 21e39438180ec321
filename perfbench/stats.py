"""Order statistics and interval arithmetic for the benchmark.

Pure Python, no Spark: the helpers are unit-tested on their own.
"""

from __future__ import annotations

import math
import statistics

#: candidate tail percentiles, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
#: a percentile is reported only if at least this many samples lie above it
MIN_BEYOND = 10


def _rank(pct: float, n: int) -> int:
    # rounded first: 99.9% of 10000 is 9990, not 9990.000000000002
    return max(math.ceil(round(pct * n / 100.0, 9)), 1)


def nearest_rank(sorted_values: list[float], pct: float) -> float:
    """The ``pct`` percentile by the nearest-rank rule: the smallest value
    with at least ``pct`` percent of the samples at or below it."""
    return sorted_values[_rank(pct, len(sorted_values)) - 1]


def summarize(values: list[float]) -> dict[str, float]:
    """Median, and the highest percentile of ``TAIL_LADDER`` that has at
    least ``MIN_BEYOND`` samples beyond it, with the sample count.

    Below ``2 * MIN_BEYOND`` samples no percentile above the median
    qualifies, so the tail is the median itself and ``tail_pct`` says 50.
    """
    if not values:
        raise ValueError("no samples")
    xs = sorted(values)
    n = len(xs)
    tail_pct = 50.0
    for pct in TAIL_LADDER:
        if n - _rank(pct, n) >= MIN_BEYOND:
            tail_pct = pct
            break
    p50 = statistics.median(xs)
    tail = p50 if tail_pct == 50.0 else nearest_rank(xs, tail_pct)
    return {"p50": p50, "tail": tail, "tail_pct": tail_pct, "n": n}


def relative_iqr(values: list[float]) -> float:
    """Distance between the first and third quartile over the median, as
    ``statistics.quantiles(values, n=4)`` gives the quartiles."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else math.inf


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)``
    intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if end <= start:
            continue
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clipped_union(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of ``[start, end]`` covered by the intervals."""
    return union_length([(max(s, start), min(e, end)) for s, e in intervals])


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    return (end - start) - clipped_union(start, end, children)
