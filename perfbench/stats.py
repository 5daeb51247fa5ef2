"""Pure helpers for the benchmark: percentiles, span self time, ratios.

No Spark and no I/O here, so the rules can be tested on their own
(``python -m pytest perfbench/tests``).
"""

from __future__ import annotations

import math
import statistics

#: A reported percentile needs at least this many samples above it.
MIN_BEYOND = 10


def percentile(samples: list[float], q: float) -> float:
    """Nearest-rank ``q``-quantile (0 < q < 1) of ``samples``.

    Raises ValueError unless at least :data:`MIN_BEYOND` samples lie
    beyond the reported rank, so a tail figure is never read off a handful
    of points.
    """
    if not 0 < q < 1:
        raise ValueError(f"quantile {q} outside (0, 1)")
    n = len(samples)
    rank = max(1, math.ceil(q * n))
    if n - rank < MIN_BEYOND:
        raise ValueError(
            f"p{q * 100:g} of {n} samples has {n - rank} beyond it; "
            f"need {MIN_BEYOND}"
        )
    return sorted(samples)[rank - 1]


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return statistics.median(values)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end] intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_time(
    span: tuple[float, float], children: list[tuple[float, float]]
) -> float:
    """Duration of ``span`` minus the part its children cover. Children
    may overlap each other (parallel sink writes) and are clipped to the
    span."""
    start, end = span
    clipped = [
        (max(start, s), min(end, e)) for s, e in children if e > start and s < end
    ]
    return (end - start) - union_length(clipped)


def fail_ratio(failed: int, attempted: int) -> float:
    if attempted < 1:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    """Share of the CPU time the host's guests wanted between two
    ``probe.host_ticks`` readings that the hypervisor stole: stolen over
    busy + stolen. A program slowed only by steal runs ``1 - share`` as
    fast as it would alone, so ``wall * (1 - share)`` is its net time."""
    busy = end[0] - start[0]
    stolen = end[1] - start[1]
    return stolen / (busy + stolen) if busy + stolen > 0 else 0.0


def agree(a: float, b: float, bound: float) -> bool:
    """True when two unit timings differ by at most ``bound`` of the
    smaller one (the warm-up gate's test)."""
    lo = min(a, b)
    return lo > 0 and abs(a - b) / lo <= bound


def spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, the way ``statistics.quantiles(values, n=4)`` places them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
