"""Summary statistics used by the benchmark (pure Python, no Spark).

Timings are reported as a median plus the highest percentile that still
has at least ten samples beyond it, always with the sample count.
"""

from __future__ import annotations

import statistics

#: Candidate tail percentiles, lowest first.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
#: A percentile is reported only when this many samples lie beyond it.
TAIL_MIN_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p`` %
    of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, -(-len(ordered) * p // 100))  # ceil(n * p / 100)
    return float(ordered[int(rank) - 1])


def tail_percentile(values: list[float]) -> tuple[float, float] | None:
    """``(p, value)`` for the highest percentile of :data:`TAIL_LADDER`
    with at least :data:`TAIL_MIN_BEYOND` samples ranked above it, or
    None when even the median has fewer than that beyond it."""
    n = len(values)
    best = None
    for p in TAIL_LADDER:
        rank = int(max(1, -(-n * p // 100)))
        if n - rank >= TAIL_MIN_BEYOND:
            best = (p, percentile(values, p))
    return best


def summarize(values: list[float]) -> dict:
    """Median, tail percentile and sample count of one timing series."""
    out = {"n": len(values), "median": median(values) if values else None}
    tail = tail_percentile(values)
    if tail is not None:
        out[f"p{tail[0]:g}"] = tail[1]
    return out


def failed_frac(attempted: int, failed: int) -> float:
    """Failed operations over attempted ones; a wrong output counts as a
    failure exactly like an exception."""
    if attempted < 1:
        raise ValueError("no operation attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted
