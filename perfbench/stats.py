"""Small statistics helpers with the reporting rules the benchmark uses."""

from __future__ import annotations

import math
import statistics


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def tail_percentile(values: list[float], beyond: int = 10) -> tuple[int, float] | None:
    """The highest whole percentile p with at least ``beyond`` samples
    above it, as (p, value), or None when there are too few samples
    for any percentile above the median to qualify.  With n samples,
    p qualifies when n·(1 − p/100) ≥ beyond; the value is the
    nearest-rank p-th percentile."""
    n = len(values)
    ordered = sorted(values)
    for p in range(99, 49, -1):
        if n * (100 - p) >= beyond * 100:
            rank = max(1, math.ceil(p / 100 * n))
            return p, ordered[rank - 1]
    return None


def summarize(values: list[float]) -> dict:
    """Median, sample count and the tail percentile rule, for the
    human-readable report."""
    out = {"n": len(values), "p50": median(values) if values else None}
    tail = tail_percentile(values)
    if tail is not None:
        out[f"p{tail[0]}"] = tail[1]
    return out
