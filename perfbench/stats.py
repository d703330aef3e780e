"""Tail-percentile rule for the benchmark's summary line."""

from __future__ import annotations

import math

# A tail percentile is reported only when at least this many samples lie
# beyond it; otherwise it would be an estimate of the maximum.
MIN_BEYOND = 10


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank ``p``-th percentile (0 < p <= 100): the smallest
    sample with at least ``p`` percent of the samples at or below it."""
    if not samples:
        raise ValueError("percentile of no samples")
    if not 0 < p <= 100:
        raise ValueError(f"percentile out of range: {p}")
    ordered = sorted(samples)
    return ordered[max(1, math.ceil(p / 100 * len(ordered))) - 1]


def min_samples_for_tail(p: float, beyond: int = MIN_BEYOND) -> int:
    """Smallest sample count whose nearest-rank ``p``-th percentile has
    ``beyond`` samples above it."""
    n = beyond + 1
    while len(range(math.ceil(p / 100 * n), n)) < beyond:
        n += 1
    return n


def tail_percentile(samples: list[float], p: float, beyond: int = MIN_BEYOND) -> float | None:
    """The ``p``-th percentile, or None when fewer than ``beyond`` samples
    lie above its rank (the tail is then not resolved by this run)."""
    if len(samples) < min_samples_for_tail(p, beyond):
        return None
    return percentile(samples, p)
