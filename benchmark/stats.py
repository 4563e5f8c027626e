"""Latency summaries: percentiles and the ten-samples-beyond rule."""

from __future__ import annotations

import math


def percentile(values, q: float) -> float:
    """The q-th percentile (0..100) by linear interpolation between the
    closest ranks, as numpy's default method computes it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, q: float) -> int:
    """How many of n samples lie strictly beyond the q-th percentile's
    rank position."""
    return n - 1 - math.floor((n - 1) * q / 100.0)


def highest_tail_percentile(n: int, min_beyond: int = 10) -> int | None:
    """The highest whole percentile of n samples that still has at least
    `min_beyond` samples beyond it, or None when n is too small for any."""
    for q in range(99, -1, -1):
        if samples_beyond(n, q) >= min_beyond:
            return q
    return None
