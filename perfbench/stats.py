"""Summary statistics for latency samples."""

from __future__ import annotations

import math

#: A percentile is reported only when at least this many samples lie
#: beyond it; with fewer, the value is one or two outliers, not a tail.
MIN_TAIL_SAMPLES = 10


class InsufficientSamples(ValueError):
    """The sample is too small to support the requested percentile."""


def percentile(values: list[float], p: float) -> float:
    """The ``p``-th percentile (0 < p < 100) by linear interpolation
    between closest ranks, refusing when fewer than
    ``MIN_TAIL_SAMPLES`` samples lie above it."""
    if not 0 < p < 100:
        raise ValueError(f"percentile must be in (0, 100), got {p}")
    n = len(values)
    beyond = math.floor(n * (100 - p) / 100)
    if p != 50 and beyond < MIN_TAIL_SAMPLES:
        raise InsufficientSamples(
            f"p{p:g} needs {MIN_TAIL_SAMPLES} samples beyond it; {n} samples give {beyond}"
        )
    if n == 0:
        raise InsufficientSamples("no samples")
    xs = sorted(values)
    pos = (n - 1) * p / 100
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50)


def highest_percentile(values: list[float], candidates=(99, 95, 90, 75)) -> tuple[float, float] | None:
    """``(p, value)`` for the highest candidate percentile the sample
    supports, or None when none is supported."""
    for p in candidates:
        try:
            return p, percentile(values, p)
        except InsufficientSamples:
            continue
    return None
