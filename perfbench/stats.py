"""Summary statistics with the sample-count rule for tail percentiles."""

from __future__ import annotations

import math

import numpy as np

# a percentile is reported only when at least this many samples lie
# strictly beyond it; with fewer, the value is one or two outliers
MIN_BEYOND = 10


def samples_beyond(n: int, p: float) -> int:
    """Samples above the p-th percentile of n samples (nearest-rank)."""
    return n - math.ceil(p / 100.0 * n)


def percentile(values, p: float) -> float:
    """Nearest-rank p-th percentile; ValueError when fewer than MIN_BEYOND
    samples lie beyond it."""
    v = np.sort(np.asarray(values, dtype=np.float64))
    if samples_beyond(len(v), p) < MIN_BEYOND:
        need = math.ceil(MIN_BEYOND * 100.0 / (100.0 - p))
        raise ValueError(f"p{p:g} needs {need} samples, have {len(v)}")
    return float(v[max(math.ceil(p / 100.0 * len(v)) - 1, 0)])
