"""Percentile, spread and ratio math shared by the runner and its tests."""

from __future__ import annotations

import statistics

# Percentiles the runner may report, highest first.
PERCENTILES = (99.9, 99.0, 95.0, 90.0, 50.0)


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported_percentile(n: int, min_beyond: int = 10) -> float:
    """Highest of ``PERCENTILES`` with at least ``min_beyond`` of ``n``
    samples above it (50 when the sample is too small for any other)."""
    for p in PERCENTILES:
        if round(n * (100.0 - p) / 100.0, 6) >= min_beyond:
            return p
    return 50.0


def ratio(num: float, den: float) -> float:
    """num / den, 0.0 for an empty base."""
    return num / den if den else 0.0


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default
