"""Small statistics helpers shared by the runner and its tests."""

from __future__ import annotations

import math
import statistics

# candidate tail percentiles, highest first
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(values: list[float], min_beyond: int = 10) -> tuple[float | None, float | None]:
    """The highest candidate percentile with at least ``min_beyond``
    samples strictly above its rank, and its value. With fewer than
    ``2 * min_beyond`` samples not even the median qualifies and the
    result is (None, None): the sample does not support a tail."""
    n = len(values)
    for p in TAIL_CANDIDATES:
        if n * (100.0 - p) / 100.0 >= min_beyond - 1e-9:  # 99.9 is inexact in binary
            return p, percentile(values, p)
    return None, None


def summary(values: list[float], scale: float = 1.0) -> dict:
    """Median, supported tail and sample count of ``values * scale``."""
    xs = [v * scale for v in values]
    p, t = tail(xs)
    return {
        "n": len(xs),
        "p50": statistics.median(xs) if xs else None,
        "tail_pct": p,
        "tail": t,
    }
