"""Percentile helpers shared by the workloads (no Spark)."""

from __future__ import annotations

import math
import statistics


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0..100) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """(percentile, value) at the highest percentile that still has at
    least ``beyond`` samples above it, or None when there are too few
    samples for any percentile to qualify."""
    n = len(values)
    if n <= beyond:
        return None
    xs = sorted(values)
    k = n - 1 - beyond  # exactly ``beyond`` samples lie above rank k
    return 100.0 * k / (n - 1), xs[k]


def balanced(by_type: dict[str, list[float]], q: float) -> float:
    """Geometric mean over operation types of each type's ``q``-th
    percentile, so the result does not depend on how many operations of
    each type happened to fit in the window."""
    per_type = [percentile(v, q) for v in by_type.values() if v]
    if not per_type:
        raise ValueError("no operation type has samples")
    return math.exp(statistics.fmean(math.log(max(p, 1e-9)) for p in per_type))


def p50(values: list[float]) -> float:
    """Median, or 0.0 for a layer the workload never exercised."""
    return percentile(values, 50) if values else 0.0
