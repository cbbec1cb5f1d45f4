"""Summary statistics shared by the workloads."""

from __future__ import annotations

import math
import statistics


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def tail(values: list[float], min_beyond: int = 10) -> tuple[float, float] | None:
    """The highest percentile that still has at least ``min_beyond``
    samples strictly above its rank, as ``(percentile, value)``.

    With n samples the p-th percentile (nearest rank, ``ceil(p/100 · n)``)
    leaves ``n - rank`` samples beyond it, so the highest usable rank is
    ``n - min_beyond``. The percentile is rounded down to a whole number so
    it is reportable. Returns None when fewer than ``min_beyond + 1``
    samples exist: no percentile has enough samples behind it."""
    n = len(values)
    rank = n - min_beyond
    if rank < 1:
        return None
    pct = math.floor(100 * rank / n)
    # nearest-rank index of the rounded percentile (never past `rank`)
    idx = max(1, math.ceil(pct * n / 100))
    return float(pct), float(sorted(values)[idx - 1])


def pair_label(lo: int, hi: int) -> str:
    """Label of a two-point core-count scaling pair. Only a pair whose
    high side is exactly four times the low side is the N→4N pair."""
    if lo < 1 or hi < lo:
        raise ValueError(f"bad core pair ({lo}, {hi})")
    base = f"{lo}→{hi} cores"
    return f"{base} (N→4N)" if hi == 4 * lo else f"{base} (not N→4N: {hi / lo:g}×)"


def scaling_efficiency(t_lo: float, t_hi: float, lo: int, hi: int) -> float:
    """Speed-up divided by the core ratio: 1.0 is linear scaling."""
    return (t_lo / t_hi) / (hi / lo)
