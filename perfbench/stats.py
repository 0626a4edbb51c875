"""Summary statistics for benchmark timings.

A timing is reported as its median, its sample count, and the highest
percentile that still has at least ``TAIL_MIN`` samples beyond it (with fewer
samples no tail percentile is trustworthy, so none is reported).
"""

from __future__ import annotations

import math
import statistics

TAIL_MIN = 10

#: candidate tail percentiles, highest first
_TAIL_PCTS = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(xs) -> float:
    xs = list(xs)
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples."""
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def percentile(xs, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``% of
    the samples at or below it."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    return float(s[_rank(p, len(s)) - 1])


def tail_percentile(n: int, min_beyond: int = TAIL_MIN) -> float | None:
    """Highest candidate percentile with at least ``min_beyond`` of ``n``
    samples strictly above its nearest rank, or None if there is none."""
    for p in _TAIL_PCTS:
        if n - _rank(p, n) >= min_beyond:
            return p
    return None


def summarize(xs) -> dict:
    """Median, sample count and the qualifying tail percentile of a timing."""
    xs = list(xs)
    out: dict = {"n": len(xs), "median": median(xs) if xs else None}
    p = tail_percentile(len(xs))
    out["tail"] = None if p is None else {"p": p, "value": percentile(xs, p)}
    return out
