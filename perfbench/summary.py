"""Sample summaries shared by the workloads."""

from __future__ import annotations

import math
import statistics


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def p_hi(xs: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile that has at least ten samples beyond
    it, as (percentile, nearest-rank value); None below 11 samples."""
    n = len(xs)
    if n < 11:
        return None
    p = math.floor(100 * (n - 10) / n)
    s = sorted(xs)
    return p, s[max(0, math.ceil(p / 100 * n) - 1)]


def timing_line(name: str, xs: list[float], unit: str = "s") -> str:
    hi = p_hi(xs)
    tail = f"p{hi[0]}={hi[1]:.4f}" if hi else "p_hi=n/a(<11 samples)"
    return f"  {name:<22} median={median(xs):.4f} {unit}  {tail}  n={len(xs)}"
