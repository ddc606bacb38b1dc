"""Sample summaries with the benchmark's percentile rule.

A timing is reported as its median plus high percentiles, and a high
percentile (above the median) is reported only when at least
``MIN_BEYOND`` samples lie beyond it; otherwise its value is ``None``.
Every summary carries its sample count.
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10
HIGH_QUANTILES = (0.9, 0.99, 0.999)


def supported(n: int, q: float) -> bool:
    """True when ``q`` is the median or below, or when at least
    MIN_BEYOND of ``n`` samples lie beyond the ``q`` quantile."""
    if q <= 0.5:
        return n >= 1
    return math.floor(n * (1.0 - q) + 1e-9) >= MIN_BEYOND


def quantile(samples: list[float], q: float) -> float | None:
    """Linear-interpolated quantile, or None when the rule forbids it."""
    n = len(samples)
    if not supported(n, q):
        return None
    xs = sorted(samples)
    pos = q * (n - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def highest_supported(n: int) -> float | None:
    """The highest of HIGH_QUANTILES that ``n`` samples support."""
    best = None
    for q in HIGH_QUANTILES:
        if supported(n, q):
            best = q
    return best


def summary(samples: list[float]) -> dict:
    """Median, p90, and the highest supported percentile of a sample."""
    n = len(samples)
    out: dict = {"n": n, "p50": quantile(samples, 0.5) if n else None,
                 "p90": quantile(samples, 0.9)}
    q = highest_supported(n)
    if q is not None and q != 0.9:
        out[f"p{q * 100:g}"] = quantile(samples, q)
    return out


def spread(values: list[float]) -> dict:
    """Median, quartiles and the interquartile distance as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    if len(values) < 2:
        v = values[0] if values else None
        return {"n": len(values), "median": v, "q1": v, "q3": v,
                "spread": 0.0 if values else None}
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"n": len(values), "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None}
