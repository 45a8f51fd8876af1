"""Percentiles and the rule for which ones a sample supports."""

from __future__ import annotations

import math

# a percentile is reported only when at least this many samples lie
# beyond it; otherwise it is one or two unlucky samples, not a tail
MIN_BEYOND = 10


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) of a non-empty sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    s = sorted(values)
    rank = max(1, math.ceil(q / 100 * len(s)))
    return float(s[rank - 1])


def beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``q``-th
    percentile."""
    return n - max(1, math.ceil(q / 100 * n))


def supported(n: int, q: float) -> bool:
    return beyond(n, q) >= MIN_BEYOND


def summarize(values, prefix: str) -> dict[str, float]:
    """``{prefix}_p50`` and ``{prefix}_n``, plus ``{prefix}_p90`` where
    the sample supports it."""
    out = {f"{prefix}_n": len(values)}
    if not values:
        return out
    out[f"{prefix}_p50"] = percentile(values, 50)
    if supported(len(values), 90):
        out[f"{prefix}_p90"] = percentile(values, 90)
    return out


def median(values) -> float:
    return percentile(values, 50)
