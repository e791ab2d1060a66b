"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math

#: a percentile is reported only with at least this many samples beyond it
MIN_TAIL = 10


def nearest_rank(samples: list[float], pct: float) -> float:
    """The ``pct`` percentile by the nearest-rank rule."""
    ordered = sorted(samples)
    rank = max(1, math.ceil(pct / 100.0 * len(ordered)))
    return ordered[rank - 1]


def tail_percentile(samples: list[float], pct: float) -> float | None:
    """The ``pct`` percentile, or None when fewer than ``MIN_TAIL``
    samples lie beyond it."""
    if not samples:
        return None
    value = nearest_rank(samples, pct)
    beyond = sum(1 for s in samples if s > value)
    return value if beyond >= MIN_TAIL else None
