"""Small statistics helpers shared by the benchmark and its tests."""

from __future__ import annotations

import math
from collections.abc import Sequence


def percentile(values: Sequence[float], q: float) -> float:
    """The ``q``-th percentile (0..100) by linear interpolation between
    closest ranks, the same rule as numpy's default."""
    if not values:
        raise ValueError("percentile of an empty sequence")
    if not 0.0 <= q <= 100.0:
        raise ValueError(f"percentile must be within 0..100, got {q}")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: Sequence[float]) -> float:
    return percentile(values, 50.0)


def mean(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("mean of an empty sequence")
    return sum(values) / len(values)


def lateness(due: Sequence[float], actual: Sequence[float]) -> list[float]:
    """How late each open-loop send ran: ``actual - due``, clamped at 0
    (a send is never early; a negative reading is clock jitter)."""
    if len(due) != len(actual):
        raise ValueError("due and actual differ in length")
    return [max(0.0, a - d) for d, a in zip(due, actual)]


def latencies_from_due(due: Sequence[float], done: Sequence[float]) -> list[float]:
    """Open-loop latency: each item is timed from when it was DUE to be
    sent, so a stalled generator's delay counts against the system."""
    if len(due) != len(done):
        raise ValueError("due and done differ in length")
    return [d - s for s, d in zip(due, done)]
