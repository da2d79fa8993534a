"""Order statistics used by the benchmark's reports."""

from __future__ import annotations

import math
from typing import Iterable, Sequence


def quantile(values: Iterable[float], q: float) -> float:
    """Linear-interpolation quantile (NumPy's default method).

    ``q`` is in [0, 1]; raises on an empty sample instead of inventing a
    value.
    """
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of an empty sample")
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"q must be in [0, 1], got {q}")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: Iterable[float]) -> float:
    return quantile(values, 0.5)


def spread(values: Sequence[float]) -> float:
    """Interquartile range as a share of the median, with the quartiles
    ``statistics.quantiles(values, n=4)`` gives (its default method)."""
    import statistics

    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / abs(med) if med else math.inf
