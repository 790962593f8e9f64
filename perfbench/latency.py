"""Order statistics over a run's samples."""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


class TooFewSamples(ValueError):
    """A tail percentile was asked of a run that has too few samples above it."""


def percentile(samples: list[float], q: float) -> float:
    """The ``q`` quantile (0 < q < 1, linear interpolation), refused unless
    at least :data:`MIN_BEYOND` samples lie strictly above its rank."""
    if not samples:
        raise TooFewSamples("no samples")
    xs = sorted(samples)
    rank = q * (len(xs) - 1)
    beyond = len(xs) - 1 - math.ceil(rank)
    if q > 0.5 and beyond < MIN_BEYOND:
        raise TooFewSamples(
            f"p{round(q * 100)} of {len(xs)} samples has {beyond} beyond it; "
            f"{MIN_BEYOND} needed"
        )
    lo = math.floor(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def highest_tail(samples: list[float]):
    """``(q, value)`` for the highest whole-percent quantile above the median
    that leaves :data:`MIN_BEYOND` samples beyond it, or None."""
    n = len(samples)
    if n < 2:
        return None
    q = math.floor(100 * (n - 1 - MIN_BEYOND) / (n - 1)) / 100
    if q <= 0.5:
        return None
    return q, percentile(samples, q)


def quartile_spread(values: list[float]) -> dict[str, float]:
    """Median, quartiles and the quartile distance as a share of the median,
    as ``statistics.quantiles(values, n=4)`` gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med}
