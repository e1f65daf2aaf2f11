"""Small statistics helpers shared by the runs and the steadiness report."""

from __future__ import annotations

import math
import statistics


class TooFewSamples(ValueError):
    pass


def percentile(values: list[float], p: float, min_beyond: int = 10) -> float:
    """The p-th percentile (nearest rank), refused unless at least
    ``min_beyond`` samples lie above it: a tail percentile read from fewer
    samples is one or two outliers, not a percentile."""
    if not values:
        raise TooFewSamples("no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    beyond = len(xs) - rank
    if p > 50 and beyond < min_beyond:
        raise TooFewSamples(
            f"p{p:g} of {len(xs)} samples leaves {beyond} beyond it (< {min_beyond})")
    return xs[rank - 1]


def spread(values: list[float]) -> dict:
    """Median, quartiles and the interquartile distance as a share of the
    median, as ``statistics.quantiles(values, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": q2, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / q2 if q2 else math.inf}
