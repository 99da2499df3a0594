"""Summary statistics with the benchmark's reporting rules."""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10  # a reported percentile needs this many samples above it


class TooFewSamples(RuntimeError):
    """The run is too short to report the requested percentile."""


def median(values) -> float:
    values = list(values)
    if not values:
        raise TooFewSamples("median of no samples")
    return float(statistics.median(values))


def percentile(values, pct: float) -> float:
    """The nearest-rank ``pct`` percentile, refusing (loudly) when fewer
    than MIN_BEYOND samples lie strictly above its rank."""
    xs = sorted(values)
    n = len(xs)
    rank = max(1, math.ceil(pct / 100.0 * n))
    if n - rank < MIN_BEYOND:
        need = math.ceil(MIN_BEYOND / (1.0 - pct / 100.0))
        raise TooFewSamples(
            f"p{pct:g} over {n} samples leaves {n - rank} beyond it "
            f"(< {MIN_BEYOND}); the run needs >= {need} samples"
        )
    return float(xs[rank - 1])


def tail(values) -> tuple[float, float] | None:
    """(pct, value) of the highest of p99, p95, p90 and p75 that has
    MIN_BEYOND samples beyond it, or None."""
    for pct in (99.0, 95.0, 90.0, 75.0):
        try:
            return pct, percentile(values, pct)
        except TooFewSamples:
            continue
    return None
