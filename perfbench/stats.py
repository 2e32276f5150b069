"""Order statistics for benchmark samples."""

from __future__ import annotations

import math
import statistics

#: a percentile is reported only when at least this many samples lie
#: beyond it; with fewer, one outlier decides its value
MIN_BEYOND = 10

#: candidate tail percentiles, highest first
TAIL_CANDIDATES = (99.0, 95.0, 90.0, 75.0)


class TooFewSamples(ValueError):
    """The requested percentile has fewer than MIN_BEYOND samples beyond it."""


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank ``q``-th percentile of ``values`` (0 < q < 100).

    Raises TooFewSamples when fewer than MIN_BEYOND samples rank above
    it: p90 needs at least 100 samples, p50 at least 20."""
    if not 0 < q < 100:
        raise ValueError(f"percentile must be in (0, 100), got {q}")
    n = len(values)
    rank = math.ceil(q / 100 * n)
    if n - rank < MIN_BEYOND:
        raise TooFewSamples(
            f"p{q:g} of {n} samples has {n - rank} beyond it, "
            f"needs {MIN_BEYOND}"
        )
    return sorted(values)[rank - 1]


def tail(values: list[float]) -> tuple[float, float] | None:
    """(q, value) for the highest candidate percentile ``values`` can
    support, or None when even p75 has too few samples beyond it."""
    for q in TAIL_CANDIDATES:
        try:
            return q, percentile(values, q)
        except TooFewSamples:
            continue
    return None


def spread(values: list[float]) -> dict:
    """Median, quartiles and IQR/median, as ``statistics.quantiles(n=4)``
    gives them (the exclusive method)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "n": len(values),
        "median": med,
        "q1": q1,
        "q3": q3,
        "iqr_over_median": (q3 - q1) / med if med else math.inf,
    }
