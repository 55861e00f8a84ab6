"""Summary statistics the benchmark reports."""

from __future__ import annotations

import statistics

# A tail percentile is only reported with this many samples beyond it.
TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ``TAIL_BEYOND`` samples beyond it.

    Returns ``(value, percentile)``: the sample at sorted position
    ``n - TAIL_BEYOND - 1`` and the share of samples at or below that
    position, in percent.
    """
    n = len(values)
    if n <= TAIL_BEYOND:
        raise ValueError(
            f"{n} samples: a tail needs more than {TAIL_BEYOND} samples"
        )
    idx = n - TAIL_BEYOND - 1
    return sorted(values)[idx], 100.0 * (idx + 1) / n
