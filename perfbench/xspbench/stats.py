"""The tail-percentile rule shared by the workloads."""

from __future__ import annotations

# percentiles in tenths of a percent, so that ranks are exact integers
TAIL_CANDIDATES = (999, 990, 950, 900, 750, 500)
MIN_BEYOND = 10


def _rank(permille: int, n: int) -> int:
    return max(1, -(-permille * n // 1000))


def nearest_rank(values: list[float], permille: int) -> float:
    """The nearest-rank percentile (``permille`` tenths of a percent): the
    smallest sample with at least that share of the samples at or below
    it."""
    xs = sorted(values)
    return xs[_rank(permille, len(xs)) - 1]


def tail(values: list[float]) -> tuple[str, float]:
    """The highest of ``TAIL_CANDIDATES`` that has at least ten samples
    beyond it (nearest rank), as ``("p90", value)``.  With fewer than
    twenty samples not even the median has ten beyond it, so the tail is
    the slowest sample, labelled ``"max"``."""
    if not values:
        raise ValueError("tail of an empty sample")
    n = len(values)
    for pm in TAIL_CANDIDATES:
        if n - _rank(pm, n) >= MIN_BEYOND:
            return f"p{pm / 10:g}", nearest_rank(values, pm)
    return "max", max(values)

