"""Pure aggregation helpers: pass medians, quartile spreads."""

from __future__ import annotations

import statistics


def pass_total(per_query: dict[str, list[float]]) -> float:
    """One pass of the workload: the sum over queries of each query's median
    time across the timed passes."""
    return sum(statistics.median(ts) for ts in per_query.values())


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median (the stability test)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def worse_by(first: float, second: float, better: str) -> float:
    """How much ``second`` is worse than ``first``, as a share of ``first``
    (negative when it is better)."""
    if not first:
        return 0.0 if not second else float("inf")
    delta = (second - first) / first
    return delta if better == "lower" else -delta
