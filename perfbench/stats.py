"""Summary math for the benchmark: medians, percentiles, geomean, spreads
and bound checks.  Pure Python so it is testable without Spark."""

from __future__ import annotations

import math
import statistics


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100] (numpy's default
    'linear' method)."""
    if not values:
        raise ValueError("percentile of no values")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile {q} outside [0, 100]")
    s = sorted(values)
    pos = (len(s) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (pos - lo))


def supported_percentile(n: int, beyond: int = 10) -> float | None:
    """The highest percentile with at least ``beyond`` samples above it, or
    None when the sample is too small to support any (n < beyond + 1)."""
    if n <= beyond:
        return None
    return 100.0 * (n - beyond) / n


def geomean(values: list[float]) -> float:
    if not values:
        raise ValueError("geomean of no values")
    if any(v <= 0 for v in values):
        raise ValueError("geomean needs positive values")
    return float(math.exp(sum(math.log(v) for v in values) / len(values)))


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median with ``statistics.quantiles(values, n=4)`` — the
    run-to-run spread the benchmark's bounds are checked against."""
    if len(values) < 2:
        raise ValueError("spread needs at least two values")
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    if med == 0:
        raise ValueError("spread of values with median 0")
    return float((q3 - q1) / abs(med))


def worse_by(new: float, old: float, better: str) -> float:
    """Share by which ``new`` is worse than ``old`` (negative when better)."""
    if old == 0:
        raise ValueError("relative change against 0")
    if better == "lower":
        return (new - old) / abs(old)
    if better == "higher":
        return (old - new) / abs(old)
    raise ValueError(f"better must be 'lower' or 'higher', not {better!r}")


def within_bound(new: float, old: float, better: str, bound: float) -> bool:
    """True when ``new`` is no worse than ``old`` by more than ``bound``."""
    return worse_by(new, old, better) <= bound
