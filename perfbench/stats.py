"""Summary statistics and metric-name rules shared by the runner and tests."""

from __future__ import annotations

import re
import statistics

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

#: Candidate tail percentiles, highest last.
TAIL_PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def valid_metric_name(name: str) -> bool:
    return METRIC_NAME.fullmatch(name) is not None


def tail_percentile(n: int) -> float | None:
    """Highest percentile with at least ten of ``n`` samples beyond it."""
    best = None
    for p in TAIL_PERCENTILES:
        if round(n * (100.0 - p) / 100.0, 9) >= 10.0:
            best = p
    return best


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile ``p`` (0..100) of ``values``."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def summarize(values: list[float]) -> dict:
    """Median, the tail percentile the sample count supports, and the count."""
    out = {"median": statistics.median(values), "n": len(values)}
    p = tail_percentile(len(values))
    if p is not None:
        out[f"p{p:g}"] = percentile(values, p)
    return out


def failed_frac(outcomes: list[bool]) -> float:
    """Share of attempted executions (``outcomes``: True = passed) that failed."""
    if not outcomes:
        raise ValueError("no query was attempted")
    return sum(1 for ok in outcomes if not ok) / len(outcomes)
