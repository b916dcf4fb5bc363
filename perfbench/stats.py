"""Small arithmetic helpers: percentiles, geometric means, the drift
self-check and metric-name validation. Pure Python, no Spark."""

from __future__ import annotations

import math
import re
import statistics

METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

#: percentiles a timing record may carry, lowest first
PERCENTILES = (50, 90, 95, 99, 99.9)


def check_metric_name(name: str) -> str:
    """Return ``name`` if it is a legal metric name, else raise."""
    if not METRIC_NAME.match(name):
        raise ValueError(f"illegal metric name {name!r}")
    return name


def percentile(values, q: float) -> float:
    """Linear-interpolated ``q``-th percentile (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported_percentile(n: int) -> float | None:
    """The highest percentile with at least ten samples beyond it, or
    None when even the median has fewer."""
    best = None
    for p in PERCENTILES:
        if n * (100 - p) >= 1000 - 1e-6:
            best = p
    return best


def geomean(values) -> float:
    xs = list(values)
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def timing_record(values_ms, unit: str = "ms") -> dict:
    """Median plus the highest percentile the sample supports."""
    rec = {"p50": statistics.median(values_ms), "unit": unit, "n": len(values_ms)}
    p = supported_percentile(len(values_ms))
    if p is not None and p > 50:
        rec[f"p{p:g}"] = percentile(values_ms, p)
    return rec


def drift(values, tolerance: float) -> dict:
    """Warm-up drift self-check over a run's timed ops, in order: the
    median of the last third must not sit more than ``tolerance`` (a
    share) below the median of the first third. Fewer than three ops
    compare the first op with the last."""
    xs = list(values)
    if len(xs) < 2:
        return {"ok": True, "ratio": 1.0}
    k = max(1, len(xs) // 3)
    first = statistics.median(xs[:k])
    last = statistics.median(xs[-k:])
    ratio = last / first
    return {"ok": ratio >= 1.0 - tolerance, "ratio": ratio}
