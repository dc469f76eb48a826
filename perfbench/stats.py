"""Summary statistics and metric-name rules shared by the benchmark."""

from __future__ import annotations

import bisect
import re
import statistics

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
TAIL_BEYOND = 10  # samples that must lie beyond a reported tail percentile


def check_metric_name(name: str) -> str:
    """Return ``name`` if it is a valid metric name, else raise ValueError."""
    if not METRIC_NAME.fullmatch(name):
        raise ValueError(f"bad metric name {name!r}")
    return name


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def tail(values: list[float]) -> dict:
    """The highest percentile that has at least ``TAIL_BEYOND`` samples
    strictly above it, floored at the median.

    With ``n`` sorted samples that is the ``n-10``-th smallest one; it
    sits at percentile ``100 * (n - 10) / n``.  Fewer than
    ``TAIL_BEYOND + 1`` samples, or a percentile that does not exceed
    the median (``n <= 2 * TAIL_BEYOND``), leave no tail to report:
    the result then falls back to the median and says so.
    """
    if not values:
        raise ValueError("tail of no samples")
    xs = sorted(values)
    n = len(xs)
    med = median(xs)
    i = n - TAIL_BEYOND - 1
    while i >= 0 and n - bisect.bisect_right(xs, xs[i]) < TAIL_BEYOND:
        i -= 1  # ties at the cut: step down until ten lie strictly beyond
    if i >= 0 and xs[i] > med:
        return {"value": xs[i], "pct": round(100.0 * (i + 1) / n, 2), "n": n,
                "beyond": n - bisect.bisect_right(xs, xs[i]), "floored": False}
    return {"value": med, "pct": 50.0, "n": n,
            "beyond": n - bisect.bisect_right(xs, med), "floored": True}

