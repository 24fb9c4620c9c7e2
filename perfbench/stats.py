"""Summary statistics shared by the workloads and the spread checker."""

from __future__ import annotations

import statistics

#: the percentiles a timing may be reported at, lowest first
PERCENTILE_LADDER = (50.0, 90.0, 99.0, 99.9)


def median(values) -> float:
    values = list(values)
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def percentile(values, pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    if not 0.0 <= pct <= 100.0:
        raise ValueError(f"percentile out of range: {pct}")
    pos = (len(xs) - 1) * pct / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


def supported_percentile(n_samples: int, min_beyond: int = 10) -> float | None:
    """The highest ladder percentile with at least ``min_beyond`` of
    ``n_samples`` above it, or None when even the median lacks them."""
    best = None
    for pct in PERCENTILE_LADDER:
        # in tenths of a percent, so the comparison is exact
        if n_samples * (1000 - round(pct * 10)) >= 1000 * min_beyond:
            best = pct
    return best


def quartile_spread(values) -> float:
    """Distance between the first and third quartile, as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, _, q3 = statistics.quantiles(list(values), n=4)
    return (q3 - q1) / median(values)
