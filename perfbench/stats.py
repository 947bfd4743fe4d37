"""Summary statistics shared by the workloads."""

from __future__ import annotations

import math

# Percentiles a tail may be reported at, lowest first.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
# A tail percentile needs this many samples beyond it.
MIN_BEYOND = 10
# The tail every latency metric reports (see NOTES.md, "Tails").
TAIL_PCT = 75.0


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(n: int, pct: float) -> int:
    """Samples strictly above the ``pct`` percentile rank of ``n``."""
    return int(math.floor(n * (100.0 - pct) / 100.0 + 1e-9))


def tail_rule_pct(n: int) -> float | None:
    """Highest ladder percentile with at least MIN_BEYOND samples
    beyond it, or None when ``n`` is too small for any."""
    best = None
    for pct in TAIL_LADDER:
        if beyond(n, pct) >= MIN_BEYOND:
            best = pct
    return best


def tail_summary(values: list[float]) -> dict:
    """The reported tail (TAIL_PCT) plus what the rule allows at this
    sample count, so a reader sees how many samples back the figure."""
    n = len(values)
    rule = tail_rule_pct(n)
    return {
        "pct": TAIL_PCT,
        "value": percentile(values, TAIL_PCT) if values else None,
        "n": n,
        "beyond": beyond(n, TAIL_PCT),
        "rule_pct": rule,
        "rule_value": percentile(values, rule) if rule is not None else None,
    }


def median(values: list[float]) -> float:
    return percentile(values, 50.0)
