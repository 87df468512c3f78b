"""Summary statistics for timing samples.

``median`` averages the two middle values when n is even. ``tail``
follows the rule that a reported percentile must have at least ten
samples beyond it: it picks the highest percentile on ``TAIL_LADDER``
that does, so the reported percentile depends only on the sample count.
Each workload fixes that count from ``--seconds`` (passes over a fixed op
list, or a fixed number of steady-phase files), so a parent and a change
run at the same length report the same percentile unless ops fail.
"""

from __future__ import annotations

import statistics

TAIL_LADDER = (50.0, 55.0, 60.0, 65.0, 70.0, 75.0, 80.0, 85.0, 90.0, 95.0,
               99.0, 99.9)
MIN_BEYOND = 10


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def geomean(xs: list[float]) -> float:
    """Geometric mean: every sample moves it by the same factor for the
    same relative change, whatever its size."""
    return statistics.geometric_mean(xs)


def percentile(xs: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    pos = (len(s) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_percentile(n: int) -> float:
    """Highest ladder percentile with >= MIN_BEYOND samples beyond it;
    p50 when even the median has fewer (n < 20)."""
    best = TAIL_LADDER[0]
    for p in TAIL_LADDER:
        if n * (1 - p / 100.0) >= MIN_BEYOND:
            best = p
    return best


def summary(xs: list[float]) -> dict:
    """n, median, quartiles and the tail percentile of ``xs``."""
    n = len(xs)
    q1, _, q3 = (statistics.quantiles(xs, n=4) if n >= 2
                 else (xs[0], xs[0], xs[0]))
    p = tail_percentile(n)
    return {"n": n, "p50": median(xs), "q1": q1, "q3": q3,
            "tail_pct": p, "tail": percentile(xs, p),
            "tail_has_10_beyond": n * (1 - p / 100.0) >= MIN_BEYOND}
