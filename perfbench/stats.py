"""Summary statistics for latency samples."""

from __future__ import annotations

import math
from typing import Optional, Sequence

TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def percentile(values: Sequence[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def tail(values: Sequence[float]) -> Optional[dict]:
    """The highest candidate percentile with at least ``MIN_BEYOND``
    samples beyond it, as {"p", "value", "n"}; None when the sample is
    too small for any candidate."""
    n = len(values)
    for p in TAIL_CANDIDATES:
        if n - math.ceil(p / 100.0 * n) >= MIN_BEYOND:
            return {"p": p, "value": percentile(values, p), "n": n}
    return None


def geomean(values: Sequence[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))
