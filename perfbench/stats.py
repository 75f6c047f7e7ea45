"""Summaries of timing samples.

A timing is reported as its median with the sample count.  A higher
percentile is reported only when at least ``MIN_BEYOND`` samples lie
beyond it; with fewer, the value is one or two slow samples and reads as
noise, not as a tail.
"""

from __future__ import annotations

import math
import statistics
from typing import Dict, Optional, Sequence

MIN_BEYOND = 10
TAIL_PERCENTILES = (90, 99, 99.9)


def samples_beyond(n: int, pct: float) -> int:
    """How many of ``n`` sorted samples lie above the ``pct``-th
    percentile taken as the sample at rank ceil(pct/100 * n)."""
    return n - math.ceil(pct / 100.0 * n)


def percentile(samples: Sequence[float], pct: float) -> Optional[float]:
    """Nearest-rank percentile, or None when fewer than ``MIN_BEYOND``
    samples lie beyond it."""
    n = len(samples)
    if n == 0 or samples_beyond(n, pct) < MIN_BEYOND:
        return None
    return sorted(samples)[max(math.ceil(pct / 100.0 * n) - 1, 0)]


def summarize(samples: Sequence[float]) -> Dict:
    """{"n", "p50", and each supported tail percentile as "p90" ...}."""
    out: Dict = {"n": len(samples)}
    if samples:
        out["p50"] = statistics.median(samples)
    for pct in TAIL_PERCENTILES:
        v = percentile(samples, pct)
        if v is not None:
            out[f"p{pct:g}"] = v
    return out

