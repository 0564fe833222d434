"""Percentiles with the sample-support rule used by the benchmark."""

from __future__ import annotations

import math
from typing import Sequence

MIN_BEYOND = 10


def beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie above the p-th percentile."""
    return n - math.ceil(n * p / 100.0)


def p95_supported(n: int) -> bool:
    """A p95 of ``n`` samples is reported only with MIN_BEYOND beyond it."""
    return beyond(n, 95) >= MIN_BEYOND


def percentile(values: Sequence[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(len(s) * p / 100.0) - 1)]
