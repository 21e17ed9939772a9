"""Percentiles with the sample-support rule.

A percentile is reported only when at least ``MIN_BEYOND`` samples lie
beyond it, so a tail figure never rests on one or two outliers. Nearest-rank
definition: the q-th percentile of n sorted samples is the element at rank
ceil(q/100 * n); the samples beyond it are the n - rank above it.
"""

from __future__ import annotations

import math
import statistics
from typing import Sequence

MIN_BEYOND = 10
CANDIDATES = (99.0, 95.0, 90.0, 75.0, 50.0)


def rank(n: int, q: float) -> int:
    """1-based nearest rank of the q-th percentile among n samples."""
    if n < 1:
        raise ValueError("no samples")
    return max(1, math.ceil(q / 100.0 * n))


def beyond(n: int, q: float) -> int:
    """Samples strictly above the q-th percentile's rank."""
    return n - rank(n, q)


def supported(n: int, q: float) -> bool:
    return n >= 1 and beyond(n, q) >= MIN_BEYOND


def percentile(samples: Sequence[float], q: float) -> float:
    """Nearest-rank q-th percentile; raises unless ``supported``."""
    n = len(samples)
    if not supported(n, q):
        raise ValueError(
            f"p{q:g} of {n} samples has {max(n - rank(n, q), 0) if n else 0} beyond it; "
            f"need {MIN_BEYOND}"
        )
    return sorted(samples)[rank(n, q) - 1]


def highest_supported(n: int, candidates: Sequence[float] = CANDIDATES) -> float | None:
    """The highest candidate percentile n samples support, or None."""
    for q in sorted(candidates, reverse=True):
        if supported(n, q):
            return q
    return None


def median(samples: Sequence[float]) -> float:
    if not samples:
        raise ValueError("no samples")
    return statistics.median(samples)


def mix_weighted_median(samples_by_kind: dict[str, Sequence[float]]) -> float:
    """Σ_kind share(kind) · median(kind), share = the kind's part of all
    samples. Steadier than the median of a mix of request kinds whose
    latencies differ: that median sits in a gap between kinds and jumps when
    a few requests fall on the other side."""
    total = sum(len(v) for v in samples_by_kind.values())
    if total == 0:
        raise ValueError("no samples")
    return sum(len(v) / total * statistics.median(v) for v in samples_by_kind.values() if v)


def median_or_zero(samples: Sequence[float]) -> float:
    """For per-layer figures of a layer a workload does not reach."""
    return statistics.median(samples) if samples else 0.0


def mean_or_zero(samples: Sequence[float]) -> float:
    return statistics.fmean(samples) if samples else 0.0
