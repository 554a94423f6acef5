"""Arithmetic the benchmark reports: percentiles, their tail support, the
typical operation's latency and the failure fraction."""

from __future__ import annotations

import math
import statistics


def percentile(values: list[float], q: float) -> float:
    """The ``q``-th percentile (0-100) with linear interpolation between
    closest ranks (numpy's default ``linear`` method)."""
    if not values:
        raise ValueError("percentile of no values")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile {q} outside [0, 100]")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median_of_medians(groups: dict[str, list[float]]) -> float:
    """The median over operations of each operation's median latency.

    A few operations of very different speeds leave a gap in the pooled
    samples, and the pooled median falls into it: it is then set by the
    slowest sample of one operation and the fastest of the next.  Taking
    each operation's median first makes it a mean of medians instead."""
    if not groups or not all(groups.values()):
        raise ValueError("median of an operation without samples")
    return statistics.median(statistics.median(v) for v in groups.values())


def beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie strictly above the ``q``-th percentile
    rank: the tail support of a reported percentile."""
    return n - 1 - math.floor((n - 1) * q / 100)


def failed_frac(failed: int, attempted: int) -> float:
    """Operations failed per operation attempted."""
    if attempted < 1:
        raise ValueError("no operation attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"{failed} failed of {attempted} attempted")
    return failed / attempted
