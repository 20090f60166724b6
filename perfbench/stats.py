"""Pure summary arithmetic for the benchmark: no Spark, no I/O.

Kept apart from the runner so the benchmark's own tests can pin the
rules that decide what a reported number means.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

# The tail is the highest percentile with at least this many samples
# strictly beyond it, so that it never rests on one or two outliers.
TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """(value, percentile, sample count) of the highest order statistic
    that still has ``beyond`` samples above it.

    With ``n`` sorted samples that is the one at index ``n - beyond - 1``;
    its percentile is the share of samples at or below it, ``(n - beyond)
    / n``.  Fewer than ``beyond + 1`` samples have no such tail.
    """
    n = len(values)
    if n <= beyond:
        raise ValueError(f"tail needs more than {beyond} samples, got {n}")
    ordered = sorted(values)
    return ordered[n - beyond - 1], 100.0 * (n - beyond) / n, n


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time summed per layer.

    A span's self time is its duration minus the part of its interval
    that its direct children cover (overlapping children count once, and
    a child is clipped to its parent).  Each span is a dict with ``id``,
    ``parent`` (``None`` at the root), ``layer``, ``start`` and ``end``.
    """
    children: dict[object, list[dict]] = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = 0.0
        cursor = lo
        for c in sorted(children.get(s["id"], ()), key=lambda c: c["start"]):
            a, b = max(c["start"], cursor), min(c["end"], hi)
            if b > a:
                covered += b - a
                cursor = b
        out[s["layer"]] += (hi - lo) - covered
    return dict(out)
