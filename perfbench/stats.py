"""Summary statistics the benchmark reports: medians, the tail
percentile rule, and span self time."""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass


def tail_percentile(n: int, min_beyond: int = 10) -> int | None:
    """Highest whole percentile of ``n`` samples with at least
    ``min_beyond`` samples above it, or None below the median.

    Under linear interpolation percentile ``p`` sits at rank
    ``(n - 1) * p / 100``; ``min_beyond`` samples lie above it exactly
    while that rank is below ``n - min_beyond``.
    """
    if n <= min_beyond:
        return None
    p = (100 * (n - min_beyond) - 1) // (n - 1)
    return p if p >= 50 else None


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


@dataclass
class LatencySummary:
    n: int
    p50: float
    tail_pct: int | None  # highest percentile with >= 10 samples beyond it
    tail: float | None
    p90: float | None  # only when the tail rule allows p90 or higher

    def as_dict(self) -> dict:
        return {
            "samples": self.n,
            "p50_s": self.p50,
            "tail_percentile": self.tail_pct,
            "tail_s": self.tail,
            "p90_s": self.p90,
        }


def summarize(latencies: list[float]) -> LatencySummary:
    pct = tail_percentile(len(latencies))
    tail = percentile(latencies, pct) if pct is not None else None
    p90 = percentile(latencies, 90) if pct is not None and pct >= 90 else None
    return LatencySummary(len(latencies), statistics.median(latencies), pct, tail, p90)


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``[start, end]`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it that child spans cover.

    Each span is a dict with ``id``, ``parent`` (id or None), ``start``
    and ``end``. Children that overlap each other count once.
    """
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        kids = [
            (max(a, s["start"]), min(b, s["end"]))
            for a, b in children.get(s["id"], [])
            if b > s["start"] and a < s["end"]
        ]
        out[s["id"]] = (s["end"] - s["start"]) - covered(kids)
    return out
