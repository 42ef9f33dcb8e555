"""The benchmark's own arithmetic: percentiles with their sample-count
rule, the failure share and span self times."""

from __future__ import annotations

import math

#: A percentile is reported only when at least this many samples lie
#: beyond it; otherwise the next lower candidate is used.
TAIL_SAMPLES = 10
CANDIDATES = (99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated ``p``-th percentile (numpy's default rule)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def samples_beyond(n: int, p: float) -> int:
    """Samples ranked above the ``p``-th percentile of ``n`` samples
    (under ``percentile``'s interpolation rule)."""
    return n - 1 - math.floor((n - 1) * p / 100.0)


def supported_percentile(n: int, candidates=CANDIDATES, tail: int = TAIL_SAMPLES) -> float | None:
    """Highest candidate percentile with at least ``tail`` of ``n``
    samples beyond it, or None when not even the median qualifies."""
    for p in candidates:
        if samples_beyond(n, p) >= tail:
            return p
    return None


def failure_share(attempted: int, failed: int) -> float:
    """Failed or incorrect ops over attempted ops."""
    if attempted <= 0:
        raise ValueError("no ops attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..attempted={attempted}")
    return failed / attempted


def covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
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
    """Self time of every span: its duration minus the part of its
    interval that its direct children cover. Spans are dicts with
    ``id``, ``parent`` (None for a root), ``start`` and ``end``."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        inside = [(max(a, s["start"]), min(b, s["end"]))
                  for a, b in children.get(s["id"], []) if b > s["start"] and a < s["end"]]
        out[s["id"]] = (s["end"] - s["start"]) - covered(inside)
    return out
