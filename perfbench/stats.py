"""Interval and sample arithmetic shared by the runner and the tracer."""

from __future__ import annotations

import statistics


def summarize(values: list[float]) -> dict:
    """Median, first and third quartile and count of every sample kept.

    Quartiles follow ``statistics.quantiles(values, n=4)``; with fewer
    than two samples they collapse onto the single value.
    """
    if not values:
        raise ValueError("no samples")
    if len(values) == 1:
        q1 = q3 = values[0]
    else:
        q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3, "n": len(values)}


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)`` intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if end <= start:
            continue
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(intervals: list[tuple[float, float]], start: float, end: float) -> list[tuple[float, float]]:
    """The parts of ``intervals`` that fall inside ``[start, end]``."""
    out = []
    for s, e in intervals:
        s, e = max(s, start), min(e, end)
        if e > s:
            out.append((s, e))
    return out


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover."""
    return (end - start) - union_length(clip(children, start, end))
