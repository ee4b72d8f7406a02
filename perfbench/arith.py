"""The benchmark's own arithmetic, kept free of Spark so it is unit-tested
on its own (``python -m pytest perfbench/tests``).

Times are floats in seconds unless a name says ``_ms``. An interval is
a ``(start, end)`` pair with ``start <= end``.
"""

from __future__ import annotations

import math

# Phase order inside one micro-batch trigger, as MicroBatchExecution runs
# them: plan the next batch's offsets, write them to the offset log, get
# the batch, plan it, run the sink, commit.
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
          "commitOffsets")


def percentile(values, q: float) -> float:
    """Nearest-rank percentile: the smallest value with at least ``q``
    percent of the samples at or below it. ``math.inf`` entries (items
    never delivered) sort above every finite value."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < q <= 100:
        raise ValueError(f"percentile rank {q} outside (0, 100]")
    ordered = sorted(values)
    return ordered[max(1, math.ceil(q / 100 * len(ordered))) - 1]


def merge(intervals) -> list[tuple[float, float]]:
    """Union of intervals as sorted, disjoint intervals."""
    out: list[tuple[float, float]] = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


def covered(intervals, within) -> float:
    """Length of the union of ``intervals`` that lies inside the union of
    ``within``."""
    a, b = merge(intervals), merge(within)
    total, j = 0.0, 0
    for s, e in a:
        while j < len(b) and b[j][1] <= s:
            j += 1
        k = j
        while k < len(b) and b[k][0] < e:
            total += min(e, b[k][1]) - max(s, b[k][0])
            k += 1
    return total


def self_time(span, children) -> float:
    """A span's duration minus the part of it its children cover."""
    return (span[1] - span[0]) - covered(children, [span])


def max_overlap(intervals) -> int:
    """Most intervals open at one instant. An interval that ends exactly
    when another starts does not overlap it."""
    events = sorted([(s, 1) for s, _ in intervals] + [(e, -1) for _, e in intervals],
                    key=lambda ev: (ev[0], ev[1]))
    depth = best = 0
    for _, step in events:
        depth += step
        best = max(best, depth)
    return best


def phase_layout(start: float, duration_ms: dict) -> list[tuple[str, float, float]]:
    """Lay one trigger's reported phase durations end to end from its
    start, in ``PHASES`` order. Whatever of ``triggerExecution`` the
    phases do not account for is reported last as ``other``."""
    spans, t = [], start
    for name in PHASES:
        ms = duration_ms.get(name)
        if ms:
            spans.append((name, t, t + ms / 1000))
            t += ms / 1000
    end = start + duration_ms.get("triggerExecution", 0) / 1000
    if end > t:
        spans.append(("other", t, end))
    return spans


def trigger_wait(drain_wall_s: float, trigger_ms) -> float:
    """Time the run's data spent waiting on the trigger clock: the wall
    time from the first put until ``stop()`` returned, minus the time
    the stream spent executing triggers."""
    return drain_wall_s - sum(trigger_ms) / 1000
