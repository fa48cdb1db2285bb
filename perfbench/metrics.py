"""Metric arithmetic of the benchmark, free of Spark so it can be tested alone.

Times are seconds (floats); intervals are ``(start, end)`` pairs on one
clock. Spans are :class:`Span` records as the tracer writes them.
"""

from __future__ import annotations

import math
from collections import defaultdict
from collections.abc import Iterable, Sequence
from dataclasses import dataclass


@dataclass(frozen=True)
class Span:
    """One traced call: ``parent`` is the enclosing span's id (None at a
    query's root) and ``query_id`` groups the spans of one query."""

    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    query_id: int


def quantile(values: Sequence[float], q: float) -> float:
    """The ``q`` quantile (0..1) with linear interpolation between the two
    nearest ranks (numpy's default method)."""
    if not values:
        raise ValueError("quantile of no values")
    ordered = sorted(values)
    pos = (len(ordered) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(ordered) - 1)
    return ordered[lo] + (ordered[hi] - ordered[lo]) * (pos - lo)


def latency_summary(latencies: Sequence[float]) -> dict[str, float]:
    """Median and p90 with the sample count and how many samples lie
    above the p90 (the guide's check that the percentile is supported)."""
    p90 = quantile(latencies, 0.9)
    return {
        "p50": quantile(latencies, 0.5),
        "p90": p90,
        "n": len(latencies),
        "above_p90": sum(1 for v in latencies if v > p90),
    }


def block_rate(ends: Iterable[float], start: float, block: int) -> float:
    """Completions per second, median over blocks of ``block`` completions.

    The completion times ``ends`` are sorted and cut into consecutive
    blocks of ``block``; a block's rate is ``block`` over the wall from
    the previous block's last completion (``start`` for the first block)
    to its own last one. A partial last block is dropped.
    """
    ordered = sorted(ends)
    if block < 1 or len(ordered) < block:
        raise ValueError(f"block_rate needs at least one whole block of {block}")
    rates, prev = [], start
    for i in range(block - 1, len(ordered), block):
        rates.append(block / (ordered[i] - prev))
        prev = ordered[i]
    return quantile(rates, 0.5)


def overhead_ratio(
    traced: Iterable[tuple[str, float]], untraced: Iterable[tuple[str, float]]
) -> float:
    """Mean over queries of median traced latency / median untraced
    latency, minus one; ``(name, latency)`` samples, and only queries
    with samples on both sides count (0.0 when there are none)."""
    sides: list[dict[str, list[float]]] = [defaultdict(list), defaultdict(list)]
    for side, samples in zip(sides, (traced, untraced)):
        for name, latency in samples:
            side[name].append(latency)
    both = sides[0].keys() & sides[1].keys()
    if not both:
        return 0.0
    ratios = [quantile(sides[0][n], 0.5) / quantile(sides[1][n], 0.5) for n in both]
    return sum(ratios) / len(ratios) - 1.0


def covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: Iterable[Span]) -> dict[str, float]:
    """Total self time per span name: each span's duration minus the part
    of it covered by its direct children."""
    spans = list(spans)
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.name] += (s.end - s.start) - covered(children[s.span_id], s.start, s.end)
    return dict(out)


def job_ids_between(next_id_before: int, next_id_after: int) -> range:
    """Spark job IDs allocated while a single-client query ran: the
    scheduler hands out IDs in order, so every job the query caused —
    including micro-batch jobs on a stream's own thread — lies in the
    range between the next-ID counter read before and after it."""
    if next_id_after < next_id_before:
        raise ValueError(f"job-id counter went backwards: {next_id_before} -> {next_id_after}")
    return range(next_id_before, next_id_after)


def core_busy_ratio(task_run_s: float, wall_s: float, cores: int) -> float:
    """Share of the cores' time spent running tasks over ``wall_s``."""
    if wall_s <= 0 or cores <= 0:
        raise ValueError("core_busy_ratio needs a positive wall time and core count")
    return task_run_s / (wall_s * cores)
