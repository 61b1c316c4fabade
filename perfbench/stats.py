"""Spark-free arithmetic of the benchmark: percentiles and their sample-count
rule, unions of job intervals, open-loop latency, error accounting and span
self time. Everything here is pure so that ``perfbench/tests`` can check it
without a JVM."""

from __future__ import annotations

import math
from dataclasses import dataclass, field

# A percentile is reported only when at least this many samples lie beyond it.
MIN_BEYOND = 10


def percentile(values, q: float) -> float:
    """Nearest-rank percentile: the smallest sample such that at least a
    share ``q`` of the samples is at or below it. ``q`` is in [0, 1]."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"q must be in [0, 1], got {q}")
    s = sorted(values)
    rank = max(1, math.ceil(q * len(s)))
    return s[rank - 1]


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie strictly above the nearest-rank
    ``q``-percentile."""
    return n - max(1, math.ceil(q * n)) if n else 0


def supports(n: int, q: float, min_beyond: int = MIN_BEYOND) -> bool:
    """Whether ``n`` samples leave at least ``min_beyond`` beyond the
    ``q``-percentile, the rule for reporting a tail."""
    return samples_beyond(n, q) >= min_beyond


def median(values) -> float:
    return percentile(values, 0.5)


def union_length(intervals) -> float:
    """Total length covered by ``(start, end)`` intervals that may overlap."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def driver_gap(start: float, end: float, job_intervals) -> float:
    """Wall time of a call minus the time covered by at least one of its
    jobs. Jobs overlap, so the covered time is a union, not a sum."""
    return (end - start) - union_length(clip(job_intervals, start, end))


def open_loop_latencies(slots: dict, emitted: dict) -> dict:
    """Latency of each emitted event, measured from its scheduled slot (not
    from when the generator actually wrote it), so a stalled generator or
    engine charges the wait to every event queued behind the stall."""
    return {k: emitted[k] - slots[k] for k in slots if k in emitted}


@dataclass
class Tally:
    """Operations attempted and failed. A wrong result is a failure."""

    attempted: int = 0
    failed: int = 0
    reasons: list = field(default_factory=list)

    def record(self, ok: bool, what: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.reasons.append(what)
        return ok

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None = None


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval its direct
    children cover (children may overlap each other)."""
    kids: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return [
        (s.end - s.start) - union_length(clip(kids.get(i, []), s.start, s.end))
        for i, s in enumerate(spans)
    ]
