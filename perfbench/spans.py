"""Spans, Spark event-log parsing and the statistics the benchmark reports.

Spans are recorded by the benchmark around its calls into the engine
(name, start, end, parent, op id) and kept in memory. Spark jobs are
assigned to spans by time interval: a job belongs to the innermost span
whose interval holds the job's submission time. Job groups are not used,
because the engine's pin thread pools do not inherit the caller's group;
the benchmark runs one op at a time, so intervals do not overlap.
"""

from __future__ import annotations

import json
import math
import statistics
import time
from collections.abc import Iterable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = math.nan
    parent: int | None = None
    op: int | None = None


class Tracer:
    """In-memory span recorder. Times are epoch seconds, the clock the
    Spark event log uses (in milliseconds)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op: int | None = None) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = parent.op
        s = Span(len(self.spans), name, time.time(), parent=parent and parent.id, op=op)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()


@dataclass
class Job:
    id: int
    submit: float  # epoch seconds
    end: float
    stages: list[int] = field(default_factory=list)


@dataclass
class StageTotals:
    """Task metrics of one completed stage, summed over its tasks."""

    tasks: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_read: float = 0.0
    shuffle_write: float = 0.0
    spill: float = 0.0
    output_bytes: float = 0.0

    def add(self, other: StageTotals) -> None:
        for k, v in vars(other).items():
            setattr(self, k, getattr(self, k) + v)


def parse_event_log(lines: Iterable[str]) -> tuple[list[Job], dict[int, StageTotals]]:
    """Jobs (with submission/completion times and stage ids) and per-stage
    task-metric totals from an uncompressed Spark event log. Task metrics
    are keyed by stage id and attempt; only successful tasks count."""
    jobs: dict[int, Job] = {}
    stages: dict[int, StageTotals] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = Job(
                ev["Job ID"], ev["Submission Time"] / 1000.0, math.nan, list(ev["Stage IDs"])
            )
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info", {})
            m = ev.get("Task Metrics")
            if info.get("Failed") or not m:
                continue
            sr = m.get("Shuffle Read Metrics", {})
            sw = m.get("Shuffle Write Metrics", {})
            om = m.get("Output Metrics", {})
            t = StageTotals(
                tasks=1,
                run_ms=m.get("Executor Run Time", 0),
                cpu_ns=m.get("Executor CPU Time", 0),
                gc_ms=m.get("JVM GC Time", 0),
                shuffle_read=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                shuffle_write=sw.get("Shuffle Bytes Written", 0),
                spill=m.get("Disk Bytes Spilled", 0),
                output_bytes=om.get("Bytes Written", 0),
            )
            stages.setdefault(ev["Stage ID"], StageTotals()).add(t)
    return sorted(jobs.values(), key=lambda j: j.submit), stages


def attribute_jobs(spans: list[Span], jobs: list[Job]) -> dict[int, list[Job]]:
    """Map span id -> jobs submitted inside it and not inside a child.
    Jobs submitted outside every span are left out."""
    out: dict[int, list[Job]] = {s.id: [] for s in spans}
    for j in jobs:
        best = None
        for s in spans:
            if s.start <= j.submit <= s.end and (best is None or s.start >= best.start):
                best = s
        if best is not None:
            out[best.id].append(j)
    return out


def descendants(spans: list[Span], root: int) -> set[int]:
    ids = {root}
    for s in spans:  # spans are recorded in start order: parents first
        if s.parent in ids:
            ids.add(s.id)
    return ids


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by the union of ``[lo, hi]`` intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(lo: float, hi: float, busy: Iterable[tuple[float, float]]) -> float:
    """Length of ``[lo, hi]`` not covered by any of the ``busy`` intervals
    (each is clipped to ``[lo, hi]`` first)."""
    clipped = [(max(lo, a), min(hi, b)) for a, b in busy if b > lo and a < hi]
    return (hi - lo) - union_length(clipped)


def tail_percentile(values: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """The highest nearest-rank percentile that leaves at least ``beyond``
    samples above its rank, with its value; ``None`` when that rank is
    not above the median rank (too few samples for a tail)."""
    n = len(values)
    rank = n - beyond  # 1-based nearest rank
    if rank <= math.ceil(n / 2):
        return None
    return 100.0 * rank / n, sorted(values)[rank - 1]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else math.nan


def growth(latencies: list[float]) -> float:
    """Median of the last third of ``latencies`` over the median of the
    first third (at least one value each); 1.0 means batch cost stays
    flat as the stores grow."""
    if len(latencies) < 2:
        return math.nan
    k = max(1, len(latencies) // 3)
    return median(latencies[-k:]) / median(latencies[:k])
