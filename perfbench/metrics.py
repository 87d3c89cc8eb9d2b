"""Pure metric code of the benchmark: percentiles, span self time,
interval unions and failure counting. No Spark here, so the rules are
tested on synthetic inputs (tests/test_metrics.py)."""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Hashable, Iterable, Sequence

# A percentile is reported only when at least this many samples lie
# beyond it; below that its value is set by one or two outliers.
MIN_SAMPLES_BEYOND = 10


@dataclass(frozen=True)
class Span:
    """One call the benchmark made into a layer. Times are epoch
    seconds; parent is the enclosing span's id (None for a root)."""

    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


def percentile(values: Sequence[float], p: float) -> float:
    """The p-th percentile (0 < p < 100) by linear interpolation between
    closest ranks, the inclusive method of statistics.quantiles."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def reportable(n_samples: int, p: float) -> bool:
    """True when at least MIN_SAMPLES_BEYOND samples lie above the p-th
    percentile of n_samples."""
    return n_samples * (100.0 - p) / 100.0 >= MIN_SAMPLES_BEYOND


def interval_union(intervals: Iterable[tuple[float, float]]) -> list[tuple[float, float]]:
    """Merge intervals into disjoint sorted ones; empty or inverted
    intervals are dropped, touching ones are joined."""
    merged: list[list[float]] = []
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if merged and s <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], e)
        else:
            merged.append([s, e])
    return [(s, e) for s, e in merged]


def covered(window: tuple[float, float], intervals: Iterable[tuple[float, float]]) -> float:
    """Length of the part of window that the intervals cover."""
    ws, we = window
    total = 0.0
    for s, e in interval_union(intervals):
        lo, hi = max(s, ws), min(e, we)
        if hi > lo:
            total += hi - lo
    return total


def self_times(spans: Sequence[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it covered by its children."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append((sp.start, sp.end))
    return {
        sp.id: (sp.end - sp.start) - covered((sp.start, sp.end), children.get(sp.id, ()))
        for sp in spans
    }


def error_rate(attempted: int, failed: int) -> float:
    """Failed over attempted; an operation that raised and one that
    returned a wrong answer both count as failed."""
    if attempted < 1:
        raise ValueError("error_rate needs at least one attempted operation")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def repeat_share(events: Sequence[tuple[float, float, Hashable]], prior: Iterable[Hashable]) -> float:
    """Share of the requests sent that repeat exactly a request that had
    completed before they were sent. events holds (start, end, request)
    of each request sent; prior holds requests completed before the
    first one was sent."""
    if not events:
        raise ValueError("repeat_share needs at least one request")
    done = set(prior)
    first_end: dict[Hashable, float] = {}
    for _, end, req in events:
        first_end[req] = min(first_end.get(req, math.inf), end)
    return sum(req in done or first_end[req] <= start for start, _, req in events) / len(events)


class OpLog:
    """Per-operation outcomes of one timed window, shared by the client
    threads (append under the GIL is atomic; nothing reads until the
    clients have joined)."""

    def __init__(self) -> None:
        self.durations: list[float] = []
        self.failures: list[str] = []

    def record(self, seconds: float, failure: str | None) -> None:
        self.durations.append(seconds)
        if failure is not None:
            self.failures.append(failure)

    @property
    def attempted(self) -> int:
        return len(self.durations)

    @property
    def failed(self) -> int:
        return len(self.failures)


@dataclass(frozen=True)
class StageStat:
    """Counters of one executed Spark stage, owned by one job. start and
    end are epoch seconds (None when the store has no time)."""

    job: int
    tasks: int
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write_bytes: int
    spill_bytes: int
    start: float | None
    end: float | None


# The benchmark's layers: thrill_spark's modules, the benchmark's own
# glue around them (``bench``, the root span of every operation) and
# ``action``, the final DataFrame action where lazy work runs.
LAYERS = (
    "bench",
    "session",
    "catalog",
    "sources",
    "operators",
    "ordering",
    "functions.dedup",
    "functions.text",
    "functions.corpus",
    "functions.similarity",
    "plans.algorithms",
    "action",
)
_MB = 1024.0 * 1024.0


def layer_metrics(
    spans: Sequence[Span],
    span_jobs: dict[int, list[int]],
    stages: dict[int, StageStat],
    n_ops: int,
) -> dict[str, float]:
    """Per layer L: L.calls, L.self_s, L.jobs and L.task_s. Operation
    spans are averaged per operation; ``session`` spans (the run's one
    set-up) are totals. Jobs count for the innermost span they ran
    under."""
    selfs = self_times(spans)
    task_of_job: dict[int, float] = {}
    for st in stages.values():
        task_of_job[st.job] = task_of_job.get(st.job, 0.0) + st.run_s
    out: dict[str, float] = {}
    for layer in LAYERS:
        if layer == "session":
            mine = [s for s in spans if s.name == layer]
            per = 1
        else:
            mine = [s for s in spans if s.name == layer and s.op is not None]
            per = max(n_ops, 1)
        jobs = [j for s in mine for j in span_jobs.get(s.id, ())]
        out[f"{layer}.calls"] = len(mine) / per
        out[f"{layer}.self_s"] = sum(selfs[s.id] for s in mine) / per
        out[f"{layer}.jobs"] = len(jobs) / per
        out[f"{layer}.task_s"] = sum(task_of_job.get(j, 0.0) for j in jobs) / per
    return out


def spark_metrics(
    spans: Sequence[Span],
    span_jobs: dict[int, list[int]],
    stages: dict[int, StageStat],
    window_s: float,
    nproc: int,
) -> dict[str, float]:
    """Per-operation Spark counters of the jobs launched inside
    operations, core utilisation over the window, and the share of
    operation wall time during which none of the operation's own stages
    was running (driver-side planning, scheduling and Python glue)."""
    roots = [s for s in spans if s.parent is None and s.op is not None]
    n_ops = max(len(roots), 1)
    op_of_job = {j: s.op for s in spans if s.op is not None for j in span_jobs.get(s.id, ())}
    mine = [st for st in stages.values() if st.job in op_of_job]
    busy: dict[int, list[tuple[float, float]]] = {}
    for st in mine:
        if st.start is not None and st.end is not None:
            busy.setdefault(op_of_job[st.job], []).append((st.start, st.end))
    wall = sum(r.end - r.start for r in roots)
    idle = sum((r.end - r.start) - covered((r.start, r.end), busy.get(r.op, ())) for r in roots)
    task_s = sum(st.run_s for st in mine)
    return {
        "spark.jobs_per_op": len(op_of_job) / n_ops,
        "spark.stages_per_op": len(mine) / n_ops,
        "spark.tasks_per_op": sum(st.tasks for st in mine) / n_ops,
        "spark.cpu_s_per_op": sum(st.cpu_s for st in mine) / n_ops,
        "spark.gc_s_per_op": sum(st.gc_s for st in mine) / n_ops,
        "spark.shuffle_write_mb_per_op": sum(st.shuffle_write_bytes for st in mine) / _MB / n_ops,
        "spark.spill_mb_per_op": sum(st.spill_bytes for st in mine) / _MB / n_ops,
        "spark.core_util": task_s / (window_s * nproc) if window_s > 0 else 0.0,
        "spark.uncovered_share": idle / wall if wall > 0 else 0.0,
    }


def self_sum_error(spans: Sequence[Span]) -> float:
    """|sum of self time over operation spans - operation wall time|,
    as a share of the operation wall time (0 when spans nest)."""
    ops = [s for s in spans if s.op is not None]
    wall = sum(s.end - s.start for s in ops if s.parent is None)
    if wall <= 0:
        return 0.0
    selfs = self_times(ops)
    return abs(sum(selfs.values()) - wall) / wall
