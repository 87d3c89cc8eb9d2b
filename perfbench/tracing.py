"""Spans around the benchmark's calls into each layer, and the Spark
status-store counters of the jobs each span launched.

Every span runs under its own Spark job group, so after the run the
status store says which jobs (and so which stages) each span caused.
Lazy DataFrame work runs at the first action, so it lands on the span
of that action (named ``action``, or ``sources`` for a write).
Spans are kept in memory and read out when the run ends.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

from perfbench.metrics import Span, StageStat

_GROUP_PREFIX = "pb:"


class Tracer:
    """Records spans when ``enabled``; otherwise only keeps one job group
    per client thread. One instance per run, shared by its clients."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._sc = None
        self._ids = itertools.count(1)
        self._ops = itertools.count(1)
        self._tls = threading.local()

    def bind(self, sc) -> None:
        """Attach the live SparkContext (None while it is being replaced)."""
        self._sc = sc

    def client(self, name: str) -> None:
        """Start a client thread: its jobs run under job group ``name``
        whenever no span is open."""
        self._tls.base = name
        self._tls.stack = []
        self._tls.op = None
        self._group(name)

    def _group(self, group: str) -> None:
        if self._sc is not None:
            self._sc.setJobGroup(group, group)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        tls = self._tls
        stack = tls.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        self._group(f"{_GROUP_PREFIX}{sid}")
        stack.append(sid)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            stack.pop()
            self._group(
                f"{_GROUP_PREFIX}{parent}" if parent is not None
                else getattr(tls, "base", "main")
            )
            self.spans.append(Span(sid, name, start, end, parent, getattr(tls, "op", None)))

    @contextmanager
    def op(self):
        """One operation: a root span ``bench`` whose descendants share
        its operation id."""
        self._tls.op = next(self._ops)
        try:
            with self.span("bench"):
                yield
        finally:
            self._tls.op = None


def _opt_epoch(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def spark_counters(sc, spans: list[Span]) -> tuple[dict[int, list[int]], dict[int, StageStat]]:
    """Jobs per span, and the counters of every stage those jobs ran.

    A stage shared by several jobs (a reused shuffle) belongs to the
    earliest of them; later jobs list it as skipped. Counters come from
    the status store (``lastStageAttempt``), which works with the UI off.
    """
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    span_jobs = {
        sp.id: sorted(tracker.getJobIdsForGroup(f"{_GROUP_PREFIX}{sp.id}")) for sp in spans
    }
    owner: dict[int, int] = {}
    for job in sorted(j for jobs in span_jobs.values() for j in jobs):
        info = tracker.getJobInfo(job)
        for stage in (info.stageIds if info is not None else ()):
            owner.setdefault(stage, job)
    stages: dict[int, StageStat] = {}
    for stage, job in owner.items():
        try:
            d = store.lastStageAttempt(stage)
        except Py4JJavaError:  # never submitted: no attempt to report
            continue
        if d.status().toString() == "SKIPPED":
            continue
        stages[stage] = StageStat(
            job=job,
            tasks=d.numTasks(),
            run_s=d.executorRunTime() / 1e3,
            cpu_s=d.executorCpuTime() / 1e9,
            gc_s=d.jvmGcTime() / 1e3,
            shuffle_write_bytes=d.shuffleWriteBytes(),
            spill_bytes=d.diskBytesSpilled(),
            start=_opt_epoch(d.submissionTime()),
            end=_opt_epoch(d.completionTime()),
        )
    return span_jobs, stages
