"""In-memory span tracer with Spark status-store counters.

A span records (name, start, end, parent, request id).  A leaf span
opened with ``spark=True`` runs its Spark jobs under a job group of its
own; when it closes, the tracer waits for the listener bus and sums the
counters of that group's stages from ``statusTracker`` and
``statusStore().lastStageAttempt``, which work with the UI disabled.
``driver_s`` is the span's wall time minus the union of its stages'
[submission, completion] intervals (the stage critical path).

With tracing off every method is a no-op: no clock reads beyond the
caller's own, and no job group is set.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

COUNTERS = {  # name -> unit
    "jobs": "count", "stages": "count", "tasks": "count",
    "executor_run_s": "s", "executor_cpu_s": "s", "gc_s": "s",
    "shuffle_write_mb": "MB", "shuffle_read_mb": "MB", "spill_mb": "MB",
    "input_rows": "count", "driver_s": "s",
}


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    request: int | None
    end: float = 0.0
    spark: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


def _interval_union(iv: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(iv):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def spark_counters(sc, group: str, wall: float) -> dict:
    """Sum the status-store counters over the stages of every job in
    ``group``.  Call after the group's jobs have finished."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(10_000)
    store = jsc.statusStore()
    out = dict.fromkeys(COUNTERS, 0.0)
    intervals = []
    seen = set()
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        out["jobs"] += 1
        info = sc.statusTracker().getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # py4j wraps NoSuchElementException: skipped stage
                continue
            if st.numCompleteTasks() == 0:
                continue  # skipped: its output was reused
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
            out["shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
            out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
            out["input_rows"] += st.inputRecords()
            sub, done = st.submissionTime(), st.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
    out["driver_s"] = max(wall - _interval_union(intervals), 0.0)
    return out


class Tracer:
    """Spans kept in memory for one benchmark run."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._ids = itertools.count()
        self.overhead_s = 0.0   # time spent inside the tracer itself

    @contextmanager
    def span(self, name: str, request: int | None = None, spark: bool = False):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = self.spans[parent].request
        s = Span(name, 0.0, parent, request)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        group = None
        if spark and self.sc is not None:
            group = f"pb-{next(self._ids)}-{name}"
            self.sc.setJobGroup(group, name)
        s.start = time.perf_counter()
        self.overhead_s += s.start - t_in
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                s.spark = spark_counters(self.sc, group, s.wall)
            self.overhead_s += time.perf_counter() - s.end

    def self_time(self, i: int) -> float:
        """Span i's wall minus the part of it its children cover."""
        s = self.spans[i]
        kids = [(c.start, c.end) for c in self.spans if c.parent == i]
        return s.wall - _interval_union(kids)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def spark_sum(self, name: str) -> dict:
        out = dict.fromkeys(COUNTERS, 0.0)
        for s in self.named(name):
            for k, v in s.spark.items():
                out[k] += v
        return out
