"""Spans kept in memory, and per-span counters read from Spark's
status store.

A span records name, start, end, parent span, workload and pass id.
Spans opened with `counters=True` also get the status-store totals of
every job that started inside them. The store answers with the UI
disabled (`sc._jsc.sc().statusStore()`); it is read before the span's
clock starts and after it stops, so the read itself stays outside the
span's duration.

The store is filled asynchronously from Spark's listener bus, so an
action can return before its job-end and stage-completed events are
applied. Every read first drains the bus and then waits until each
job newer than the cursor has completed; otherwise late events would
be missed by one span and skipped by the next one's cursor.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    workload: str
    pass_id: int | None
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def busy_seconds(intervals: list[tuple[float, float]], lo: float,
                 hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval covered by
    its direct children (overlapping children are counted once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.duration - busy_seconds(kids.get(s.id, []), s.start, s.end)
        for s in spans
    }


class StatusStore:
    """Totals over the jobs and stages that started after a cursor."""

    # how long since() waits for running jobs to be marked complete
    SETTLE_S = 10.0

    def __init__(self, spark):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        gw = sc._gateway
        self._stage_args = (
            None, False, False,
            gw.new_array(gw.jvm.double, 0),
            gw.jvm.java.util.ArrayList(),
        )

    def cursor(self) -> tuple[int, int]:
        """(highest job id, highest stage id) seen so far."""
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)
        stages = self._store.stageList(*self._stage_args)
        return (
            jobs.apply(0).jobId() if jobs.size() else -1,
            stages.apply(0).stageId() if stages.size() else -1,
        )

    def _settled_jobs(self, job_cur: int):
        """jobsList (newest first) once no job newer than job_cur is
        still open in the store."""
        deadline = time.monotonic() + self.SETTLE_S
        while True:
            self._bus.waitUntilEmpty()
            jobs = self._store.jobsList(None)
            open_ = False
            for i in range(jobs.size()):
                j = jobs.apply(i)
                if j.jobId() <= job_cur:
                    break
                if not j.completionTime().isDefined():
                    open_ = True
                    break
            if not open_ or time.monotonic() > deadline:
                return jobs
            time.sleep(0.01)

    def since(self, cur: tuple[int, int], t0: float, t1: float) -> dict:
        """Counters of jobs/stages newer than `cur`; t0/t1 are the
        span's wall-clock (epoch) bounds, used for driver-only time."""
        job_cur, stage_cur = cur
        jobs = self._settled_jobs(job_cur)
        n_jobs = 0
        intervals = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= job_cur:
                break
            n_jobs += 1
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined():
                end = done.get().getTime() if done.isDefined() else t1 * 1e3
                intervals.append((sub.get().getTime() / 1e3, end / 1e3))
        c = {
            "jobs": n_jobs, "stages": 0, "tasks": 0,
            "exec_run_s": 0.0, "exec_jvm_cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0,
            "spill_mb": 0.0,
        }
        stages = self._store.stageList(*self._stage_args)  # newest first
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= stage_cur:
                break
            if s.status().toString() == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            c["exec_run_s"] += s.executorRunTime() / 1e3
            c["exec_jvm_cpu_s"] += s.executorCpuTime() / 1e9
            c["gc_s"] += s.jvmGcTime() / 1e3
            c["shuffle_read_mb"] += s.shuffleReadBytes() / 2**20
            c["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
            c["spill_mb"] += (
                s.memoryBytesSpilled() + s.diskBytesSpilled()
            ) / 2**20
        c["exec_offcpu_s"] = c["exec_run_s"] - c["exec_jvm_cpu_s"]
        wall = t1 - t0
        c["driver_s"] = wall - busy_seconds(intervals, t0, t1)
        c["ms_per_job"] = 1e3 * wall / max(n_jobs, 1)
        return c


class Tracer:
    """Collects spans for one benchmark run. With `store` None (the
    untraced run) every span is a no-op."""

    def __init__(self, workload: str, store: StatusStore | None = None):
        self.workload = workload
        self.store = store
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, pass_id: int | None = None,
             counters: bool = False):
        if self.store is None:
            yield None
            return
        cur = self.store.cursor() if counters else None
        s = Span(
            id=len(self.spans), name=name, start=0.0, end=0.0,
            parent=self._stack[-1] if self._stack else None,
            workload=self.workload, pass_id=pass_id,
        )
        self.spans.append(s)
        self._stack.append(s.id)
        epoch0 = time.time()
        s.start = time.monotonic()
        try:
            yield s
        finally:
            s.end = time.monotonic()
            epoch1 = time.time()
            self._stack.pop()
            if cur is not None:
                s.counters = self.store.since(cur, epoch0, epoch1)

    def dump(self, path: str, run_info: dict) -> None:
        """Write run_info and every span, with its self time."""
        st = self_times(self.spans)
        rows = [dict(asdict(s), self_s=st[s.id]) for s in self.spans]
        with open(path, "w") as fh:
            json.dump({"run": run_info, "spans": rows}, fh, indent=1)
