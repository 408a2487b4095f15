"""Spans and Spark status-store readout for the benchmark.

A :class:`Tracer` records one span around each call the benchmark
makes into an engine layer (name, start, end, parent span, operation
id) and runs the call under a Spark job group that names the span, so
every job the call fires can be mapped back to it. Spans stay in
memory until :meth:`Tracer.dump` writes them.

:class:`StatusReader` reads jobs and stages from the Spark driver's
``AppStatusStore`` (it works with ``spark.ui.enabled=false``). The
store keeps 1,000 jobs and stages by default, so callers read it after
every operation rather than once per run.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class StageTotals:
    """Sums over a set of stages; times in seconds, sizes in bytes."""

    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    input_bytes: int = 0
    peak_exec_mem: int = 0

    def add(self, other: "StageTotals") -> None:
        for k, v in asdict(other).items():
            if k == "peak_exec_mem":
                self.peak_exec_mem = max(self.peak_exec_mem, v)
            else:
                setattr(self, k, getattr(self, k) + v)


@dataclass
class Job:
    job_id: int
    group: str | None
    name: str
    stages: StageTotals


def _iter(seq):
    """Iterate a Scala collection returned through py4j."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class StatusReader:
    """New jobs since the last call, each with its group and the totals
    of the stages first seen in it (a stage a later job reuses is
    counted once, in the job that ran it)."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._last_job = -1
        self._seen_stages: set[int] = set()
        self.read()  # jobs before construction are not ours

    def _stage(self, sid: int) -> StageTotals | None:
        s = self._jsc.statusStore().lastStageAttempt(sid)
        if str(s.status()) in ("PENDING", "SKIPPED"):
            return None
        return StageTotals(
            stages=1,
            tasks=int(s.numCompleteTasks()) + int(s.numFailedTasks()),
            failed_tasks=int(s.numFailedTasks()),
            run_s=int(s.executorRunTime()) / 1e3,
            cpu_s=int(s.executorCpuTime()) / 1e9,
            gc_s=int(s.jvmGcTime()) / 1e3,
            shuffle_read=int(s.shuffleReadBytes()),
            shuffle_write=int(s.shuffleWriteBytes()),
            spill=int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled()),
            input_bytes=int(s.inputBytes()),
            peak_exec_mem=int(s.peakExecutionMemory()),
        )

    def read(self) -> list[Job]:
        # the status store is fed asynchronously by the listener bus
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        fresh = []
        # jobsList is ordered by descending job id
        for j in _iter(store.jobsList(self._sc._jvm.java.util.ArrayList())):
            jid = int(j.jobId())
            if jid <= self._last_job:
                break
            grp = j.jobGroup()
            fresh.append((jid, str(grp.get()) if grp.isDefined() else None, str(j.name()),
                          [int(s) for s in _iter(j.stageIds())]))
        out = []
        for jid, group, name, stage_ids in sorted(fresh):
            totals = StageTotals()
            for sid in stage_ids:
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                st = self._stage(sid)
                if st is not None:
                    totals.add(st)
            out.append(Job(jid, group, name, totals))
        if fresh:
            self._last_job = max(f[0] for f in fresh)
        return out


@dataclass
class Span:
    span_id: int
    name: str
    op: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    totals: StageTotals = field(default_factory=StageTotals)

    @property
    def group(self) -> str:
        return f"pb{self.span_id}:{self.name}"

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans around layer calls plus the status readout every
    operation is followed by. While ``enabled`` is false :meth:`span`
    is a no-op, so the untraced passes run the same benchmark code."""

    def __init__(self, spark):
        self.enabled = False
        self.spans: list[Span] = []
        self.unmapped_jobs: list[Job] = []
        self._stack: list[Span] = []
        self._sc = spark.sparkContext
        self._status = StatusReader(spark)

    @contextmanager
    def span(self, name: str, op: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, op, parent.span_id if parent else None, time.perf_counter())
        self.spans.append(s)
        prev = self._sc.getLocalProperty(GROUP_KEY)
        self._sc.setLocalProperty(GROUP_KEY, s.group)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._sc.setLocalProperty(GROUP_KEY, prev)

    def collect(self) -> list[Job]:
        """Jobs finished since the last call. While tracing, each is
        attributed to the span its group names; a job no span claims is
        recorded as unmapped (a defect of the benchmark, reported in
        the output)."""
        jobs = self._status.read()
        if self.enabled:
            by_group = {s.group: s for s in self.spans}
            for job in jobs:
                s = by_group.get(job.group)
                if s is None:
                    self.unmapped_jobs.append(job)
                    continue
                s.jobs += 1
                s.totals.add(job.stages)
        return jobs

    def self_time(self, s: Span) -> float:
        """Span duration minus the part its direct children cover."""
        kids = [c for c in self.spans if c.parent == s.span_id]
        return s.wall - sum(c.wall for c in kids)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                row = asdict(s)
                row["self_s"] = self.self_time(s)
                f.write(json.dumps(row) + "\n")
