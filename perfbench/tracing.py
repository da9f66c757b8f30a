"""Spans around the calls into each layer, with Spark's own counters.

A span records name, start, end, parent and operation id, plus the busy
core-seconds of the host over its interval and the Spark counters of the
jobs it ran. Spans stay in memory and are written out when the run ends.

Jobs are attributed to a span through a job group the tracer sets when
the span opens, so a span's Spark counters cover only the jobs it ran
itself, never its children's. Busy core-seconds and wall time are
inclusive; `self_times` subtracts what the children cover.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass, field

from sysstat import TICK_S, cpu_ticks

# Spark counters summed over the stages a span's jobs ran. Each key maps to
# the v1 StageData accessor it reads and a scale to seconds or bytes.
STAGE_COUNTERS = {
    "task_s": ("executorRunTime", 1e-3),
    "jvm_cpu_s": ("executorCpuTime", 1e-9),
    "gc_ms": ("jvmGcTime", 1.0),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1.0),
    "shuffle_read_bytes": ("shuffleReadBytes", 1.0),
    "spill_bytes": ("memoryBytesSpilled", 1.0),
}


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    core_s: float = 0.0
    counts: dict = field(default_factory=dict)
    spark: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total, reach = 0.0, float("-inf")
    for start, end in sorted(intervals):
        start = max(start, reach)
        if end > start:
            total += end - start
            reach = end
    return total


def self_times(spans: list[Span]) -> dict[int, tuple[float, float]]:
    """span id -> (self wall seconds, self busy core-seconds).

    Self wall time is the span's duration minus the part of it that its
    children cover. Self core-seconds subtract the children's core-seconds;
    that is exact because the traced runs call layers one after another."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        ch = kids.get(s.id, [])
        covered = _covered([(max(c.start, s.start), min(c.end, s.end))
                            for c in ch])
        out[s.id] = (s.wall_s - covered,
                     s.core_s - sum(c.core_s for c in ch))
    return out


class SparkCounters:
    """Reads job and stage counters from the SparkContext's status store.

    Works with the UI disabled: the store is fed by the listener bus, which
    is drained before each read so a finished job's last task metrics are
    in it."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._seen_stages: set[int] = set()

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def _jobs(self):
        jobs = self._store.jobsList(None)  # a Scala Seq of v1.JobData
        return (jobs.apply(i) for i in range(jobs.size()))

    def max_job_id(self) -> int:
        return max((j.jobId() for j in self._jobs()), default=-1)

    def descriptions(self, lo: int, hi: int) -> dict[int, str]:
        """job id -> description for lo < id <= hi."""
        out = {}
        for j in self._jobs():
            if lo < j.jobId() <= hi:
                d = j.description()
                out[j.jobId()] = d.get() if d.isDefined() else ""
        return out

    def totals(self, job_ids: list[int]) -> dict:
        """Counters summed over the stages these jobs executed. A stage
        that an earlier job already ran shows as skipped and counts once."""
        t = {k: 0.0 for k in STAGE_COUNTERS}
        t.update(jobs=len(job_ids), stages=0, tasks=0, failed_tasks=0)
        for jid in job_ids:
            sids = self._store.job(jid).stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in self._seen_stages:
                    continue
                sd = self._store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                self._seen_stages.add(sid)
                t["stages"] += 1
                t["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                t["failed_tasks"] += sd.numFailedTasks()
                for k, (getter, scale) in STAGE_COUNTERS.items():
                    t[k] += getattr(sd, getter)() * scale
        return t


class Tracer:
    """Records nested spans; with a Spark session, also their counters."""

    def __init__(self, spark=None, clock=time.monotonic, cpu=cpu_ticks):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._clock = clock
        self._cpu = cpu
        self.counters = SparkCounters(spark) if spark is not None else None
        self.t0 = clock()

    def _set_group(self, span: Span | None) -> None:
        if self.counters is None:
            return
        if span is None:
            self.counters.sc.setLocalProperty("spark.jobGroup.id", None)
            self.counters.sc.setLocalProperty("spark.job.description", None)
        else:
            self.counters.sc.setJobGroup(f"perfbench-{span.id}", span.name)

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = parent.op
        s = Span(len(self.spans), name, parent.id if parent else None, op,
                 self._clock())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        busy0 = self._cpu()[0]
        try:
            yield s
        finally:
            s.end = self._clock()
            s.core_s = (self._cpu()[0] - busy0) * TICK_S
            self._stack.pop()
            self._set_group(parent)
            if self.counters is not None:
                self.counters.drain()
                s.spark = self.counters.totals(
                    self.counters.job_ids(f"perfbench-{s.id}"))

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        rows = []
        for s in self.spans:
            row = asdict(s)
            row["start"] -= self.t0
            row["end"] -= self.t0
            row["self_wall_s"], row["self_core_s"] = selfs[s.id]
            rows.append(row)
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)
