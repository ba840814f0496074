"""Per-layer tracing from outside the program.

Spans are timed around the benchmark's own calls into each layer's public
functions (grammar, query construction, actions, sinks, byte accounting).
Each traced span also runs under its own Spark job group, so the jobs it
caused can be read back from the application status store after the run
(the ``plans.metrics.measure_runtime_bytes`` pattern). With tracing off,
``span`` is a shared no-op context and no job group is set.
"""

from __future__ import annotations

import contextlib
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from parquet_near_storage_compute_spark.plans import memo


@dataclass
class OpTrace:
    """Spans and job groups of one traced op."""

    op_id: str
    spans: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    groups: dict[str, str] = field(default_factory=dict)


class Tracer:
    def __init__(self, spark: SparkSession, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.current: OpTrace | None = None
        self.memo_gets = 0
        self.memo_hits = 0

    def begin(self, op_id: str) -> OpTrace | None:
        self.current = OpTrace(op_id) if self.enabled else None
        return self.current

    def span(self, name: str):
        if self.current is None:
            return contextlib.nullcontext()
        return self._span(self.current, name)

    @contextlib.contextmanager
    def _span(self, op: OpTrace, name: str):
        sc = self.spark.sparkContext
        group = f"{op.op_id}:{name}:{len(op.groups)}"
        op.groups[group] = name
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            op.spans[name] += time.perf_counter() - t0
            sc._jsc.clearJobGroup()

    @contextlib.contextmanager
    def count_memo(self):
        """Count ``PlanMemo.get`` calls and hits (a hit is a call that did
        not invoke its ``build`` callback) made by traced ops."""
        original = memo.PlanMemo.get
        tracer = self

        def counted(self, spark, sf_dir, label, build):
            built = []

            def build_and_note():
                built.append(True)
                return build()

            out = original(self, spark, sf_dir, label, build_and_note)
            if tracer.current is not None:
                tracer.memo_gets += 1
                tracer.memo_hits += not built
            return out

        memo.PlanMemo.get = counted
        try:
            yield
        finally:
            memo.PlanMemo.get = original


@dataclass
class GroupStats:
    """What the jobs of one job group did, from the status store."""

    jobs: int = 0
    job_ms: float = 0.0  # union of job [submission, completion] intervals
    stages: int = 0  # stages that ran (not skipped)
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for lo, hi in sorted(intervals):
        if end is None or lo > end:
            total += hi - lo
            end = hi
        elif hi > end:
            total += hi - end
            end = hi
    return float(total)


def group_stats(spark: SparkSession, group: str) -> GroupStats:
    """Read one job group's jobs and stages from the status store. Call
    after ``drain`` so every task-end event has been applied."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    stage_defaults = (
        getattr(store, "stageData$default$3")(),
        getattr(store, "stageData$default$5")(),
    )
    out = GroupStats()
    intervals = []
    for jid in tracker.getJobIdsForGroup(group):
        out.jobs += 1
        job = store.job(jid)
        if job.submissionTime().isDefined() and job.completionTime().isDefined():
            intervals.append(
                (job.submissionTime().get().getTime(), job.completionTime().get().getTime())
            )
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info is not None else ():
            attempts = store.stageData(
                int(sid), False, stage_defaults[0], False, stage_defaults[1]
            ).iterator()
            while attempts.hasNext():
                s = attempts.next()
                if s.status().toString() == "SKIPPED":
                    continue
                out.stages += 1
                out.tasks += s.numCompleteTasks() + s.numFailedTasks()
                out.failed_tasks += s.numFailedTasks()
                out.run_ms += s.executorRunTime()
                out.cpu_ms += s.executorCpuTime() / 1e6
                out.gc_ms += s.jvmGcTime()
                out.shuffle_read += s.shuffleReadBytes()
                out.shuffle_write += s.shuffleWriteBytes()
                out.spill += s.diskBytesSpilled()
    out.job_ms = _union_ms(intervals)
    return out


def drain(spark: SparkSession) -> None:
    """Wait until the listener bus has delivered every event so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


#: ``cpuN`` lines of ``/proc/stat`` for the CPUs this process may run on
_CPU_LINES = {f"cpu{n}" for n in os.sched_getaffinity(0)}


def mark() -> tuple[float, int, int]:
    """Wall clock, and busy and steal clock ticks summed over the CPUs this
    process may run on. Steal is time a virtual CPU had work but the
    hypervisor ran another guest on its core."""
    busy = steal = 0
    with open("/proc/stat") as fh:
        for line in fh:
            f = line.split()
            if f[0] in _CPU_LINES:
                # user nice system idle iowait irq softirq steal ...
                busy += int(f[1]) + int(f[2]) + int(f[3]) + int(f[6]) + int(f[7])
                steal += int(f[8])
    return time.perf_counter(), busy, steal


def unstolen_s(start: tuple[float, int, int], end: tuple[float, int, int]) -> float:
    """Seconds between two ``mark``s less the share of them stolen.

    On a shared host the other guests' load changes from minute to minute,
    and the stolen share of the CPUs' wanted time (steal over busy plus
    steal) stretches wall times by as much. Taking it out leaves the time
    the program itself took; with no steal this is the wall time."""
    wall = end[0] - start[0]
    busy, steal = end[1] - start[1], end[2] - start[2]
    return wall * busy / (busy + steal) if steal > 0 else wall


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of ``VmHWM`` (peak resident set) over the given processes, MB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb * 1024 / 1e6
