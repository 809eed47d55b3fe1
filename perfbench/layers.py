"""Per-layer readings taken from outside the program.

Spark jobs are attributed by job-id RANGE, not by job group: a job
submitted from a plain Python thread pool does not carry the caller's
job group, while every job a single client causes between two marks
has an id between them, whichever thread submitted it.  Stage metrics
come from Spark's status store (``AppStatusStore``), which is
populated with the UI off; the traced session raises its retention so
no job or stage of a query is dropped before it is read.
"""

from __future__ import annotations

import statistics
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

#: session conf for traced runs only.  Stage metrics are read after
#: every query, but one query can launch ~100 jobs with more stages than
#: that, over the engine's retention of 100 each.
TRACE_CONF = {
    "spark.ui.retainedJobs": "10000",
    "spark.ui.retainedStages": "10000",
}


@dataclass
class JobStats:
    """Totals over a set of Spark jobs."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    #: (submission, completion) per job, epoch seconds
    intervals: list[tuple[float, float]] = field(default_factory=list)

    def job_s(self) -> float:
        return sum(b - a for a, b in self.intervals)

    def union_s(self) -> float:
        """Length of the union of the job intervals."""
        total, end = 0.0, float("-inf")
        for a, b in sorted(self.intervals):
            if b > end:
                total += b - max(a, end)
                end = b
        return total


class JobLedger:
    """Marks job-id positions and reads the jobs between two marks."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()  # noqa: SLF001 - status store lives on the JVM context
        self._store = self._jsc.statusStore()
        self._next = 0
        self.mark()

    def mark(self) -> int:
        """Id one past the last job submitted so far."""
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        while tracker.getJobInfo(self._next) is not None:
            self._next += 1
        return self._next

    def stats(self, lo: int, hi: int) -> JobStats:
        """Totals over jobs ``lo <= id < hi``; a stage shared by two jobs
        counts once, and skipped stages (shuffle output reused) not at all."""
        self._jsc.listenerBus().waitUntilEmpty()
        out = JobStats()
        seen: set[int] = set()
        for jid in range(lo, hi):
            job = self._store.job(jid)
            out.jobs += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out.intervals.append(
                    (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
                )
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    stage = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # evicted: an old stage this job reused
                    continue
                if stage.status().toString() == "SKIPPED":
                    continue
                out.stages += 1
                out.tasks += stage.numTasks()
                out.executor_s += stage.executorRunTime() / 1e3
                out.gc_s += stage.jvmGcTime() / 1e3
                out.shuffle_write_bytes += stage.shuffleWriteBytes()
                out.spill_bytes += stage.memoryBytesSpilled() + stage.diskBytesSpilled()
        return out


def plan_phases_s(df) -> float:
    """Analysis + optimisation + planning seconds of ``df``'s own
    ``QueryExecution``, forcing physical planning if it has not run."""
    qe = df._jdf.queryExecution()  # noqa: SLF001 - Catalyst tracker is JVM-only
    qe.executedPlan()
    phases = qe.tracker().phases()
    return sum(
        phases.apply(p).durationMs()
        for p in ("analysis", "optimization", "planning")
        if phases.contains(p)
    ) / 1e3


def heap_after_gc_mb(spark) -> float:
    """JVM used heap after full ``System.gc()`` calls, MB.

    Blocks of dropped checkpoints are freed by Spark's context cleaner
    only after a GC has found their RDDs unreachable, so collect until
    the reading settles (at most five rounds)."""
    import gc

    gc.collect()  # drop Python-held JVM references first
    jvm = spark._jvm  # noqa: SLF001
    rt = jvm.java.lang.Runtime.getRuntime()
    last = float("inf")
    for _ in range(5):
        jvm.java.lang.System.gc()
        used = (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
        if abs(last - used) < 1.0:
            break
        last = used
        time.sleep(0.2)
    return used


class Spans:
    """In-memory span log: (id, parent, name, start, end, attrs), epoch
    seconds; span 0 is the workload.  Written out once, when the run
    ends."""

    def __init__(self):
        self.rows: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        self.rows.append(
            {"id": len(self.rows), "parent": parent, "name": name,
             "start": start, "end": end, **attrs}
        )
        return len(self.rows) - 1

    def open(self, name: str, parent: int | None = None, **attrs) -> int:
        return self.add(name, time.time(), float("nan"), parent, **attrs)

    def close(self, sid: int, **attrs) -> None:
        self.rows[sid]["end"] = time.time()
        self.rows[sid].update(attrs)


def pct(values: list[float], q: float) -> float:
    """Inclusive-method percentile ``q`` in (0, 100) of ``values``."""
    if len(values) == 1:
        return float(values[0])
    cuts = statistics.quantiles(values, n=100, method="inclusive")
    return cuts[round(q) - 1]
