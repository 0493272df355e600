"""Job-group tracing from outside the engine.

Before each call into an engine layer the benchmark opens a :class:`Tracer`
span, which tags every Spark job the call launches with a job group unique
to that span (``sc.setJobGroup``). After the traced run the tracer reads the
jobs of each group back from the status tracker and the driver's status
store -- executor run time, shuffle bytes, spill, JVM GC time and peak
execution memory per stage -- with the UI and the event log left off.

Spans (layer, start, end, parent, run id) are kept in memory; run.py
writes them out with the invocation's record when the benchmark ends.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Job:
    id: int
    name: str
    start: float
    end: float
    stages: list[int]
    #: executor run time of the stages this job ran first
    task_s: float = 0.0


@dataclass
class Span:
    layer: str
    start: float
    end: float
    parent: str | None
    run: int
    group: str
    jobs: list[Job] = field(default_factory=list)
    #: summed stage metrics of the span's jobs (see STAGE_FIELDS)
    stages: dict[str, float] = field(default_factory=dict)
    #: counts the benchmark records at the boundary (rows in, rows out, ...)
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start

    def job_busy(self) -> float:
        """Seconds of the span covered by at least one running job."""
        return covered((max(j.start, self.start), min(j.end, self.end)) for j in self.jobs)

    def driver_gap(self) -> float:
        """Span wall not covered by any of its jobs: Python, py4j, Catalyst
        analysis and planning, and scheduling between jobs."""
        return max(self.wall - self.job_busy(), 0.0)


#: StageData accessor -> (metric name, scale to seconds / bytes, reduce)
STAGE_FIELDS = {
    "executorRunTime": ("task_s", 1e-3, "sum"),
    "jvmGcTime": ("gc_s", 1e-3, "sum"),
    "shuffleReadBytes": ("shuffle_read_bytes", 1, "sum"),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1, "sum"),
    "memoryBytesSpilled": ("spill_bytes", 1, "sum"),
    "diskBytesSpilled": ("spill_bytes", 1, "sum"),
    "peakExecutionMemory": ("peak_exec_mem_bytes", 1, "max"),
    "outputBytes": ("output_bytes", 1, "sum"),
}


class Tracer:
    """Spans around engine calls, attributed to Spark jobs by job group."""

    def __init__(self, spark, run: int = 0, sample_storage: bool = True):
        self.sc = spark.sparkContext
        self.run = run
        self.sample_storage = sample_storage
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self._seq = 0

    @contextmanager
    def span(self, layer: str):
        """Tag the jobs launched inside the block with a fresh job group.
        Nested spans take over the group; the outer one resumes after."""
        self._seq += 1
        parent = self._open[-1].group if self._open else None
        sp = Span(layer, time.time(), 0.0, parent, self.run, f"{layer}#{self.run}.{self._seq}")
        self._open.append(sp)
        self.sc.setJobGroup(sp.group, layer)
        try:
            yield sp
        finally:
            sp.end = time.time()
            if self.sample_storage:
                sp.counts["storage_bytes"] = storage_bytes(self.sc)
            self._open.pop()
            if self._open:
                self.sc.setJobGroup(self._open[-1].group, self._open[-1].layer)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(sp)

    def note(self, **counts: float) -> None:
        """Add counts to the innermost open span."""
        if self._open:
            self._open[-1].counts.update(counts)

    def resolve(self) -> None:
        """Read each span's jobs and stage metrics from the status store.
        Call after the traced run, outside any timed window: it makes a few
        py4j calls per job and per stage."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for sp in self.spans:
            if sp.jobs:
                continue
            seen: set[int] = set()
            totals: dict[str, float] = {}
            for jid in sorted(tracker.getJobIdsForGroup(sp.group)):
                jd = store.job(jid)
                sub, done = jd.submissionTime(), jd.completionTime()
                start = sub.get().getTime() / 1e3 if sub.isDefined() else sp.start
                end = done.get().getTime() / 1e3 if done.isDefined() else sp.end
                ids = jd.stageIds()
                stages = [ids.apply(i) for i in range(ids.size())]
                job = Job(jid, jd.name(), start, end, stages)
                sp.jobs.append(job)
                for sid in stages:
                    if sid in seen:
                        continue
                    seen.add(sid)
                    try:
                        st = store.lastStageAttempt(sid)
                    except Exception:  # noqa: BLE001 - stage evicted from the store
                        continue
                    for acc, (name, scale, how) in STAGE_FIELDS.items():
                        v = getattr(st, acc)() * scale
                        totals[name] = max(totals.get(name, 0), v) if how == "max" else totals.get(name, 0) + v
                        if name == "task_s":
                            job.task_s += v
            sp.stages = totals


def storage_bytes(sc) -> int:
    """Bytes the block manager holds for persisted RDDs (memory + disk)."""
    return sum(i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo())


def persisted_rdds(sc) -> int:
    return len(sc._jsc.getPersistentRDDs())


#: job-name prefixes of the jobs that end a loop superstep: the checkpoint
#: of the new state (eager, or completed by the loop's convergence count --
#: Spark names both after the checkpoint)
BARRIERS = ("localCheckpoint", "checkpoint")


def supersteps(span: Span) -> list[list[Job]]:
    """The span's jobs cut into supersteps, each ending at a barrier job
    (see BARRIERS); jobs after the last barrier form a final row."""
    rows: list[list[Job]] = [[]]
    for job in sorted(span.jobs, key=lambda j: (j.start, j.id)):
        rows[-1].append(job)
        if job.name.startswith(BARRIERS):
            rows.append([])
    return [r for r in rows if r]


def covered(intervals) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
