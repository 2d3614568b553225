"""Per-job and per-stage counters read from Spark's in-process status store.

``sc._jsc.sc().statusStore()`` answers without the web UI or its REST server
(the sessions here run with ``spark.ui.enabled=false``). An operation owns
every job with an id at or above the next job id read when it started (one
operation runs at a time). Inside a traced operation jobs are attributed to
spans by job group rather than by job-id range: ``validate()`` runs two
layers from a thread pool, and the jobs of a span's thread carry the span's
name while jobs other threads launch meanwhile do not.

A stage is counted once per operation, in the first job that lists it, and
only if it ran: a job that reuses a shuffle lists the map side again, as a
stage with status SKIPPED (AQE does this for every result job).

Reads are counted in records, not bytes: on this Spark the parquet scan
reports only the footer bytes it reads as ``inputBytes`` (a 3.6 MB table
scanned in full reports 20 KB whichever columns are read), while
``inputRecords`` counts every row the scan returns.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Counters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    cpu_s: float = 0.0  # executorCpuTime: JVM task threads only
    run_s: float = 0.0  # executorRunTime: task wall time, summed over tasks
    input_rows: int = 0  # records read from storage (see the module docstring)
    shuffle_bytes: int = 0  # read + write
    spill_bytes: int = 0  # memory + disk

    def add(self, other: "Counters") -> None:
        for name in self.__dataclass_fields__:
            setattr(self, name, getattr(self, name) + getattr(other, name))


@dataclass
class JobSet:
    """The jobs of one operation: totals, and counters per job group."""

    total: Counters = field(default_factory=Counters)
    by_group: dict[str, Counters] = field(default_factory=dict)


class StatusStore:
    def __init__(self, sc):
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()

    def _drain(self) -> None:
        # job/stage end events reach the store through the listener bus,
        # asynchronously to the action that produced them
        self._sc.listenerBus().waitUntilEmpty()

    def next_job_id(self) -> int:
        self._drain()
        jobs = self._store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() + 1 if jobs.size() else 0

    def jobs_since(self, first_job_id: int) -> JobSet:
        """Counters of every job with an id >= ``first_job_id``."""
        self._drain()
        listed = self._store.jobsList(None)
        jobs = []
        for i in range(listed.size()):
            job = listed.apply(i)
            if job.jobId() < first_job_id:
                break
            jobs.append(job)
        out, seen = JobSet(), set()
        for job in reversed(jobs):  # oldest first: a stage belongs to its first job
            c = Counters(jobs=1)
            ids = job.stageIds()
            for k in range(ids.size()):
                stage_id = ids.apply(k)
                if stage_id not in seen:
                    seen.add(stage_id)
                    c.add(self._stage(stage_id))
            out.total.add(c)
            group = job.jobGroup()
            if group.isDefined():
                out.by_group.setdefault(group.get(), Counters()).add(c)
        return out

    def _stage(self, stage_id: int) -> Counters:
        try:
            st = self._store.lastStageAttempt(stage_id)
        except Py4JJavaError:  # evicted from the store: nothing to count
            return Counters()
        if st.status().toString() == "SKIPPED":
            return Counters()
        return Counters(
            stages=1,
            tasks=st.numTasks(),
            cpu_s=st.executorCpuTime() / 1e9,
            run_s=st.executorRunTime() / 1e3,
            input_rows=st.inputRecords(),
            shuffle_bytes=st.shuffleReadBytes() + st.shuffleWriteBytes(),
            spill_bytes=st.memoryBytesSpilled() + st.diskBytesSpilled(),
        )
