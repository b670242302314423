"""Spark job attribution read from outside the program: the JVM status
store lists every job with its submission and completion time, including
jobs launched from streaming threads, so a time window can be charged with
the jobs submitted in it."""

from __future__ import annotations

import dataclasses
import time


@dataclasses.dataclass
class Job:
    job_id: int
    start: float  # epoch seconds, as time.time()
    end: float
    tasks: int
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    output_bytes: int = 0
    output_records: int = 0


class JobLog:
    """Incremental reader of finished jobs from ``statusStore()``."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        jobs = self._store.jobsList(None)
        self.last_id = jobs.apply(0).jobId() if jobs.size() else -1

    def new_jobs(self) -> list[Job]:
        """Jobs submitted since the previous call, oldest first."""
        jobs = self._store.jobsList(None)  # newest first
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= self.last_id:
                break
            out.append(self._job(j))
        if out:
            self.last_id = out[0].job_id
        return out[::-1]

    def _job(self, j) -> Job:
        sub = j.submissionTime()
        done = j.completionTime()
        start = sub.get().getTime() / 1000.0 if sub.isDefined() else time.time()
        end = done.get().getTime() / 1000.0 if done.isDefined() else time.time()
        job = Job(j.jobId(), start, max(start, end), j.numCompletedTasks())
        ids = j.stageIds()
        for k in range(ids.size()):
            attempts = self._store.stageData(
                ids.apply(k), False, None, False, self._no_quantiles)
            for a in range(attempts.size()):
                s = attempts.apply(a)
                job.input_bytes += s.inputBytes()
                job.shuffle_write_bytes += s.shuffleWriteBytes()
                job.output_bytes += s.outputBytes()
                job.output_records += s.outputRecords()
        return job


def union_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def window_summary(jobs: list[Job], lo: float, hi: float) -> dict:
    """Jobs submitted in [lo, hi] and how the window splits into time
    covered by them and time between them."""
    mine = [j for j in jobs if lo <= j.start <= hi]
    in_jobs = union_seconds([(j.start, j.end) for j in mine], lo, hi)
    return {
        "jobs": len(mine),
        "in_jobs_s": in_jobs,
        "between_jobs_s": max(0.0, (hi - lo) - in_jobs),
        "tasks": sum(j.tasks for j in mine),
        "input_bytes": sum(j.input_bytes for j in mine),
        "shuffle_write_bytes": sum(j.shuffle_write_bytes for j in mine),
        "output_bytes": sum(j.output_bytes for j in mine),
        "output_records": sum(j.output_records for j in mine),
    }


def stream_summary(query) -> dict:
    """Micro-batch planning cost from the public ``recentProgress``: the
    Python DataSource plans offsets and partitions in Spark-launched
    processes that no in-process wrapper can see."""
    out = {"batches": 0, "latest_offset_ms": 0.0, "query_planning_ms": 0.0,
           "add_batch_ms": 0.0}
    for p in query.recentProgress:
        d = p.durationMs or {}
        out["batches"] += 1 if p.numInputRows else 0
        out["latest_offset_ms"] += d.get("latestOffset", 0)
        out["query_planning_ms"] += d.get("queryPlanning", 0)
        out["add_batch_ms"] += d.get("addBatch", 0)
    return out
