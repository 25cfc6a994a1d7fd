"""Spark work done in a window of jobs, read from the in-process status store.

``mark(spark)`` returns the newest job id; ``since(spark, mark)`` folds every
job with a larger id into one record of :data:`FIELDS`. Both read the driver
JVM's ``SparkContext.statusStore`` after draining the listener bus (job-end
events land asynchronously), so they work with the UI off and run no job.
A window is a range of job ids, not a job group, so callers' job groups are
left alone; jobs that other threads submit inside the window count too.
"""

from __future__ import annotations

from typing import Any

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

FIELDS = (
    "jobs",
    "job_s",
    "cpu_s",
    "task_s",
    "shuffle_bytes",
    "spill_bytes",
    "failed_tasks",
    "max_rows_per_task",
)


def _store(spark: SparkSession):
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    return sc.statusStore()


def mark(spark: SparkSession) -> int:
    """The newest job id so far, or -1 before the first job."""
    jobs = _store(spark).jobsList(None)  # newest first
    return jobs.apply(0).jobId() if jobs.size() else -1


def since(spark: SparkSession, mark: int) -> dict[str, Any]:
    """Fold the jobs with an id greater than ``mark``.

    ``job_s`` is the union of the jobs' submission-to-completion spans, so
    the window's wall time minus ``job_s`` is driver-only time. The executor
    sums come from each Spark stage's last attempt, a stage shared by
    several jobs counted once (a stage skipped because an earlier job wrote
    its shuffle has a new id and zero metrics). ``max_rows_per_task`` is the
    largest per-stage ⌈rows read (input + shuffle) / tasks⌉: a one-task
    stage that reads a whole table shows that table's row count."""
    store = _store(spark)
    jobs = store.jobsList(None)  # newest first
    out = dict.fromkeys(FIELDS, 0)
    spans: list[tuple[int, int]] = []
    seen: set[int] = set()
    cpu_ns = run_ms = 0
    for i in range(jobs.size()):
        job = jobs.apply(i)
        if job.jobId() <= mark:
            break
        out["jobs"] += 1
        start, end = job.submissionTime(), job.completionTime()
        if start.isDefined() and end.isDefined():
            spans.append((start.get().getTime(), end.get().getTime()))
        ids = job.stageIds()
        for k in range(ids.size()):
            sid = ids.apply(k)
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage evicted from the store
                continue
            cpu_ns += st.executorCpuTime()
            run_ms += st.executorRunTime()
            out["shuffle_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["failed_tasks"] += st.numFailedTasks()
            if st.numTasks() > 0:
                rows = st.inputRecords() + st.shuffleReadRecords()
                out["max_rows_per_task"] = max(out["max_rows_per_task"], -(-rows // st.numTasks()))
    covered_ms, end_ms = 0, float("-inf")
    for a, b in sorted(spans):
        covered_ms += max(0, b - max(a, end_ms))
        end_ms = max(end_ms, b)
    out["job_s"] = round(covered_ms / 1e3, 3)
    out["cpu_s"] = round(cpu_ns / 1e9, 3)
    out["task_s"] = round(run_ms / 1e3, 3)
    return out
