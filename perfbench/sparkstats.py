"""Spark-side counters for one job group, read back after the call.

The benchmark sets a job group around each call into the program. Once
the listener bus has drained, the group's jobs and their stages are
read through ``statusTracker()`` and the application status store,
which work with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# counter name -> (StageData accessors summed, scale to the unit)
STAGE_FIELDS = {
    "executor_run_s": (("executorRunTime",), 1e-3),
    "executor_cpu_s": (("executorCpuTime",), 1e-9),
    "input_bytes": (("inputBytes",), 1),
    "shuffle_read_bytes": (("shuffleReadBytes",), 1),
    "shuffle_write_bytes": (("shuffleWriteBytes",), 1),
    "spill_bytes": (("memoryBytesSpilled", "diskBytesSpilled"), 1),
    "output_bytes": (("outputBytes",), 1),
    "tasks": (("numTasks",), 1),
    "failed_tasks": (("numFailedTasks",), 1),
}
COUNTERS = ("jobs", "stages", *STAGE_FIELDS)


@contextmanager
def job_group(spark, group: str):
    """Tag every job this thread starts inside the block with ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield group
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def drain_listener(spark) -> None:
    """Wait until the status store has seen every finished job."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def group_counters(spark, group: str) -> dict[str, float]:
    """Jobs, stages and summed stage metrics of one job group. Stages
    that were skipped (their shuffle output was reused) are not
    counted."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    out = dict.fromkeys(COUNTERS, 0.0)
    stage_ids: set[int] = set()
    for job in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(job)
        if info is not None:
            stage_ids.update(info.stageIds)
    store = sc._jsc.sc().statusStore()
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # never submitted: no attempt recorded
            continue
        if st.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        for name, (fields, scale) in STAGE_FIELDS.items():
            out[name] += sum(getattr(st, f)() for f in fields) * scale
    return out


def persisted_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def release_caches(spark) -> None:
    """Drop every cached table and persisted RDD with Spark's own APIs."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
