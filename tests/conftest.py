from __future__ import annotations

import uuid

import pytest

from binlogsub_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="binlogsub-tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


def _jobs_of(spark, fn) -> list[int]:
    """Ids of the Spark jobs launched while ``fn`` runs (job group on this
    thread), oldest first."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group, interruptOnCancel=False)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status tracker is fed by the listener bus asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)``: Spark jobs launched while ``fn`` runs."""
    return lambda fn: len(_jobs_of(spark, fn))


@pytest.fixture
def last_stage_tasks(spark):
    """``last_stage_tasks(fn)``: tasks of the result stage of the last
    Spark job ``fn`` launches (for a write, the write stage)."""

    def _tasks(fn) -> int:
        tracker = spark.sparkContext.statusTracker()
        job = tracker.getJobInfo(_jobs_of(spark, fn)[-1])
        return tracker.getStageInfo(max(job.stageIds)).numTasks

    return _tasks
