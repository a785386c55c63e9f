from __future__ import annotations

import uuid

import pytest

from binlogsub_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="binlogsub-tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)``: Spark jobs launched while ``fn`` runs (job group
    on this thread)."""

    def _count(fn) -> int:
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
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return _count
