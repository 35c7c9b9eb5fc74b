from __future__ import annotations

import pytest

from clip_as_service_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def jobs_started(spark):
    """→ ``count(fn)``: the number of Spark jobs ``fn()`` starts, counted
    through a job group."""
    import uuid

    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"count-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "job count")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
