from __future__ import annotations

import pytest

from clip_as_service_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def job_stages(spark):
    """→ ``stages(fn)``: the stage count of each Spark job ``fn()`` starts,
    counted through a job group."""
    import uuid

    sc = spark.sparkContext

    def stages(fn) -> list[int]:
        group = f"count-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "job count")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        tracker = sc.statusTracker()
        return [
            len(tracker.getJobInfo(j).stageIds)
            for j in tracker.getJobIdsForGroup(group)
        ]

    return stages


@pytest.fixture
def jobs_started(job_stages):
    """→ ``count(fn)``: the number of Spark jobs ``fn()`` starts."""
    return lambda fn: len(job_stages(fn))
