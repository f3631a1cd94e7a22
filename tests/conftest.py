from __future__ import annotations

import sys
import uuid
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


@pytest.fixture(scope="session")
def spark():
    from mario_spark.session import get_spark

    s = get_spark("mario_spark_tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def job_count(spark):
    """job_count(fn): the Spark jobs that `fn()` launches, counted
    through a fresh job group."""

    def count(fn) -> int:
        sc = spark.sparkContext
        group = f"job-count-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # the status tracker learns of jobs from the asynchronous
        # listener bus: drain it so the last job is counted
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
