from __future__ import annotations

import uuid

import pytest

from graphrag_toolkit_spark.session import build_session


@pytest.fixture(scope="session")
def spark():
    s = build_session("tests", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def jobs_submitted(spark):
    """``jobs_submitted(fn)``: the Spark jobs ``fn()`` submits, counted
    under a fresh job group."""
    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
