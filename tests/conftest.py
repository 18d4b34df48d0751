from __future__ import annotations

import pytest

from graphrag_toolkit_spark.measure import measured
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
    """``jobs_submitted(fn)``: the Spark jobs ``fn()`` submits, counted by
    ``measure.measured``; an exception from ``fn`` is raised."""

    def count(fn) -> int:
        rec = measured(spark, "jobs_submitted", fn, lambda _: None)
        if rec.error is not None:
            raise rec.error
        return rec.jobs

    return count
