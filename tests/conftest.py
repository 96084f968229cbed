"""Shared Spark session for the test suite (one JVM for all tests)."""

from __future__ import annotations

import uuid

import pytest

from sssom_curator_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # tiny fixtures: 8 shuffle partitions keeps the many-stage DAGs snappy
    s = get_spark(
        app_name="sssom-curator-spark-tests",
        master="local[4]",
        extra={"spark.sql.shuffle.partitions": "8"},
    )
    yield s
    s.stop()


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn`` under a fresh job group and returns
    ``(fn's result, number of Spark jobs it started)``."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
