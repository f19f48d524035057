from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from opentelemetry_collector_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="otelcol-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def contract_sf_dir():
    """sf0.01, the scale the contract entries are checked at, next to SF_DIR."""
    return os.path.join(os.path.dirname(SF_DIR), "sf0.01")


@pytest.fixture(scope="session")
def jobs_of(spark):
    """``jobs_of(group, fn)``: the number of Spark jobs ``fn()`` runs."""

    def count(group: str, fn) -> int:
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
