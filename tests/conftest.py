from __future__ import annotations

import contextlib
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


@pytest.fixture
def receiver_rows(monkeypatch):
    """``with receiver_rows(df):`` makes every receiver that
    plans/config.run builds (run_pipeline's included) scan ``df``."""
    from opentelemetry_collector_spark.plans import config

    @contextlib.contextmanager
    def scan(df):
        with monkeypatch.context() as m:
            m.setattr(config, "_make_receiver", lambda cid, opts, spark: df)
            yield

    return scan


@pytest.fixture
def crash_after_ack(monkeypatch):
    """``with crash_after_ack(stage):`` makes ``CheckpointStore.commit``
    raise right after ``stage``'s ack is written — the kill point of a
    crash/resume test (receiver/receivertest/contract_checker.go:75-120)."""
    from opentelemetry_collector_spark.plans.checkpoint import CheckpointStore

    commit = CheckpointStore.commit

    @contextlib.contextmanager
    def crash(stage: str):
        def commit_then_crash(self, acked: str, *args, **kwargs):
            commit(self, acked, *args, **kwargs)
            if acked == stage:
                raise RuntimeError(f"injected failure after stage {acked}")

        with monkeypatch.context() as m:
            m.setattr(CheckpointStore, "commit", commit_then_crash)
            yield

    return crash
