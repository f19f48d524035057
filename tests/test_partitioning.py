"""Plan hygiene: broadcast enrich, no row-wise Python, filter
pushdown.

The plan checks are machine-checkable guards that the plan is the one
we want, the .explain() analog of the reference's lint-by-test
approach."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from opentelemetry_collector_spark.operators import enrich as enrich_ops
from opentelemetry_collector_spark.operators import parse as parse_ops
from opentelemetry_collector_spark.sources import (
    derive_transcripts,
    role_lookup_df,
    tool_lookup_df,
)


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def assert_no_rowwise_python(df: DataFrame) -> None:
    """The input_hint's 'no per-row Python' rule, machine-checked:
    BatchEvalPython (pickled row-at-a-time UDF) must not appear.
    ArrowEvalPython / MapInPandas (vectorized) are allowed."""
    plan = physical_plan(df)
    if "BatchEvalPython" in plan:
        raise AssertionError(f"row-at-a-time Python UDF in plan:\n{plan}")


def assert_filter_pushed(df: DataFrame, fragment: str) -> None:
    """Assert a predicate reached the parquet scan (PushedFilters)."""
    plan = formatted_plan(df)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    if not any(fragment in ln for ln in pushed):
        raise AssertionError(
            f"filter {fragment!r} not pushed to scan; PushedFilters lines: {pushed}"
        )


def assert_broadcast_join(df: DataFrame, expected: int = 1) -> None:
    plan = physical_plan(df)
    n = plan.count("BroadcastHashJoin")
    if n < expected:
        raise AssertionError(f"expected ≥{expected} BroadcastHashJoin, got {n}:\n{plan}")


def test_enrich_is_broadcast_and_python_free(spark, sf_dir):
    df = enrich_ops.enrich_stage(
        parse_ops.parse_stage(derive_transcripts(spark, sf_dir)),
        tool_lookup_df(spark),
        role_lookup_df(spark),
    )
    assert_broadcast_join(df, expected=2)
    assert_no_rowwise_python(df)


def test_filter_pushdown_to_parquet(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    df = ev.filter(F.col("event_type") == "error").select("event_id", "event_type")
    assert_filter_pushed(df, "event_type")
    # column pruning: scan schema must not include unused columns
    plan = formatted_plan(df)
    assert "props" not in plan.split("ReadSchema")[1].splitlines()[0]

