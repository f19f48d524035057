"""Partitioning, skew handling, and plan hygiene (SURVEY §2.4 A5, §4).

The reference shards work by metadata key with one serial state per
shard (batch_processor.go:299-366, multi_batcher.go:22-70) and has no
skew story. Our Spark mapping adds the two things that matter at
100 TB:

* **salted per-conversation aggregation** — a hot conversation
  (10^6 turns) would pin one task; salting splits it into
  ``n_salts`` subgroups that aggregate independently, then merge.
  Two-phase aggregation: the classic partial/final split the
  reference's per-shard accumulation approximates in miniature.
* **plan hygiene checks** — machine-checkable guards that the plan is
  the one we want: no row-at-a-time Python (`BatchEvalPython`), filters
  pushed into the scan (`PushedFilters`), broadcast joins where
  expected. Used by tests and CI, the .explain() analog of the
  reference's lint-by-test approach.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_group_count(
    df: DataFrame, key: str = "conv_id", n_salts: int = 16
) -> DataFrame:
    """Two-phase skew-proof count per key: partial count per (key, salt)
    then final sum per key. Same result as groupBy(key).count(), but a
    hot key fans across n_salts tasks in phase 1."""
    partial = (
        df.withColumn("__salt", (F.abs(F.hash(F.col(key), F.col("turn_idx"))) % n_salts))
        .groupBy(key, "__salt")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return partial.groupBy(key).agg(F.sum("c").alias("turn_count"))


# --- plan hygiene -----------------------------------------------------------

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
