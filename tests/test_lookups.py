"""The enrich lookups: one VALUES definition shared with the DuckDB
oracle, planned by Spark as driver-local relations, so broadcasting them
runs no Python worker (the reference's attributes/resource processors
attach attributes from in-process config the same way)."""

from __future__ import annotations

import pytest
from pyspark.sql.types import BooleanType, StringType, StructField, StructType

from opentelemetry_collector_spark.operators import enrich as enrich_ops
from opentelemetry_collector_spark.operators import parse as parse_ops
from opentelemetry_collector_spark.sources import (
    derive_transcripts,
    role_lookup_df,
    tool_lookup_df,
)
from opentelemetry_collector_spark.sqltext import ROLE_LOOKUP_ROWS, TOOL_LOOKUP_ROWS

TOOL_SCHEMA = StructType(
    [
        StructField("tool", StringType(), False),
        StructField("tool_category", StringType(), False),
        StructField("tool_owner", StringType(), False),
        StructField("is_privileged", BooleanType(), False),
    ]
)

ROLE_SCHEMA = StructType(
    [
        StructField("role", StringType(), False),
        StructField("role_kind", StringType(), False),
        StructField("billing_class", StringType(), False),
    ]
)


def _leaf_nodes(df) -> list[str]:
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return [leaves.apply(i).nodeName() for i in range(leaves.size())]


@pytest.mark.parametrize(
    "lookup, schema, rows",
    [
        (tool_lookup_df, TOOL_SCHEMA, TOOL_LOOKUP_ROWS),
        (role_lookup_df, ROLE_SCHEMA, ROLE_LOOKUP_ROWS),
    ],
    ids=["tool", "role"],
)
def test_lookup_is_a_local_relation(spark, lookup, schema, rows):
    df = lookup(spark)
    assert _leaf_nodes(df) == ["LocalRelation"]
    assert df.schema == schema
    assert [tuple(r) for r in df.collect()] == rows


def test_flagship_enrich_scans_no_python_rows(spark, sf_dir):
    """A pickled-row ``LogicalRDD`` under a broadcast runs a Python
    worker job before the first real stage of every enriching plan."""
    df = enrich_ops.enrich_stage(
        parse_ops.parse_stage(derive_transcripts(spark, sf_dir)),
        tool_lookup_df(spark),
        role_lookup_df(spark),
    )
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    assert "ExistingRDD" not in plan, plan
    assert final.count("LocalTableScan") == 2, plan


@pytest.mark.parametrize("rows", [TOOL_LOOKUP_ROWS, ROLE_LOOKUP_ROWS], ids=["tool", "role"])
def test_shipped_lookup_keys_are_unique(rows):
    """The enrich dedupe is the identity on the shipped lookups, so the
    oracle's plain VALUES join attaches the same rows."""
    keys = [r[0] for r in rows]
    assert len(keys) == len(set(keys))


def test_duplicate_lookup_key_never_duplicates_a_turn(spark):
    """A tool lookup that lists ``search`` twice still enriches each
    turn exactly once."""
    turns = spark.createDataFrame(
        [("c1", 0, "user", "search"), ("c1", 1, "tool", "python")],
        "conv_id string, turn_idx int, role string, tool string",
    )
    tools = tool_lookup_df(spark)
    doubled = tools.unionByName(tools.filter("tool = 'search'"))
    out = enrich_ops.enrich_stage(turns, doubled, role_lookup_df(spark))
    got = sorted((r["turn_idx"], r["tool_category"]) for r in out.collect())
    want = {t: c for t, c, _, _ in TOOL_LOOKUP_ROWS}
    assert got == [(0, want["search"]), (1, want["python"])]
