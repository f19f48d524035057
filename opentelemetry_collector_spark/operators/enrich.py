"""Enrichment stage — resource/attributes processor analog (SURVEY §2.2 P2/P3).

The reference attaches resource-style attributes to records
(docs/rfcs/processing.md:84-90,204-209). Spark-first expression: a
**broadcast hash join** against tiny dimension tables — no shuffle, the
dimension ships once per executor, and the probe stays inside
whole-stage codegen. At 1000 executors over 100 TB this is the only
join strategy that doesn't move the fact table. The OTTL-style
attribute ops (docs/rfcs/processing.md:147-216) live in
operators/attributes.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def enrich_stage(df: DataFrame, tool_lookup: DataFrame, role_lookup: DataFrame) -> DataFrame:
    """Left-join both lookups (broadcast), add ``enrich_miss`` flag.

    Left join: a missing key yields NULL enrichment columns and
    enrich_miss=true; rows are never dropped or duplicated (the
    processor contract — enrichment must not lose or invent data). Each
    lookup is deduplicated on its key first, so a key listed twice
    attaches its first row instead of fanning the turn out. The
    ``coalesce(1)`` keeps that dedupe a single task with no shuffle.

    The dedupe Aggregate also tells Catalyst the lookup is unique on its
    key, so a left join whose lookup columns no consumer reads is
    removed from the optimized plan (the accounting chain keeps no
    join); a plan that writes the lookup columns keeps its broadcast
    hash join.

    The broadcast hint is governed by the engine.broadcastEnrich
    feature gate (beta, default on). Disabling it drops the explicit
    hint and lets AQE/size thresholds pick the join strategy — the
    escape hatch for a lookup that outgrew executor memory.
    """
    from opentelemetry_collector_spark.plans.featuregate import (
        global_registry,
    )

    tool_lookup = tool_lookup.coalesce(1).dropDuplicates(["tool"])
    role_lookup = role_lookup.coalesce(1).dropDuplicates(["role"])
    if global_registry().is_enabled("engine.broadcastEnrich"):
        tool_lookup = F.broadcast(tool_lookup)
        role_lookup = F.broadcast(role_lookup)
    out = (
        df.join(tool_lookup, "tool", "left")
        .join(role_lookup, "role", "left")
        .withColumn(
            "enrich_miss",
            F.col("tool_category").isNull() | F.col("role_kind").isNull(),
        )
    )
    return out

