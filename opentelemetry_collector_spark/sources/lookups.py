"""Enrichment lookup tables (broadcast-join right sides).

The reference's resource/attributes enrichment attaches environment
attributes onto each record (docs/rfcs/processing.md:84-90,204-209). Our
lookups are tiny dimension tables, always broadcast — never shuffled.

Each lookup has one definition, the VALUES SQL in sqltext, which the
DuckDB oracle inlines too. Spark plans it as a driver-local
``LocalRelation`` (every column non-null, ``is_privileged`` boolean), so
broadcasting it is one short JVM collect with no Python worker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from opentelemetry_collector_spark.sqltext import ROLE_LOOKUP_SQL, TOOL_LOOKUP_SQL


def tool_lookup_df(spark: SparkSession) -> DataFrame:
    return spark.sql(TOOL_LOOKUP_SQL)


def role_lookup_df(spark: SparkSession) -> DataFrame:
    return spark.sql(ROLE_LOOKUP_SQL)
