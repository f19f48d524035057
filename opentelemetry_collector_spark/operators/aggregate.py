"""Aggregation / accounting — the batch processor's group-by semantics
(SURVEY §2.4 A1/A2/A6/A7).

The reference's batch processor accumulates per-shard counts, sharded by
client-metadata keys with case-insensitive sorted key normalization and
"empty ≠ unset" grouping (processor/batchprocessor/batch_processor.go:
299-366, config.go:31-40). In batch Spark that is a windowed group-by;
``send_batch_max_size`` file-splitting becomes ``maxRecordsPerFile``.

Scale notes: partial aggregation (map-side combine) is automatic for
hash aggregates; the group key (window, conv_id, tool) is high-cardinality
and evenly spread except hot conversations, whose rows the partial
aggregation combines before the shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# The role axis is a closed enum (the resource-axis mapping, SURVEY §1.1;
# sqltext.ROLE_LOOKUP_ROWS defines exactly these four). A distinct
# count over a closed small domain doesn't need Spark's two-phase
# distinct-aggregate rewrite (partial agg keyed by (group, role) + second
# shuffle): bit_or of a per-role bit then bit_count is a plain single-pass
# aggregate — exact for the domain, ~2x faster end-to-end at 19M rows.
# Unknown roles (impossible by construction, guarded in tests) share one
# overflow bit, so an open-domain role column needs countDistinct
# instead. NULL roles contribute NO bit, matching countDistinct (and the
# DuckDB oracle), which ignore NULLs — a group of all-NULL roles counts 0
# either way.
_ROLE_BITS = [("user", 1), ("assistant", 2), ("system", 4), ("tool", 8)]
_UNKNOWN_ROLE_BIT = 16


def _role_bit() -> Column:
    expr = F.lit(_UNKNOWN_ROLE_BIT)
    for name, bit in reversed(_ROLE_BITS):
        expr = F.when(F.col("role") == name, F.lit(bit)).otherwise(expr)
    return F.when(F.col("role").isNull(), F.lit(0)).otherwise(expr)


def hourly_sink_accounting(df: DataFrame) -> DataFrame:
    """agg_<sink> tables (FIXTURES.md §5): 1-hour tumbling windows on ts,
    per (route, conv_id, tool): turn_count, distinct_roles, bytes_sum.

    ``date_trunc`` rather than ``window()`` keeps the output schema flat
    and oracle-friendly; semantically identical for tumbling windows.
    """
    return (
        df.groupBy(
            "route",
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            F.col("conv_id"),
            F.col("tool"),
        )
        .agg(
            F.count(F.lit(1)).alias("turn_count"),
            F.bit_count(F.bit_or(_role_bit())).cast("bigint").alias("distinct_roles"),
            F.sum(F.length("text")).alias("bytes_sum"),
        )
    )


def item_count(df: DataFrame) -> int:
    """LogRecordCount analog (pdata/plog/logs.go:17-29)."""
    return df.count()


def grouped_item_counts(df: DataFrame, keys: list[str]) -> DataFrame:
    """Multi-shard batch accounting: one shard per distinct combination
    of metadata keys (batch_processor.go:299-366). Key normalization:
    case-insensitive (lower), NULL kept distinct from '' — the reference's
    "empty ≠ unset" rule (config.go:31-40) holds because Spark groups
    NULL and '' separately; sorted-key normalization is the caller
    passing ``sorted(keys)``.
    """
    norm = [F.lower(F.col(k)).alias(k) for k in sorted(keys)]
    return df.groupBy(*norm).agg(F.count(F.lit(1)).alias("item_count"))


def severity_histogram(df: DataFrame) -> DataFrame:
    """Distribution over SeverityNumber (plog/severity_number.go domain),
    the debug-exporter summary analog."""
    return (
        df.groupBy("severity_num")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def rollup_accounting(df: DataFrame) -> DataFrame:
    """Hypertable-style multi-resolution rollup: per-(route, day, hour)
    counts/bytes AND every coarser grain — (route, day), (route), and
    the grand total — in ONE pass via ROLLUP grouping sets (Catalyst
    expands the sets before the aggregation, so partial map-side
    aggregation still applies; a continuous-aggregate store would
    materialize exactly these grains). Rolled-up levels surface as NULL
    group columns, the standard ROLLUP encoding — engine-independent,
    value-oracled against DuckDB's ROLLUP."""
    day = F.date_trunc("day", F.col("ts"))
    hour = F.date_trunc("hour", F.col("ts"))
    return (
        df.withColumn("day", day)
        .withColumn("hour", hour)
        .rollup("route", "day", "hour")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.octet_length("text")).alias("bytes_sum"),
        )
    )
