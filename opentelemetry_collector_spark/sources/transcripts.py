"""Sources — the receiver analog.

The reference's receivers decode pushed OTLP requests into pdata batches
(receiver/otlpreceiver/internal/logs/otlp.go:33-56). In a batch engine
the source is a table scan: Catalyst pushes filters and prunes columns
into the parquet/Iceberg reader, which is the moral equivalent of the
receiver's decode step but pull-based and distributed.

Two transcript sources:

* :func:`derive_transcripts` — deterministic derivation from the
  driver-provided ``events`` table, shared verbatim with the DuckDB
  oracle (sqltext.TRANSCRIPTS_SQL) so correctness is checked end to end.
* :func:`synth_transcripts` — a pure ``spark.range`` generator that
  scales to arbitrarily many turns with zero input I/O and no Python in
  the row path; used by the bench to size the workload independently of
  the testdata scale factor (the reference's testdata generators play
  this role: pdata/testdata/log.go:13-57, seeded + pinned timestamps).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opentelemetry_collector_spark.sqltext import transcripts_sql

TRANSCRIPT_COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

_ROLES = ["user", "assistant", "system", "tool"]
_TOOLS = ["search", "browser", "python", "editor", "none"]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one driver testdata table (parquet; Iceberg catalog on a real
    deployment — same declarative scan, same pushdown)."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def derive_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool, ts) derived from
    the events table — identical in Spark and in the DuckDB oracle."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("__events_src")
    return spark.sql(transcripts_sql("__events_src"))


def synth_transcripts(
    spark: SparkSession,
    n_conversations: int = 10_000,
    mean_turns: int = 16,
    hot_conversations: int = 3,
    hot_turns: int = 50_000,
    partitions: int | None = None,
) -> DataFrame:
    """Seeded, fully deterministic transcripts at arbitrary scale.

    Entirely JVM-side (spark.range + column expressions → whole-stage
    codegen); generating 10^9 turns is embarrassingly parallel. A few
    conversations get ``hot_turns`` turns to exercise the skew path
    (partial aggregation, AQE), mirroring FIXTURES.md §1's Zipf requirement.
    """
    n_base = n_conversations * mean_turns
    base = spark.range(0, n_base, 1, partitions or spark.sparkContext.defaultParallelism)
    base = base.select(
        (F.col("id") % n_conversations).alias("conv"),
        (F.col("id") / n_conversations).cast("int").alias("turn_idx"),
        F.col("id").alias("seq"),
    )
    if hot_conversations > 0 and hot_turns > 0:
        hot = spark.range(0, hot_conversations * hot_turns, 1,
                          partitions or spark.sparkContext.defaultParallelism)
        # hot conversations EXTEND base conversations 0..hot-1: turn_idx
        # continues densely after the base turns (keeps (conv_id, turn_idx)
        # unique — the UniqueIDAttrName invariant).
        hot = hot.select(
            (F.col("id") % hot_conversations).alias("conv"),
            ((F.col("id") / hot_conversations).cast("int") + mean_turns).alias("turn_idx"),
            (F.col("id") + n_base).alias("seq"),
        )
        base = base.unionByName(hot)

    # Deterministic pseudo-random fields from multiplicative hashing of
    # seq — stable across runs, partitioning, and cluster sizes.
    h = (F.col("seq") * F.lit(2654435761)) % F.lit(2**31)
    status = (
        F.when(h % 100 < 5, F.lit(500))
        .when(h % 100 < 20, F.lit(404))
        .otherwise(F.lit(200))
    )
    lat = (h % 5000).cast("long")
    nbytes = (h % 100000).cast("long")
    tool = F.element_at(F.array(*[F.lit(t) for t in _TOOLS]), (h % 5 + 1).cast("int"))
    role = F.element_at(
        F.array(*[F.lit(r) for r in _ROLES]),
        ((F.col("turn_idx") + F.col("conv")) % 4 + 1).cast("int"),
    )
    msg = F.concat(F.lit("synthetic k"), (h % 97).cast("string"))
    call = F.format_string(
        "[seq=%d] call tool=%s status=%d latency_ms=%d msg=%s",
        F.col("seq"), tool, status, lat, msg,
    )
    result = F.format_string(
        "[seq=%d] result status=%d latency_ms=%d bytes=%d msg=%s",
        F.col("seq"), status, lat, nbytes, msg,
    )
    # Pinned epoch like the reference's logTimestamp (pdata/testdata/log.go:13).
    base_ts = F.lit("2020-02-11 20:26:13").cast("timestamp")
    return base.select(
        F.format_string("conv-%08d", F.col("conv")).alias("conv_id"),
        F.col("turn_idx").cast("int").alias("turn_idx"),
        role.alias("role"),
        F.when(F.col("turn_idx") % 2 == 0, call).otherwise(result).alias("text"),
        tool.alias("tool"),
        F.timestamp_add(
            "SECOND",
            (F.col("conv") % 86400 + F.col("turn_idx")).cast("long"),
            base_ts,
        ).alias("ts"),
    )
