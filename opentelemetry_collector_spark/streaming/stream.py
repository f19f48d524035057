"""Structured Streaming variant of the pipeline.

The reference IS a streaming system: push-based consumers with
batch-timeout flushes (batch_processor.go:189-239) and at-least-once
queues. The batch pipeline in plans/pipeline.py is our primary mapping;
this module shows the same stage functions — they are pure
DataFrame→DataFrame transforms — running unchanged under ``readStream``
with:

* event-time tumbling windows + watermark for the batchprocessor-style
  accounting (the timeout flush becomes the watermark-driven state
  eviction): :func:`windowed_accounting`, a query of its own (the
  contract's ``streaming_accounting``), not part of
  :func:`run_available_now`;
* ``foreachBatch`` fan-out to per-route tables through the batch
  fan-out's write (sinks/tables.fan_out_write): one call per
  micro-batch writes every route the flagship writes, quarantine
  included, with the batch sink schema and partial success, publishes
  the tables and removes its staging dir — checkpointed by Spark's
  streaming offset log instead of our checkpoint table;
* per-(epoch, route) acks through the batch pipeline's one
  ``CheckpointStore.commit`` call, and ``flush_lineage()``, which writes
  the stream run's own file of the shared ``lineage`` table — the batch
  runs' files are neither read nor rewritten;
* ``Trigger.AvailableNow`` for incremental catch-up runs (the scraper
  controller's pull-loop analog, scraper/scraperhelper/controller.go:68-160).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from opentelemetry_collector_spark.operators import enrich as enrich_ops
from opentelemetry_collector_spark.operators import parse as parse_ops
from opentelemetry_collector_spark.operators import route as route_ops
from opentelemetry_collector_spark.sources import role_lookup_df, tool_lookup_df

TRANSCRIPT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("role", StringType(), False),
        StructField("text", StringType(), False),
        StructField("tool", StringType(), False),
        StructField("ts", TimestampNTZType(), False),
    ]
)


def stream_transcripts(spark: SparkSession, path: str, max_files: int = 16) -> DataFrame:
    """File-stream source over a transcripts directory (the OTLP receiver
    analog in micro-batch form; on a real deployment this is a Kafka or
    Iceberg-incremental source with the same downstream plan)."""
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def transform(stream: DataFrame, spark: SparkSession) -> DataFrame:
    """The flagship's processors (configs/flagship.yaml), identical code
    to the batch plan: parse without the attrs map → enrich → route.
    Unparseable records are NOT dropped: they take the ``quarantine``
    route (:func:`route_ops.route_or_quarantine`, F7 — permanent-error
    rows stay addressable, consumererror/permanent.go:16-32)."""
    parsed = parse_ops.parse_stage(stream, with_attrs=False)
    enriched = enrich_ops.enrich_stage(
        parsed, tool_lookup_df(spark), role_lookup_df(spark)
    )
    return route_ops.route_stage(enriched, route_ops.route_or_quarantine())


# The accounting's event-time window and how late a row may arrive: a
# window is emitted once the watermark (max event time - 2 h) passes
# its end. The contract oracle (__spark_entry__ streaming_accounting)
# applies the same cut.
ACCOUNTING_WINDOW = "1 hour"
ACCOUNTING_WATERMARK = "2 hours"


def windowed_accounting(routed: DataFrame) -> DataFrame:
    """Streaming batchprocessor accounting: watermarked tumbling-window
    counts per (route, conv_id, tool). Late rows beyond the watermark
    are dropped from state — the bounded-memory analog of the batch
    processor's timeout flush. Quarantined rows are dropped before the
    watermark, so they neither count nor move it. A watermark needs a
    TIMESTAMP column, so ``ts`` (timestamp_ntz, as in the batch tables)
    is read in the session time zone (UTC, session.py)."""
    return (
        routed.filter(F.col("route") != route_ops.QUARANTINE)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", ACCOUNTING_WATERMARK)
        .groupBy(
            F.window("ts", ACCOUNTING_WINDOW).alias("w"),
            "route", "conv_id", "tool",
        )
        .agg(
            F.count(F.lit(1)).alias("turn_count"),
            F.sum(F.length("text")).alias("bytes_sum"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "route", "conv_id", "tool", "turn_count", "bytes_sum",
        )
    )


def route_sink_writer(warehouse: str, run_id: str | None = None,
                      data_dir: str | None = None):
    """foreachBatch fan-out: each micro-batch is written to every route
    the flagship writes (``sqltext.SINK_NAMES`` and ``quarantine``),
    landing as ``<route>/epoch=N/`` with OVERWRITE semantics.
    foreachBatch may REPLAY an epoch after a failure (its documented
    at-least-once contract); a plain append would duplicate that epoch's
    rows, while the deterministic epoch-partitioned overwrite converges
    — offset log + idempotent epoch commit = effectively-once, the same
    two-phase shape as the batch checkpoint acks
    (persistent_queue.go:321-428). Readers see a plain partitioned table
    (the epoch partition column prunes like any other).

    The epoch write is the batch fan-out's primitive
    (sinks/tables.fan_out_write): ONE write of the micro-batch,
    partitioned by route, into a per-epoch staging dir under
    ``data_dir``, which the same call publishes and removes. The route
    domain is static — the configured exporter set, as the reference's
    fanout consumer is built from the config graph — so no driver
    round-trip finds the routes.

    A row failing the batch sink constraints lands in
    ``rejected_<route>/epoch=N``. Per-(epoch, route) counts and accepted
    bytes ride that write's Observation (the streaming face of the A6
    obsconsumer edge telemetry) and are acked into the SAME
    CheckpointStore the batch pipeline uses, as batch acks them: one
    driver-side JSON ack per (epoch, route), stage ``stream.<route>``.
    ``flush_lineage()`` (an attribute on the returned function) flattens
    the acks into this run's file of the shared queryable ``lineage``
    warehouse table (part_id = epoch), so streaming and batch A6
    telemetry share one store and one query surface.

    ``data_dir`` (default: the warehouse) is where the sink tables
    land. A streaming sink MUST NOT share a table directory with flat
    batch-written parquet: Spark's partition discovery would then see
    only the ``epoch=N`` dirs and silently hide every batch row, so the
    writer REFUSES a sink root that already holds flat files — point
    ``data_dir`` somewhere else (the lineage store still shares the
    warehouse) or clear the table."""
    import os
    import time

    from opentelemetry_collector_spark.plans.checkpoint import CheckpointStore
    from opentelemetry_collector_spark.sinks.tables import TableCatalog, fan_out_write
    from opentelemetry_collector_spark.sqltext import SINK_NAMES

    routes = SINK_NAMES + [route_ops.QUARANTINE]
    ckpt = CheckpointStore(warehouse, run_id)
    tables = data_dir or warehouse
    checked: set = set()

    def _guard_layout(sink: str) -> None:
        if sink in checked:
            return
        root = os.path.join(tables, sink)
        if os.path.isdir(root):
            foreign = [
                f for f in os.listdir(root)
                if not f.startswith("epoch=")
                and f not in ("_SUCCESS", "_temporary")
            ]
            if foreign:
                # flat batch files hide behind partition discovery;
                # any other partition scheme collides on the partition
                # column name
                raise ValueError(
                    f"streaming sink {root!r} already contains non-epoch "
                    f"content ({foreign[:3]}...); mixing layouts in one "
                    "table dir silently hides or breaks reads — use a "
                    "separate data_dir or clear the table first"
                )
        checked.add(sink)

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        for sink in routes:
            _guard_layout(sink)
        t0 = time.monotonic()
        got = fan_out_write(
            TableCatalog(batch_df.sparkSession, tables), f"_staging_{ckpt.run_id}_{epoch_id:08d}",
            batch_df.withColumn("_sink", F.col("route")), "_sink",
            {sink: f"{sink}/epoch={epoch_id}" for sink in routes},
            sums={"bytes": "octet_length(text)"},
        )
        # the shared write's time counts toward every route
        wall_ms = int((time.monotonic() - t0) * 1000)
        for sink in routes:
            n, r = got[sink]["accepted"], got[sink]["rejected"]
            ckpt.commit(f"stream.{sink}", n + r, n, wall_ms, {
                "epoch": epoch_id, "sink": sink, "rejected": r,
                "partitions": [{"part_id": epoch_id, "rows": n, "bytes": got[sink]["bytes"]}],
            })

    write_batch.flush_lineage = ckpt.write_lineage_table
    return write_batch


def run_available_now(
    spark: SparkSession,
    src_path: str,
    warehouse: str,
    checkpoint: str,
) -> None:
    """One catch-up pass over everything currently in ``src_path``: the
    routed sink writes, then their lineage flush. The windowed
    accounting runs as its own query (``__spark_entry__``'s
    ``streaming_accounting``)."""
    routed = transform(stream_transcripts(spark, src_path), spark)
    # STABLE run_id derived from the checkpoint location: a restarted
    # stream (foreachBatch's at-least-once replay) re-acks its epochs
    # under the SAME run_id, so its lineage flush replaces the run's own
    # file rather than double-counting (a fresh random id per restart
    # would leave the dead run's file in the shared lineage table).
    import hashlib

    writer = route_sink_writer(
        warehouse,
        run_id="stream" + hashlib.md5(checkpoint.encode()).hexdigest()[:10],
    )
    q = (
        routed.writeStream.foreachBatch(writer)
        .option("checkpointLocation", f"{checkpoint}/route")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # flatten the per-(epoch, sink) acks into the shared lineage table
    writer.flush_lineage()
