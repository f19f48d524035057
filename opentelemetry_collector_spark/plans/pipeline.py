"""Pipeline assembly — service graph analog (SURVEY §2.3 R4, §3.1).

The reference builds a gonum DAG from config (receivers → capabilities →
processors → fanout → exporters), validates it (≥1 receiver and ≥1
exporter per pipeline, no cycles), and instantiates nodes in reverse
topological order (service/internal/graph/graph.go:75-372,
service/pipelines/config.go:25-64). Here each stage is a pure
``DataFrame → DataFrame`` function (the ConsumeLogs ABI,
consumer/logs.go:15-20 — Capabilities/MutatesData is moot under
immutability, SURVEY §1.3) terminated by sink writes; Catalyst owns the
physical DAG. The graph rules themselves are checked once, by
plans/config.ServiceConfig.validate.

:func:`run_pipeline` is the flagship end-to-end job: scan → parse →
enrich → route (unparseable rows to the quarantine route) into one
cached parent, then a fixed set of Spark jobs whatever the number of
sinks: one lineage collect, one quarantine write, ONE partitioned write
for all sinks and ONE partitioned aggregate write. Each sink's partition
dir is moved into its flat table and acked on its own, so resume stays
per sink (per chunk with ``sink_chunks``).
"""

from __future__ import annotations

import os
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from opentelemetry_collector_spark.operators import aggregate as agg_ops
from opentelemetry_collector_spark.operators import enrich as enrich_ops
from opentelemetry_collector_spark.operators import parse as parse_ops
from opentelemetry_collector_spark.operators import route as route_ops
from opentelemetry_collector_spark.plans import errors as err_ops
from opentelemetry_collector_spark.plans import lineage as lineage_ops
from opentelemetry_collector_spark.plans.checkpoint import CheckpointStore, StageMetric
from opentelemetry_collector_spark.sinks.tables import TableCatalog
from opentelemetry_collector_spark.sources import (
    derive_transcripts,
    role_lookup_df,
    tool_lookup_df,
)
from opentelemetry_collector_spark.sqltext import SINK_NAMES

# route of the rows that fail to parse; written to the quarantine table
QUARANTINE = "quarantine"


@dataclass
class RunResult:
    run_id: str
    sink_counts: dict[str, int]
    quarantined: int
    stages_skipped: list[str]
    metrics: list[dict]


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    warehouse: str,
    run_id: str | None = None,
    source: Callable[[SparkSession], DataFrame] | None = None,
    fail_after_stage: str | None = None,
    send_batch_max_size: int = 1_000_000,
    sink_chunks: int = 1,
) -> RunResult:
    """The flagship job, checkpoint-gated per stage.

    One cached parent feeds a fixed number of Spark jobs, however many
    routes there are: parse (no ``attrs`` map: no sink keeps it), enrich
    and route every row, with unparseable rows routed to ``quarantine``;
    then one lineage collect, one quarantine write, one partitioned write
    for every un-acked sink and one partitioned aggregate write. Each
    partitioned write lands in a staging dir under the warehouse; each
    sink's partition dir is then moved to its flat table and the sink's
    ack committed, in ``SINK_NAMES`` order (the fan-out consumer's single
    pass over one batch, internal/fanoutconsumer/logs.go:21-77).

    The cached parent is sized by its data, not by
    ``spark.sql.shuffle.partitions``: the session lets AQE coalesce the
    shuffle under a persisted plan, so every job after the cache runs
    one task per coalesced partition and each sink table gets one file
    per such partition (4 at sf0.1 on 4 cores, was 32).

    ``fail_after_stage`` injects a crash for the kill/resume property
    test (receiver/receivertest/contract_checker.go:75-120 scenario:
    random failure → resume → no loss, no duplication). A resume writes
    only the un-acked sinks; the staging dir is removed either way.

    ``send_batch_max_size`` is the batch processor's file-splitting knob
    (processor/batchprocessor/config.go:26-29) applied as
    ``maxRecordsPerFile`` on every sink write — bounds output file size
    so a 100 TB run never produces unsplittable files.

    ``sink_chunks`` > 1 splits each sink into that many deterministic
    conv_id-hash chunks (plans/lineage.det_partition_id), written by the
    same single write and ACKED separately — partition-granular resume:
    a crash at chunk j of a sink re-does only chunks ≥ j, not the whole
    sink (the persistent queue re-dispatching only un-acked items,
    persistent_queue.go:321-428). Chunked tables land as
    ``table/part=c/`` partitioned layout (partition-pruned on read).
    """
    catalog = TableCatalog(spark, warehouse)
    ckpt = CheckpointStore(warehouse, run_id)
    skipped: list[str] = []
    staging = f"_staging_{ckpt.run_id}"
    route = F.col("route")

    def _commit(stage: str, rows_in: int, rows_out: int, extra: dict, since: float) -> None:
        ckpt.commit(
            stage,
            StageMetric(
                run_id=ckpt.run_id, stage=stage, rows_in=rows_in,
                rows_out=rows_out, wall_ms=int((time.monotonic() - since) * 1000),
                extra=extra,
            ),
        )
        if fail_after_stage == stage:
            raise RuntimeError(f"injected failure after stage {stage}")

    def _pending(stages: list[str]) -> list[str]:
        """The un-acked stages; the acked ones are recorded as skipped."""
        skipped.extend(st for st in stages if ckpt.is_done(st))
        return [st for st in stages if not ckpt.is_done(st)]

    def _gate(stage: str, fn: Callable[[], tuple[int, int, dict]]) -> None:
        """Run a terminal (sink-writing) stage unless already acked."""
        if _pending([stage]):
            t0 = time.monotonic()
            _commit(stage, *fn(), t0)

    def _chunks(sink: str) -> list[int]:
        """The sink's un-acked chunks. Acks record their sink_chunks, and
        a resume under a DIFFERENT value is refused outright: the acked
        chunks' rows were hashed with the old modulus, so mixing moduli
        silently duplicates and drops rows. Acks without the key are
        kept as-is."""
        stage = f"write_{sink}"
        priors = {
            m["sink_chunks"] for m in ckpt.metrics()
            if m["stage"].startswith(f"{stage}.chunk") and "sink_chunks" in m
        }
        if priors and priors != {sink_chunks}:
            raise ValueError(
                f"{stage}: resume with sink_chunks={sink_chunks} but "
                f"run {ckpt.run_id!r} acked chunks under "
                f"sink_chunks={sorted(priors)}; resume with the same "
                "value or use a fresh run_id"
            )
        return [int(st[-3:]) for st in
                _pending([f"{stage}.chunk{c:03d}" for c in range(sink_chunks)])]

    src = source or (lambda s: derive_transcripts(s, sf_dir))
    parsed = parse_ops.parse_stage(src(spark), with_attrs=False)
    enriched = enrich_ops.enrich_stage(parsed, tool_lookup_df(spark), role_lookup_df(spark))
    routed = route_ops.route_stage(
        enriched,
        F.when(F.col("parse_ok"), route_ops.route_expr()).otherwise(F.lit(QUARANTINE)),
    ).persist()

    def _write_sinks(sinks: list[str], lineage: dict[str, list[dict]]) -> None:
        """One write for every un-acked sink (and chunk); accepted and
        rejected counts ride one Observation placed above the validity
        filter. ``rejected_<sink>`` is written, by one more partitioned
        write, only for sinks whose rejected count is non-zero."""
        t0 = time.monotonic()
        flagged = routed.filter(route.isin(sinks)).withColumn(
            "_reject_reason", err_ops.reject_reason()
        )
        ok = F.col("_reject_reason").isNull()
        rejected_rows = flagged.filter(~ok).withColumnRenamed("_reject_reason", "reject_reason")
        counts = [
            c for s in sinks for c in (
                F.count_if((route == s) & ok).alias(f"ok:{s}"),
                F.count_if((route == s) & ~ok).alias(f"rejected:{s}"),
            )
        ]
        by, todo = ["_sink"], ok
        chunks: dict[str, list[int]] = {}
        if sink_chunks > 1:
            # the accepted rows of the un-acked chunks only; the counts
            # and the rejected side still cover whole sinks
            chunks = {s: _chunks(s) for s in sinks}
            flagged = flagged.withColumn(
                "part", lineage_ops.det_partition_id(F.col("conv_id"), sink_chunks)
            )
            part = F.col("part")
            by.append("part")
            counts += [
                F.count_if((route == s) & (part == c) & ok).alias(f"ok:{s}:{c}")
                for s in sinks for c in chunks[s]
            ]
            pending = F.lit(False)
            for s in sinks:
                pending = pending | ((route == s) & part.isin(chunks[s]))
            todo = ok & pending
        obs = Observation("sink_fanout")
        publish = _fan_out_write(
            catalog, f"{staging}/sinks",
            flagged.observe(obs, *counts).filter(todo)
            .drop("_reject_reason").withColumn("_sink", route),
            by, send_batch_max_size,
        )
        got = obs.get
        rejected = [s for s in sinks if got[f"rejected:{s}"]]
        if rejected:
            publish_rejected = _fan_out_write(
                catalog, f"{staging}/rejected",
                rejected_rows.filter(route.isin(rejected)).withColumn("_sink", route),
                ["_sink"],
            )
        job_s = time.monotonic() - t0
        for s in sinks:
            # the shared job's time counts toward every sink's ack
            since = time.monotonic() - job_s
            if sink_chunks > 1:
                if len(chunks[s]) == sink_chunks:
                    # no chunk acked yet: clear the table root, or a
                    # previous run's flat files / other part dirs would
                    # read back as duplicate rows
                    shutil.rmtree(catalog.path(s), ignore_errors=True)
                for c in chunks[s]:
                    table = f"{s}/part={c}"
                    publish((s, c), table)
                    n = got[f"ok:{s}:{c}"]
                    _commit(f"write_{s}.chunk{c:03d}", n, n, {
                        "chunk": c, "sink_chunks": sink_chunks,
                        "files": lineage_ops.file_lineage(catalog.path(table)),
                    }, since)
            else:
                publish((s,), s)
            if s in rejected:
                publish_rejected((s,), f"rejected_{s}")
            n, r = got[f"ok:{s}"], got[f"rejected:{s}"]
            _commit(f"write_{s}", n + r, n, {
                "sink": s, "rejected": r,
                "partitions": lineage.get(s, []),
                # recursive: a chunked table's files read as part=c/<file>
                "files": lineage_ops.file_lineage(catalog.path(s)),
            }, since)

    def _write_aggs(sinks: list[str]) -> None:
        """One aggregate write for every un-acked agg_<sink> table."""
        t0 = time.monotonic()
        obs = Observation("agg_fanout")
        agg = agg_ops.hourly_sink_accounting(routed.filter(route.isin(sinks)), with_route=True)
        publish = _fan_out_write(
            catalog, f"{staging}/aggs",
            agg.observe(obs, *[F.count_if(route == s).alias(s) for s in sinks]),
            ["route"], send_batch_max_size,
        )
        got = obs.get
        job_s = time.monotonic() - t0
        for s in sinks:
            since = time.monotonic() - job_s
            publish((s,), f"agg_{s}")
            _commit(f"agg_{s}", got[s], got[s], {
                "sink": s,
                "files": lineage_ops.file_lineage(catalog.path(f"agg_{s}")),
            }, since)

    try:
        write_sinks = [st[len("write_"):] for st in _pending([f"write_{s}" for s in SINK_NAMES])]
        agg_sinks = [st[len("agg_"):] for st in _pending([f"agg_{s}" for s in SINK_NAMES])]

        # Per-partition logical lineage for every route, quarantine
        # included, in ONE aggregation over the cached parent (A6
        # north-rule contract; skipped when every write stage is acked).
        lineage: dict[str, list[dict]] = {}
        if write_sinks or not ckpt.is_done(QUARANTINE):
            for r in lineage_ops.logical_lineage(routed).collect():
                lineage.setdefault(r["route"], []).append(
                    {"part_id": r["part_id"], "rows": r["rows"], "bytes": r["bytes"]}
                )

        # quarantine sink (permanent-error rows; F7): the parsed columns
        # of the cached parent's quarantine route
        def _quarantine() -> tuple[int, int, dict]:
            n = _write_counted(
                catalog, QUARANTINE,
                routed.filter(route == QUARANTINE).select(*parsed.columns),
                max_records_per_file=send_batch_max_size,
            )
            return n, n, {
                "partitions": lineage.get(QUARANTINE, []),
                "files": lineage_ops.file_lineage(catalog.path(QUARANTINE)),
            }

        _gate(QUARANTINE, _quarantine)
        if write_sinks:
            _write_sinks(write_sinks, lineage)
        if agg_sinks:
            _write_aggs(agg_sinks)

        # flatten acked lineage into queryable warehouse tables
        _gate("lineage", lambda: (
            lambda counts: (counts[0], counts[0], {"file_rows": counts[1]})
        )(ckpt.write_lineage_table(spark, catalog)))
    finally:
        routed.unpersist()
        shutil.rmtree(catalog.path(staging), ignore_errors=True)

    sink_counts = {
        s: m["rows_out"]
        for m in ckpt.metrics()
        for s in [m.get("sink")]
        if s and m["stage"].startswith("write_")
    }
    quarantined = next(
        (m["rows_out"] for m in ckpt.metrics() if m["stage"] == QUARANTINE), 0
    )
    return RunResult(
        run_id=ckpt.run_id,
        sink_counts=sink_counts,
        quarantined=quarantined,
        stages_skipped=skipped,
        metrics=ckpt.metrics(),
    )


def _fan_out_write(
    catalog: TableCatalog, staging: str, df: DataFrame, by: list[str],
    max_records_per_file: int = 0,
) -> Callable[[tuple, str], None]:
    """Write ``df`` once, partitioned by ``by``, into ``staging``; return
    ``publish(values, table)``, which moves the partition dir for
    ``values`` (one per column of ``by``) to ``table``. A partition with
    no rows has no dir, so ``publish`` writes an empty table with the
    same schema instead."""
    catalog.overwrite(staging, df, max_records_per_file=max_records_per_file,
                      partition_by=by)
    schema = df.drop(*by).schema

    def publish(values: tuple, table: str) -> None:
        src = catalog.path(os.path.join(staging, *(f"{c}={v}" for c, v in zip(by, values))))
        dst = catalog.path(table)
        if not os.path.isdir(src):
            spark = catalog.spark
            catalog.overwrite(table, spark.createDataFrame(spark.sparkContext.emptyRDD(), schema))
            return
        shutil.rmtree(dst, ignore_errors=True)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(src, dst)
        open(os.path.join(dst, "_SUCCESS"), "w").close()

    return publish


def _write_counted(
    catalog: TableCatalog, table: str, df: DataFrame,
    max_records_per_file: int = 0,
) -> int:
    """Write + count in ONE action via the Observation API — the
    obsconsumer item counter riding the data path instead of a second
    scan (service/internal/obsconsumer/logs.go:53-70). The file-size
    bound (send_batch_max_size analog) rides the same write."""
    obs = Observation(f"rows_{table}")
    catalog.overwrite(
        table, df.observe(obs, F.count(F.lit(1)).alias("n")),
        max_records_per_file=max_records_per_file,
    )
    return obs.get["n"]
