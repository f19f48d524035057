"""Streaming variant: same stages under readStream; counts match batch;
watermarked accounting materializes; no loss/dup across the fan-out."""

from __future__ import annotations

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from opentelemetry_collector_spark.sources import derive_transcripts
from opentelemetry_collector_spark.sqltext import SINK_NAMES
from opentelemetry_collector_spark.streaming import stream as ss


def test_streaming_matches_batch(spark, sf_dir, tmp_path):
    src = str(tmp_path / "src")
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")

    batch = derive_transcripts(spark, sf_dir)
    batch.repartition(4).write.parquet(src)
    n_input = batch.count()

    ss.run_available_now(spark, src, wh, ckpt)

    # fan-out exactly-once across sink tables
    total = 0
    for s in SINK_NAMES:
        try:
            t = spark.read.parquet(f"{wh}/{s}")
        except Exception:
            continue
        total += t.count()
    assert total == n_input

    # windowed accounting emits exactly the windows past the final
    # watermark (max event time - 2h); later windows are withheld as
    # potentially-late state — the streaming contract, not loss.
    acc = entrymod.q_streaming_accounting(spark, sf_dir)
    assert {"window_start", "window_end", "route", "conv_id"} <= set(acc.columns)
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    expected = (
        batch.filter(
            F.window("ts", "1 hour")["end"]
            <= F.lit(max_ts) - F.expr("INTERVAL 2 HOURS")
        ).count()
    )
    assert acc.agg(F.sum("turn_count")).collect()[0][0] == expected
    assert expected >= n_input * 0.9  # sanity: the horizon is small


def test_streaming_is_incremental(spark, sf_dir, tmp_path):
    """Second AvailableNow run with the same checkpoint reprocesses
    nothing (the persistent-queue resume semantics via offset log)."""
    src = str(tmp_path / "src")
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    batch = derive_transcripts(spark, sf_dir).limit(200)
    batch.write.parquet(src)
    ss.run_available_now(spark, src, wh, ckpt)
    ss.run_available_now(spark, src, wh, ckpt)  # no-op
    total = 0
    for s in SINK_NAMES:
        try:
            total += spark.read.parquet(f"{wh}/{s}").count()
        except Exception:
            pass
    assert total == 200  # not 400 — nothing was re-read


def test_streaming_edge_metrics_in_lineage_table(spark, sf_dir, tmp_path):
    """Per-(epoch, sink) item/byte counters ride the appends via
    Observation and land in the SAME queryable ``lineage`` warehouse
    table the batch pipeline writes (stage = stream.<sink>, part_id =
    epoch) — one A6 store for both execution modes. The table must
    reconcile with what actually reached the sink tables."""
    import os

    from pyspark.sql import functions as F

    from opentelemetry_collector_spark.sources import derive_transcripts
    from opentelemetry_collector_spark.streaming import stream as ss

    src = str(tmp_path / "src")
    wh = str(tmp_path / "wh")
    derive_transcripts(spark, sf_dir).write.mode("overwrite").parquet(src)
    routed = ss.transform(ss.stream_transcripts(spark, src, max_files=4), spark)
    writer = ss.route_sink_writer(wh)
    q = (
        routed.writeStream.foreachBatch(writer)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_lineage, _ = writer.flush_lineage()
    assert n_lineage > 0

    lin = spark.read.parquet(os.path.join(wh, "lineage")).filter(
        F.col("stage").startswith("stream.")
    )
    rows = lin.collect()
    assert len({r["part_id"] for r in rows}) >= 1  # part_id carries epoch
    assert all(r["bytes"] >= 0 for r in rows)
    per_sink = {}
    for r in rows:
        sink = r["stage"].removeprefix("stream.")
        per_sink[sink] = per_sink.get(sink, 0) + r["rows"]
    for sink, n in per_sink.items():
        if n:
            got = spark.read.parquet(os.path.join(wh, sink)).count()
            assert got == n, (sink, got, n)
    assert sum(per_sink.values()) == derive_transcripts(spark, sf_dir).count()


def test_streaming_quarantine_route(spark, sf_dir, tmp_path):
    """F7 in streaming mode: unparseable records route to the
    quarantine sink instead of being dropped — no record lost."""
    import os

    from pyspark.sql import functions as F

    from opentelemetry_collector_spark.sources import derive_transcripts
    from opentelemetry_collector_spark.streaming import stream as ss

    src = str(tmp_path / "srcq")
    wh = str(tmp_path / "whq")
    base = derive_transcripts(spark, sf_dir).withColumn(
        "text",
        F.when(
            F.col("turn_idx") % 13 == 0,
            F.regexp_replace("text", r"^\[seq=[0-9]+\] ", ""),
        ).otherwise(F.col("text")),
    )
    base.write.mode("overwrite").parquet(src)
    n_total = base.count()

    routed = ss.transform(ss.stream_transcripts(spark, src, max_files=8), spark)
    from opentelemetry_collector_spark.sqltext import SINK_NAMES

    writer = ss.route_sink_writer(wh)
    q = (
        routed.writeStream.foreachBatch(writer)
        .option("checkpointLocation", str(tmp_path / "ckptq"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    quarantined = spark.read.parquet(os.path.join(wh, "quarantine")).count()
    assert quarantined == base.filter(F.col("turn_idx") % 13 == 0).count()
    total_out = sum(
        spark.read.parquet(os.path.join(wh, s)).count()
        for s in SINK_NAMES + ["quarantine"]
    )
    assert total_out == n_total  # nothing dropped


def test_epoch_replay_does_not_duplicate(spark, sf_dir, tmp_path):
    """foreachBatch may replay an epoch after a failure (its
    at-least-once contract): calling the writer twice with the same
    epoch id must leave each sink with exactly one copy of that epoch's
    rows (deterministic epoch-partitioned overwrite), and the lineage
    acks must not double-count."""
    import os

    from opentelemetry_collector_spark.operators import parse as parse_ops
    from opentelemetry_collector_spark.operators import route as route_ops
    from opentelemetry_collector_spark.sources import derive_transcripts
    from opentelemetry_collector_spark.streaming import stream as ss

    wh = str(tmp_path / "whr")
    batch = route_ops.route_stage(
        parse_ops.parse_stage(derive_transcripts(spark, sf_dir))
        .filter(F.col("parse_ok"))
    ).limit(500)
    writer = ss.route_sink_writer(wh)
    writer(batch, 7)
    writer(batch, 7)  # replayed epoch — must converge, not append
    n_lineage, _ = writer.flush_lineage()

    total = sum(
        spark.read.parquet(os.path.join(wh, s)).count()
        for s in SINK_NAMES
        if os.path.isdir(os.path.join(wh, s))
    )
    assert total == batch.count()
    lin = spark.read.parquet(os.path.join(wh, "lineage"))
    assert lin.agg(F.sum("rows")).collect()[0][0] == batch.count()


def test_streaming_refuses_flat_batch_sink_dirs(spark, sf_dir, tmp_path):
    """Epoch-partitioned streaming writes into a table that already
    holds flat batch parquet would silently HIDE the batch rows on read
    (partition discovery sees only epoch dirs) — the writer must refuse
    instead."""
    import pytest

    from opentelemetry_collector_spark.operators import parse as parse_ops
    from opentelemetry_collector_spark.operators import route as route_ops
    from opentelemetry_collector_spark.plans.pipeline import run_pipeline
    from opentelemetry_collector_spark.sources import derive_transcripts
    from opentelemetry_collector_spark.streaming import stream as ss

    wh = str(tmp_path / "whmix")
    run_pipeline(spark, sf_dir, wh)  # flat batch sink tables
    batch = route_ops.route_stage(
        parse_ops.parse_stage(derive_transcripts(spark, sf_dir))
        .filter(F.col("parse_ok"))
    ).limit(50)
    writer = ss.route_sink_writer(wh)
    with pytest.raises(ValueError, match="non-epoch content"):
        writer(batch, 0)


def test_streaming_static_join_side_is_local(spark, sf_dir, tmp_path):
    """The enrich lookups joined into every micro-batch are driver-local
    relations, so no epoch pays a Python broadcast job for them."""
    src = str(tmp_path / "src")
    derive_transcripts(spark, sf_dir).limit(200).write.parquet(src)
    routed = ss.transform(ss.stream_transcripts(spark, src), spark)
    leaves = routed._jdf.queryExecution().analyzed().collectLeaves()
    static = [
        leaves.apply(i).nodeName() for i in range(leaves.size())
        if not leaves.apply(i).isStreaming()
    ]
    assert static == ["LocalRelation", "LocalRelation"]

    q = (
        routed.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    plan = q._jsq.explainInternal(False)
    assert "ExistingRDD" not in plan, plan
    assert plan.split("== Initial Plan ==")[0].count("LocalTableScan") == 2, plan


def _every_route_batch(spark, sf_dir, tmp_path):
    """A static micro-batch through the streaming transform in which
    every route, quarantine included, has rows."""
    src = str(tmp_path / "src_all")
    derive_transcripts(spark, sf_dir).withColumn(
        "text",
        F.when(
            F.col("turn_idx") % 13 == 0,
            F.regexp_replace("text", r"^\[seq=[0-9]+\] ", ""),
        ).otherwise(F.col("text")),
    ).write.parquet(src)
    batch = ss.transform(spark.read.parquet(src), spark)
    routes = {r["route"] for r in batch.select("route").distinct().collect()}
    assert routes == set(SINK_NAMES) | {"quarantine"}
    return batch


def test_epoch_write_is_one_fan_out(spark, sf_dir, tmp_path, jobs_of):
    """One writer call writes every route in one partitioned write (the
    batch fan-out's primitive), not one write per route."""
    batch = _every_route_batch(spark, sf_dir, tmp_path)
    writer = ss.route_sink_writer(str(tmp_path / "wh"))
    assert jobs_of("stream-epoch", lambda: writer(batch, 0)) <= 3


def test_empty_routes_cost_no_job(spark, sf_dir, tmp_path, jobs_of):
    """A route with no rows in the micro-batch gets its empty epoch table
    on the driver: a batch holding only sink_search rows runs no more
    jobs than one with every route populated."""
    batch = _every_route_batch(spark, sf_dir, tmp_path).filter(
        F.col("route") == "sink_search"
    )
    wh = tmp_path / "wh"
    writer = ss.route_sink_writer(str(wh))
    assert jobs_of("stream-search-only", lambda: writer(batch, 0)) <= 3
    for s in SINK_NAMES + ["quarantine"]:
        t = spark.read.parquet(str(wh / s))
        assert t.drop("epoch").dtypes == batch.dtypes, s
        assert t.count() == (batch.count() if s == "sink_search" else 0), s


def test_epoch_write_has_partial_success(spark, sf_dir, tmp_path):
    """A streaming epoch splits rejects as batch does: a sink_search row
    with a NULL conv_id and one with text over 1 MiB land in
    ``rejected_sink_search/epoch=0`` with their reasons, not in
    ``sink_search``, and the epoch's ack counts them."""
    from opentelemetry_collector_spark.plans.checkpoint import CheckpointStore

    batch = _every_route_batch(spark, sf_dir, tmp_path)
    row = batch.filter(F.col("route") == "sink_search").orderBy("conv_id", "turn_idx").limit(1)
    batch = batch.unionByName(row.withColumn("conv_id", F.lit(None).cast("string"))).unionByName(
        row.withColumn("text", F.repeat(F.lit("x"), (1 << 20) + 1)))
    wh = str(tmp_path / "wh")
    ss.route_sink_writer(wh, run_id="rej")(batch, 0)

    rej = spark.read.parquet(f"{wh}/rejected_sink_search")
    assert sorted((r["epoch"], r["reject_reason"]) for r in rej.collect()) == [
        (0, "null_conv_id"), (0, "oversized_text")]
    sink = spark.read.parquet(f"{wh}/sink_search")
    assert sink.filter(F.col("conv_id").isNull() | (F.length("text") > 1 << 20)).count() == 0
    n = batch.filter(F.col("route") == "sink_search").count() - 2
    assert sink.count() == n
    (ack,) = [m for m in CheckpointStore(wh, "rej").metrics() if m["stage"] == "stream.sink_search"]
    assert (ack["rows_in"], ack["rows_out"], ack["rejected"]) == (n + 2, n, 2)
    assert ack["partitions"][0]["rows"] == n


def test_streaming_sink_schema_is_the_batch_sink_schema(spark, sf_dir, tmp_path):
    """A streaming sink table has the batch sink table's columns (plus
    its epoch partition column), for every route the flagship writes."""
    from opentelemetry_collector_spark.plans.pipeline import run_pipeline

    src = str(tmp_path / "src")
    derive_transcripts(spark, sf_dir).write.parquet(src)
    batch_wh, stream_wh = str(tmp_path / "batch"), str(tmp_path / "stream")
    run_pipeline(spark, sf_dir, batch_wh)
    ss.run_available_now(spark, src, stream_wh, str(tmp_path / "ckpt"))
    for s in SINK_NAMES + ["quarantine"]:
        streamed = spark.read.parquet(f"{stream_wh}/{s}").drop("epoch")
        assert streamed.dtypes == spark.read.parquet(f"{batch_wh}/{s}").dtypes, s


def test_streaming_run_leaves_only_its_tables(spark, sf_dir, tmp_path):
    """After run_available_now the data dir holds every route's table
    and the shared checkpoint and lineage tables — no ``_staging_*``
    dir."""
    import os

    src = str(tmp_path / "src")
    wh = str(tmp_path / "wh")
    derive_transcripts(spark, sf_dir).write.parquet(src)
    ss.run_available_now(spark, src, wh, str(tmp_path / "ckpt"))
    assert sorted(os.listdir(wh)) == sorted(
        SINK_NAMES + ["quarantine", "checkpoint", "lineage"]
    )
