"""Per-partition lineage + bytes accounting and file sizing (SURVEY
§2.4 A6, the north rule's checkpoint-table contract; bytes axis mirrors
sizer/logs_sizer.go:29-49). Table-granular resume is pinned in
test_fanout_write.py and test_pipeline_e2e.py.
"""

from __future__ import annotations

import os
import sys
import threading

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from opentelemetry_collector_spark.plans import lineage as lineage_ops
from opentelemetry_collector_spark.plans.checkpoint import CheckpointStore
from opentelemetry_collector_spark.plans.pipeline import run_pipeline
from opentelemetry_collector_spark.sinks.tables import TableCatalog
from opentelemetry_collector_spark.sources import derive_transcripts
from opentelemetry_collector_spark.sqltext import SINK_NAMES


def test_lineage_table_reconciles_with_sinks(spark, sf_dir, tmp_path):
    wh = str(tmp_path / "wh")
    res = run_pipeline(spark, sf_dir, wh)
    catalog = TableCatalog(spark, wh)

    lin = catalog.read("lineage")
    # per-partition rows of each write stage sum to that sink's count
    per_stage = {
        r["stage"]: r["n"]
        for r in lin.groupBy("stage").agg(F.sum("rows").alias("n")).collect()
    }
    for s, n in res.sink_counts.items():
        assert per_stage.get(f"write_{s}", 0) == n
    # bytes are real payload bytes, non-zero wherever rows are
    assert lin.filter((F.col("rows") > 0) & (F.col("bytes") <= 0)).count() == 0
    # the partition axis is populated (the whole point vs per-stage-only)
    assert lin.select("part_id").distinct().count() > 1

    # physical file stats reconcile too: footer rows per stage == sink rows
    fs = catalog.read("file_stats")
    file_per_stage = {
        r["stage"]: r["n"]
        for r in fs.groupBy("stage").agg(F.sum("rows").alias("n")).collect()
    }
    for s, n in res.sink_counts.items():
        assert file_per_stage.get(f"write_{s}", 0) == n
    assert fs.filter(F.col("bytes") <= 0).count() == 0


def test_logical_lineage_matches_file_truth_when_partition_aligned(spark, tmp_path):
    """When the write is laid out by the same deterministic partitioner,
    logical lineage (groupBy) and physical lineage (parquet footers)
    agree row-for-row — the two views of A6 are the same truth."""
    df = spark.range(500).select(
        F.lit("r").alias("route"),
        F.concat(F.lit("c"), (F.col("id") % 61).cast("string")).alias("conv_id"),
        F.col("id").cast("string").alias("text"),
    )
    out = str(tmp_path / "aligned")
    (
        df.withColumn("part_id", lineage_ops.det_partition_id(F.col("conv_id")))
        .write.partitionBy("part_id").parquet(out)
    )
    logical = {
        r["part_id"]: r["rows"]
        for r in lineage_ops.logical_lineage(df).collect()
    }
    physical: dict[int, int] = {}
    for fr in lineage_ops.file_lineage(out):
        pid = int(fr["file"].split("part_id=")[1].split("/")[0])
        physical[pid] = physical.get(pid, 0) + fr["rows"]
    assert logical == physical


def test_send_batch_max_size_bounds_files(spark, sf_dir, tmp_path):
    """File size is one session setting (send_batch_max_size's analog),
    and it reaches every table of the fan-out: sinks, aggregates and
    quarantine."""
    conf = spark.conf
    before = conf.get("spark.sql.files.maxRecordsPerFile")
    conf.set("spark.sql.files.maxRecordsPerFile", "100")
    try:
        wh = str(tmp_path / "wh4")
        run_pipeline(spark, sf_dir, wh)
    finally:
        conf.set("spark.sql.files.maxRecordsPerFile", before)
    catalog = TableCatalog(spark, wh)
    for t in SINK_NAMES + [f"agg_{s}" for s in SINK_NAMES] + ["quarantine"]:
        stats = lineage_ops.file_lineage(catalog.path(t))
        assert stats, t
        assert max(fr["rows"] for fr in stats) <= 100, t


def test_batch_and_stream_lineage_share_one_table(spark, sf_dir, tmp_path):
    """A streaming run flushing lineage into a warehouse where a batch
    run already committed must keep the batch run's rows, not clobber
    them — one A6 store for both modes, each run owning its own file."""
    import os

    from opentelemetry_collector_spark.streaming import stream as ss

    wh = str(tmp_path / "wh7")
    res = run_pipeline(spark, sf_dir, wh, run_id="batchrun")
    src = str(tmp_path / "src7")
    derive_transcripts(spark, sf_dir).write.mode("overwrite").parquet(src)
    routed = ss.transform(ss.stream_transcripts(spark, src, max_files=8), spark)
    # shared warehouse = shared lineage store; sink DATA goes to its own
    # dir (epoch-partitioned streaming tables must not nest inside the
    # batch-written flat tables — the writer refuses that)
    writer = ss.route_sink_writer(
        wh, run_id="streamrun", data_dir=str(tmp_path / "stream_sinks")
    )
    q = (
        routed.writeStream.foreachBatch(writer)
        .option("checkpointLocation", str(tmp_path / "ckpt7"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    writer.flush_lineage()

    lin = spark.read.parquet(os.path.join(wh, "lineage"))
    runs = {r["run_id"] for r in lin.select("run_id").distinct().collect()}
    assert {"batchrun", "streamrun"} <= runs  # both survive
    batch_rows = lin.filter(
        (F.col("run_id") == "batchrun") & F.col("stage").startswith("write_")
    ).agg(F.sum("rows")).collect()[0][0]
    assert batch_rows == sum(res.sink_counts.values())
    # re-flushing the stream run is idempotent (replaces its own rows)
    writer.flush_lineage()
    lin2 = spark.read.parquet(os.path.join(wh, "lineage"))
    assert lin2.count() == lin.count()


def test_lineage_flush_reads_no_other_run(spark, sf_dir, tmp_path):
    """A run's lineage flush opens no file of another run: a file in
    ``lineage/`` that is not even parquet does not stop it, and this
    run's file holds exactly the partitions its acks carry."""
    wh = str(tmp_path / "whother")
    other = os.path.join(wh, "lineage", "part-other.parquet")
    os.makedirs(os.path.dirname(other))
    with open(other, "wb") as f:
        f.write(b"not a parquet file")
    res = run_pipeline(spark, sf_dir, wh, run_id="mine")

    got = pq.read_table(os.path.join(wh, "lineage", "part-mine.parquet")).to_pylist()
    want = [
        (m["stage"], -1 if p["part_id"] is None else p["part_id"], p["rows"])
        for m in res.metrics for p in m.get("partitions", [])
    ]
    assert sorted((r["stage"], r["part_id"], r["rows"]) for r in got) == sorted(want)
    assert {r["run_id"] for r in got} == {"mine"}
    with open(other, "rb") as f:
        assert f.read() == b"not a parquet file"


def test_concurrent_flushes_keep_every_run(tmp_path):
    """Runs flushing into one warehouse at the same time, many times
    over and more of them than cores, each leave their own rows exactly
    once."""
    wh = str(tmp_path / "whconc")
    n_runs = 6
    stores = [CheckpointStore(wh, run_id=f"run{i}") for i in range(n_runs)]
    for i, ckpt in enumerate(stores):
        for s in range(3):
            ckpt.commit(f"write_t{s}", 10 + i, 10 + i, 5, {
                "partitions": [{"part_id": p, "rows": p + i, "bytes": 7} for p in range(4)],
                "files": [{"file": f"t{s}/f{i}.parquet", "rows": 10 + i, "bytes": 99}],
            })
    errors = []

    def flush(ckpt):
        try:
            for _ in range(40):
                assert ckpt.write_lineage_table() == (12, 3)
        except Exception as e:  # a thread's failure fails the test below
            errors.append(e)

    threads = [threading.Thread(target=flush, args=(c,)) for c in stores]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    lin = pq.read_table(os.path.join(wh, "lineage")).to_pylist()
    for i in range(n_runs):
        mine = sorted((r["stage"], r["part_id"], r["rows"])
                      for r in lin if r["run_id"] == f"run{i}")
        assert mine == sorted((f"write_t{s}", p, p + i)
                              for s in range(3) for p in range(4))
    files = pq.read_table(os.path.join(wh, "file_stats")).to_pylist()
    assert sorted((r["run_id"], r["stage"]) for r in files) == sorted(
        (f"run{i}", f"write_t{s}") for i in range(n_runs) for s in range(3))
