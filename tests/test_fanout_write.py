"""The flagship's single fan-out write: a fixed Spark job count whatever
the number of routes, table-granular resume after a crash between
sinks, empty tables for routes with no rows and files sized by the
data (the fan-out consumer's one pass over a batch,
internal/fanoutconsumer/logs.go:21-77)."""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_spark.plans.pipeline import run_pipeline
from opentelemetry_collector_spark.sinks.tables import TableCatalog
from opentelemetry_collector_spark.sources import derive_transcripts
from opentelemetry_collector_spark.sqltext import SINK_NAMES

# Spark jobs of one run_pipeline at test scale, 10 measured: the lineage
# collect, one write for every route (quarantine included), one
# aggregate write and the shuffle stages under them. One write per sink
# would take 24.
MAX_JOBS = 10

TABLES = sorted(
    SINK_NAMES + [f"agg_{s}" for s in SINK_NAMES]
    + ["quarantine", "checkpoint", "lineage", "file_stats"]
)


def _union(catalog):
    out = None
    for s in SINK_NAMES:
        t = catalog.read(s).select("conv_id", "turn_idx")
        out = t if out is None else out.unionByName(t)
    return out


def test_job_count_is_fixed(spark, sf_dir, tmp_path, jobs_of):
    wh = str(tmp_path / "wh")
    jobs = jobs_of("fanout", lambda: run_pipeline(spark, sf_dir, wh))
    assert jobs <= MAX_JOBS, jobs
    # the staging dir is gone: the warehouse holds exactly the tables
    assert sorted(os.listdir(wh)) == TABLES


def test_crash_between_sinks_resumes_only_unacked(spark, sf_dir, tmp_path, crash_after_ack):
    wh = str(tmp_path / "wh")
    catalog = TableCatalog(spark, wh)
    with crash_after_ack("write_sink_python"), pytest.raises(RuntimeError, match="injected failure"):
        run_pipeline(spark, sf_dir, wh, run_id="runM")
    assert not [d for d in os.listdir(wh) if d not in TABLES]
    acked = ["sink_search", "sink_browser", "sink_python"]
    files_before = {s: sorted(os.listdir(catalog.path(s))) for s in acked}

    res = run_pipeline(spark, sf_dir, wh, run_id="runM")
    assert {f"write_{s}" for s in acked} <= set(res.stages_skipped)
    assert not {"write_sink_editor", "write_sink_default"} & set(res.stages_skipped)
    # the acked sinks' files were not rewritten
    assert {s: sorted(os.listdir(catalog.path(s))) for s in acked} == files_before
    assert sorted(os.listdir(wh)) == TABLES

    # no row lost or duplicated, and every aggregate reconciles
    n_input = derive_transcripts(spark, sf_dir).count()
    union = _union(catalog)
    assert union.count() == n_input
    assert union.distinct().count() == n_input
    assert sum(res.sink_counts.values()) == n_input
    for s, n in res.sink_counts.items():
        assert catalog.read(f"agg_{s}").agg(F.sum("turn_count")).first()[0] == n, s


def test_routes_with_no_rows_still_get_empty_tables(spark, sf_dir, tmp_path, receiver_rows):
    wh = str(tmp_path / "wh")

    def only_search(s):
        return derive_transcripts(s, sf_dir).withColumn("tool", F.lit("search"))

    with receiver_rows(only_search(spark)):
        res = run_pipeline(spark, sf_dir, wh)
    catalog = TableCatalog(spark, wh)
    n_input = only_search(spark).count()
    assert res.sink_counts == {s: (n_input if s == "sink_search" else 0) for s in SINK_NAMES}

    sink_schema = catalog.read("sink_search").schema
    agg_schema = catalog.read("agg_sink_search").schema
    assert "route" in sink_schema.names and "route" not in agg_schema.names
    acks = {m["stage"]: m for m in res.metrics}
    con = duckdb.connect()
    for s in SINK_NAMES[1:]:
        for table, schema in ((s, sink_schema), (f"agg_{s}", agg_schema)):
            t = catalog.read(table)
            assert t.schema == schema, table
            assert t.count() == 0, table
            # flat parquet files, readable the way outside readers glob them
            (n,) = con.sql(
                f"SELECT count(*) FROM read_parquet('{catalog.path(table)}/*.parquet')"
            ).fetchone()
            assert n == 0, table
        assert acks[f"write_{s}"]["rows_out"] == 0
        assert acks[f"write_{s}"]["partitions"] == []
        assert acks[f"agg_{s}"]["rows_out"] == 0
    con.close()


def test_failed_write_leaves_no_staging_dir(spark, sf_dir, tmp_path, monkeypatch):
    """A write that fails after its rows reached the staging dir
    re-raises and leaves no ``_staging_*`` dir, in each caller of the
    one table writer: the flagship run, a plain table write and a
    streaming epoch."""
    from opentelemetry_collector_spark.plans import errors
    from opentelemetry_collector_spark.streaming import stream as ss

    overwrite = TableCatalog.overwrite
    turns = derive_transcripts(spark, sf_dir).limit(50)
    calls = {
        "batch": lambda wh: run_pipeline(spark, sf_dir, wh),
        "table": lambda wh: errors.write_with_partial_success(TableCatalog(spark, wh), "out", turns),
        "epoch": lambda wh: ss.route_sink_writer(wh)(ss.transform(turns, spark), 0),
    }
    for name, call in calls.items():
        failed: list[str] = []

        def write_then_fail(self, table, df, partition_by=None, failed=failed):
            overwrite(self, table, df, partition_by)
            if not failed:
                failed.append(table)
                raise RuntimeError(f"injected failure after writing {table}")

        wh = str(tmp_path / name)
        with monkeypatch.context() as m:
            m.setattr(TableCatalog, "overwrite", write_then_fail)
            with pytest.raises(RuntimeError, match="injected failure"):
                call(wh)
        assert failed[0].startswith("_staging_"), (name, failed)
        assert not [d for d in os.listdir(wh) if d.startswith("_staging_")], name


def test_sink_files_follow_the_data_not_shuffle_partitions(spark, sf_dir, tmp_path):
    """The cached routed parent is sized by its data: at the session's
    32-partition contract default the shuffle under the cache still
    coalesces, so a sink table holds at most one file per core rather
    than one per shuffle partition."""
    conf = spark.conf
    before = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.shuffle.partitions", "32")
    try:
        wh = str(tmp_path / "wh")
        run_pipeline(spark, sf_dir, wh)
    finally:
        conf.set("spark.sql.shuffle.partitions", before)
    cap = spark.sparkContext.defaultParallelism
    for s in SINK_NAMES:
        files = [f for f in os.listdir(os.path.join(wh, s)) if f.endswith(".parquet")]
        assert 0 < len(files) <= cap, (s, len(files))
