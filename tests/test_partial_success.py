"""Per-write partial success (F7 completion): a sink commit succeeds
while invalid rows are diverted to rejected_<sink> with a named reason
and counted in the stage ack — the OTLP partial-success contract
(exporter/otlpexporter/otlp.go:143-149)."""

from __future__ import annotations

import os
from datetime import datetime

from pyspark.sql import functions as F

from opentelemetry_collector_spark.plans import errors
from opentelemetry_collector_spark.plans.pipeline import run_pipeline
from opentelemetry_collector_spark.sinks.tables import TableCatalog
from opentelemetry_collector_spark.sources import derive_transcripts

TS = datetime(2025, 1, 1, 0, 0, 0)
SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def test_write_with_partial_success_unit(spark, tmp_path):
    catalog = TableCatalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [
            ("c1", 0, "user", "ok", "search", TS),
            (None, 1, "user", "poison", "search", TS),
            ("c2", -5, "user", "bad idx", "search", TS),
        ],
        SCHEMA,
    )
    ok, rejected = errors.write_with_partial_success(catalog, "out", df)
    assert (ok, rejected) == (1, 2)
    assert catalog.read("out").count() == 1
    reasons = {
        r["reject_reason"] for r in catalog.read("rejected_out").collect()
    }
    assert reasons == {"null_conv_id", "negative_turn_idx"}


def test_clean_write_has_no_rejected_table(spark, tmp_path):
    catalog = TableCatalog(spark, str(tmp_path / "whc"))
    df = spark.createDataFrame([("c1", 0, "user", "ok", "search", TS)], SCHEMA)
    ok, rejected = errors.write_with_partial_success(catalog, "out", df)
    assert (ok, rejected) == (1, 0)
    assert not os.path.isdir(catalog.path("rejected_out"))


def test_clean_rewrite_removes_stale_rejected_table(spark, tmp_path):
    """A rewrite replaces a table's rejected side too: a clean write
    after one whose only row was rejected leaves no ``rejected_<table>``
    behind, and the all-rejected write still leaves an empty table."""
    catalog = TableCatalog(spark, str(tmp_path / "whs"))
    poison = spark.createDataFrame([(None, 0, "user", "x", "search", TS)], SCHEMA)
    assert errors.write_with_partial_success(catalog, "out", poison) == (0, 1)
    assert catalog.read("out").count() == 0
    clean = spark.createDataFrame([("c1", 0, "user", "ok", "search", TS)], SCHEMA)
    assert errors.write_with_partial_success(catalog, "out", clean) == (1, 0)
    assert not os.path.isdir(catalog.path("rejected_out"))


def test_flagship_poison_row_lands_in_rejected_table(spark, sf_dir, tmp_path, receiver_rows):
    poison_text = "[seq=1] call tool=search status=200 latency_ms=5 msg=x k1"

    def src(s):
        base = derive_transcripts(s, sf_dir)
        poison = s.createDataFrame(
            [(None, 0, "user", poison_text, "search", TS)], SCHEMA
        )
        return base.unionByName(poison)

    wh = str(tmp_path / "whp")
    with receiver_rows(src(spark)):
        res = run_pipeline(spark, sf_dir, wh)
    catalog = TableCatalog(spark, wh)

    # the sink commit succeeded, poison excluded, accounted in the ack
    rej = catalog.read("rejected_sink_search")
    assert rej.count() == 1
    assert rej.first()["reject_reason"] == "null_conv_id"
    assert catalog.read("sink_search").filter(F.col("conv_id").isNull()).count() == 0
    m = next(x for x in res.metrics if x["stage"] == "write_sink_search")
    assert m["rejected"] == 1 and m["rows_in"] == m["rows_out"] + 1
    # lineage counts what landed: the rejected row is in no partition
    lin = spark.read.parquet(catalog.path("lineage")).filter(F.col("stage") == "write_sink_search")
    assert lin.agg(F.sum("rows")).first()[0] == m["rows_out"]


def test_quarantine_route_has_partial_success(spark, sf_dir, tmp_path, receiver_rows):
    """The quarantine route is written by the same rules as every sink:
    an unparseable turn with a NULL conv_id lands in rejected_quarantine
    and the write_quarantine ack counts it as rejected."""

    def src(s):
        return derive_transcripts(s, sf_dir).unionByName(s.createDataFrame(
            [(None, 0, "user", "no header at all", "search", TS),
             ("c-bad", 0, "user", "no header either", "search", TS)], SCHEMA))

    wh = str(tmp_path / "whq")
    with receiver_rows(src(spark)):
        res = run_pipeline(spark, sf_dir, wh)
    catalog = TableCatalog(spark, wh)
    rej = catalog.read("rejected_quarantine").collect()
    assert [(r["conv_id"], r["reject_reason"]) for r in rej] == [(None, "null_conv_id")]
    assert [r["conv_id"] for r in catalog.read("quarantine").collect()] == ["c-bad"]
    m = next(x for x in res.metrics if x["stage"] == "write_quarantine")
    assert (m["rows_in"], m["rows_out"], m["rejected"]) == (2, 1, 1)
    assert res.quarantined == 1
