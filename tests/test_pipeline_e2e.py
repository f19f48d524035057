"""End-to-end pipeline: fan-out exactly-once, quarantine, checkpoint
resume with no loss / no duplication (the contract-checker scenario,
receiver/receivertest/contract_checker.go:75-120)."""

from __future__ import annotations

from datetime import datetime

import duckdb
import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_spark import sqltext
from opentelemetry_collector_spark.operators import parse as parse_ops
from opentelemetry_collector_spark.plans.pipeline import run_pipeline
from opentelemetry_collector_spark.sinks.tables import TableCatalog
from opentelemetry_collector_spark.sources import derive_transcripts
from opentelemetry_collector_spark.sqltext import SINK_NAMES


def test_fanout_exactly_once(spark, sf_dir, tmp_path):
    wh = str(tmp_path / "wh")
    res = run_pipeline(spark, sf_dir, wh)
    catalog = TableCatalog(spark, wh)

    n_input = derive_transcripts(spark, sf_dir).count()
    n_sinks = sum(res.sink_counts.values())
    # every parseable row reaches exactly one sink; quarantine keeps the rest
    assert n_sinks + res.quarantined == n_input
    assert res.quarantined == 0  # all synthetic rows parse

    # routed-row-set equality: union of sinks == routed parse output, both directions
    union = None
    for s in SINK_NAMES:
        t = catalog.read(s)
        union = t if union is None else union.unionByName(t)
    assert union.count() == n_sinks
    # (conv_id, turn_idx) unique across all sinks — no duplication
    assert union.select("conv_id", "turn_idx").distinct().count() == n_sinks

    # aggregates exist and counts reconcile per sink
    for s, n in res.sink_counts.items():
        agg = catalog.read(f"agg_{s}")
        assert agg.agg(F.sum("turn_count")).collect()[0][0] == (n or None) or n == 0


def test_resume_skips_completed_and_is_idempotent(spark, sf_dir, tmp_path, crash_after_ack):
    wh = str(tmp_path / "wh2")
    # first attempt crashes after the search-sink write is acked
    with crash_after_ack("write_sink_search"), pytest.raises(RuntimeError, match="injected failure"):
        run_pipeline(spark, sf_dir, wh, run_id="runA")

    # resume with the same run_id: completed stages skipped, rest executed
    res = run_pipeline(spark, sf_dir, wh, run_id="runA")
    assert "write_quarantine" in res.stages_skipped
    assert "write_sink_search" in res.stages_skipped

    # no loss, no duplication after resume
    catalog = TableCatalog(spark, wh)
    n_input = derive_transcripts(spark, sf_dir).count()
    union = None
    for s in SINK_NAMES:
        t = catalog.read(s)
        union = t if union is None else union.unionByName(t)
    assert union.count() == n_input
    assert union.select("conv_id", "turn_idx").distinct().count() == n_input


def test_turn_order_stability(spark, sf_dir):
    """Per-turn text equality under stable (conv_id, turn_idx) ordering —
    the north rule's per-row invariant. Deterministic across runs and
    partitionings."""
    from pyspark.sql import Window

    df = derive_transcripts(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    ordered = df.withColumn("rn", F.row_number().over(w))
    # turn_idx is dense 0..n-1 per conversation → rn == turn_idx + 1
    assert ordered.filter(F.col("rn") != F.col("turn_idx") + 1).count() == 0

    a = df.orderBy("conv_id", "turn_idx").select("text").collect()
    b = (
        df.repartition(13, "conv_id")
        .orderBy("conv_id", "turn_idx")
        .select("text")
        .collect()
    )
    assert a == b


def test_out_of_range_numbers_reach_quarantine(spark, sf_dir, tmp_path, receiver_rows):
    """A digit run too large for its column never fails the task: an
    overflowing seq or status sends the turn to quarantine, and an
    overflowing bytes leaves the turn in its sink with NULL bytes. The
    DuckDB twin PARSED_SQL agrees row for row."""
    big = "12345678901234567890"
    rows = [
        ("c-seq", 0, "user", f"[seq={big}] call tool=search status=200 latency_ms=5 msg=a", "search"),
        ("c-status", 0, "user", "[seq=1] call tool=search status=20000000000 latency_ms=5 msg=b", "search"),
        ("c-bytes", 0, "tool", f"[seq=2] result status=200 latency_ms=5 bytes={big} msg=c", "search"),
    ]
    ts = datetime(2025, 1, 1)
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    src = spark.createDataFrame([r + (ts,) for r in rows], schema)
    cols = ["conv_id", "seq", "status_code", "bytes", "parse_ok"]
    want = [
        ("c-bytes", 2, 200, None, True),
        ("c-seq", None, 200, None, False),
        ("c-status", 1, None, None, False),
    ]

    parsed = parse_ops.parse_stage(src)
    assert sorted(tuple(r) for r in parsed.select(cols).collect()) == want
    good, bad = parse_ops.quarantine_split(parsed)
    assert [r["conv_id"] for r in good.collect()] == ["c-bytes"]
    assert sorted(r["conv_id"] for r in bad.collect()) == ["c-seq", "c-status"]

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE transcripts (conv_id VARCHAR, turn_idx INT, role VARCHAR, "
        "text VARCHAR, tool VARCHAR, ts TIMESTAMP)"
    )
    con.executemany("INSERT INTO transcripts VALUES (?, ?, ?, ?, ?, ?)",
                    [r + (ts,) for r in rows])
    got = con.sql(
        f"SELECT {', '.join(cols)} FROM ({sqltext.PARSED_SQL}) ORDER BY conv_id"
    ).fetchall()
    assert got == want

    wh = str(tmp_path / "who")
    with receiver_rows(src):
        res = run_pipeline(spark, sf_dir, wh)
    assert res.quarantined == 2
    assert res.sink_counts["sink_search"] == 1
    catalog = TableCatalog(spark, wh)
    assert [(r["conv_id"], r["bytes"]) for r in catalog.read("sink_search").collect()] == [
        ("c-bytes", None)
    ]
    assert sorted(r["conv_id"] for r in catalog.read("quarantine").collect()) == [
        "c-seq", "c-status"
    ]
