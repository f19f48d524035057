"""Unit tests for attribute-mutation verbs (P2), debug rendering (S5),
and turn-order windows — reference-semantics invariants:

* a mutation never materializes a missing key ("empty ≠ unset",
  processor/batchprocessor/config.go:31-40);
* set() is last-write-wins (pcommon.Map.PutStr, pdata/pcommon/map.go:77-90);
* top-k tiebreak is deterministic.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from opentelemetry_collector_spark.operators import attributes as attr_ops
from opentelemetry_collector_spark.operators import debugfmt, parse as parse_ops, windows
from opentelemetry_collector_spark.sources import synth_transcripts


def _tiny_parsed(spark):
    return parse_ops.parse_stage(
        synth_transcripts(spark, n_conversations=4, mean_turns=3,
                          hot_conversations=0, hot_turns=0)
    )


def test_set_is_upsert_last_write_wins(spark):
    df = _tiny_parsed(spark)
    df = attr_ops.set_attr(df, "env", F.lit("dev"))
    df = attr_ops.set_attr(df, "env", F.lit("prod"))
    vals = {r["v"] for r in df.select(F.element_at("attrs", "env").alias("v")).collect()}
    assert vals == {"prod"}


def test_replace_match_skips_missing_key(spark):
    df = _tiny_parsed(spark)
    df = attr_ops.delete_attr(df, "msg")
    df = attr_ops.replace_match(df, "msg", ".*", "X")
    vals = {r["v"] for r in df.select(F.element_at("attrs", "msg").alias("v")).collect()}
    assert vals == {None}  # mutation must not create the key


def test_keep_keys_then_len(spark):
    df = attr_ops.keep_keys(_tiny_parsed(spark), ["status", "tool"])
    sizes = {r["n"] for r in df.select(F.size("attrs").alias("n")).collect()}
    assert sizes <= {0, 1, 2}
    keys = df.select(F.explode(F.map_keys("attrs")).alias("k")).distinct().collect()
    assert {r["k"] for r in keys} <= {"status", "tool"}


def test_debug_normal_line_shape(spark):
    lines = _tiny_parsed(spark).select(debugfmt.line_expr().alias("line")).collect()
    for r in lines:
        assert r["line"].startswith("[seq=")
        assert " seq=" in r["line"] and " status=" in r["line"]
        # ES6 double rendering: integral latency prints without ".0"
        assert "latency_ms=" in r["line"]
        lat = r["line"].split("latency_ms=")[1].split(" ")[0]
        assert "." not in lat


def test_top_conversations_tiebreak_deterministic(spark):
    t = synth_transcripts(spark, n_conversations=20, mean_turns=4,
                          hot_conversations=0, hot_turns=0)
    a = [tuple(r) for r in windows.top_conversations(t, 5).orderBy("rank").collect()]
    b = [tuple(r) for r in windows.top_conversations(t, 5).orderBy("rank").collect()]
    assert a == b and len(a) == 5
    # all counts equal here → tiebreak must be ascending conv_id
    assert [r[0] for r in a] == sorted(r[0] for r in a)


def test_turn_order_dense_on_clean_input(spark):
    t = synth_transcripts(spark, n_conversations=6, mean_turns=5,
                          hot_conversations=0, hot_turns=0)
    out = windows.stabilize_turn_order(t)
    assert out.filter(~F.col("is_dense")).count() == 0
