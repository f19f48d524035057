"""Operator semantics vs the reference contracts: attribute ops (OTTL
RFC), filter config validation, debug-exporter rendering, synth
generator invariants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_spark.operators import filters as filter_ops
from opentelemetry_collector_spark.operators import parse as parse_ops
from opentelemetry_collector_spark.operators.attributes import (
    delete_attr as attrs_delete,
    keep_keys as attrs_keep_keys,
    replace_match as attrs_replace_match,
    set_attr as attrs_set,
)
from opentelemetry_collector_spark.sinks.tables import debug_format
from opentelemetry_collector_spark.sources import derive_transcripts, synth_transcripts


@pytest.fixture(scope="module")
def parsed(spark, sf_dir):
    # unpersisted after the module: a leaked cache of the parse plan
    # would stand in for that plan in every later test's query
    df = parse_ops.parse_stage(derive_transcripts(spark, sf_dir)).cache()
    yield df
    df.unpersist()


def test_attr_ops_rfc_semantics(spark, parsed):
    # docs/rfcs/processing.md:147-216 — set / delete / keep_keys / replace
    df = parsed.limit(20)
    one = attrs_set(df, "env", F.lit("prod")).select("attrs").first()["attrs"]
    assert one["env"] == "prod"
    gone = attrs_delete(df, "msg").select("attrs").first()["attrs"]
    assert "msg" not in gone
    kept = attrs_keep_keys(df, ["seq", "status"]).select("attrs").first()["attrs"]
    assert set(kept) <= {"seq", "status"}


def test_attrs_replace_match_only_matching_key(spark, parsed):
    df = parsed.limit(20)
    out = attrs_replace_match(df, "status", "^5..$", "5xx").select("attrs").collect()
    for r in out:
        a = r["attrs"]
        if a.get("status", "").startswith("5") and len(a["status"]) == 3:
            assert a["status"] == "5xx" or not a["status"].startswith("5")


def test_matchspec_validation():
    # filter/config.go:59-63: strict and regexp are mutually exclusive
    with pytest.raises(ValueError, match="mutually exclusive"):
        filter_ops.MatchSpec(column="x", strict=["a"], regexp=["b"])
    with pytest.raises(ValueError, match="empty"):
        filter_ops.MatchSpec(column="x")
    with pytest.raises(ValueError, match="include|exclude"):
        filter_ops.filter_stage(None, [filter_ops.MatchSpec(column="x", strict=["a"])], mode="bad")


def test_include_exclude_partition(spark, parsed):
    # include(pred) ∪ exclude(pred) == all, disjoint
    specs = [filter_ops.MatchSpec(column="tool", strict=["search", "none"])]
    inc = filter_ops.filter_stage(parsed, specs, "include").count()
    exc = filter_ops.filter_stage(parsed, specs, "exclude").count()
    assert inc + exc == parsed.count() and inc > 0 and exc > 0


def test_debug_format_normal(spark, parsed):
    # exporter/debugexporter normal mode: "<body> key=value ..." one line/record
    lines = debug_format(parsed.limit(5)).collect()
    assert all(" seq=" in r["line"] and r["line"].startswith("[seq=") for r in lines)
    basic = debug_format(parsed, verbosity="basic").collect()
    assert basic[0]["resource_logs"] == parsed.count()


def test_synth_generator_invariants(spark):
    df = synth_transcripts(spark, n_conversations=100, mean_turns=8,
                           hot_conversations=1, hot_turns=100)
    # (conv_id, turn_idx) unique — the UniqueIDAttrName invariant
    n = df.count()
    assert df.select("conv_id", "turn_idx").distinct().count() == n
    # turn_idx dense from 0 per conversation
    mx = df.groupBy("conv_id").agg(F.max("turn_idx").alias("mx"), F.count(F.lit(1)).alias("c"))
    assert mx.filter(F.col("mx") != F.col("c") - 1).count() == 0
    # all texts parseable by the parse stage
    parsed = parse_ops.parse_stage(df)
    assert parsed.filter(~F.col("parse_ok")).count() == 0


def test_kmeans_cells_deterministic_and_balanced(spark, sf_dir):
    """Lloyd quantizer: same cells on repeated invocation (no RNG), all
    k cells populated on the embeddings corpus, ids preserved."""
    from opentelemetry_collector_spark.operators.similarity import kmeans_cells

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out1, cents1 = kmeans_cells(emb, k=4, iters=2)
    out2, cents2 = kmeans_cells(emb, k=4, iters=2)
    assert cents1 == cents2
    a = dict((r["vec_id"], r["cell"]) for r in out1.collect())
    b = dict((r["vec_id"], r["cell"]) for r in out2.collect())
    assert a == b
    assert len(set(a.values())) == 4
    assert len(a) == emb.count()


def test_otlp_json_file_receiver_round_trip(spark, sf_dir, tmp_path):
    """Export → OTLP/JSON envelope files → ingest reproduces every
    record: the encoder (exporter side) and the file receiver
    (sources/otlp_json.read_otlp_json) are exact inverses."""
    from opentelemetry_collector_spark.sources import derive_transcripts
    from opentelemetry_collector_spark.sources import otlp_json as oj

    parsed = parse_ops.parse_stage(derive_transcripts(spark, sf_dir)).withColumn(
        # exercise the full control-char escape table: ESC, bell, quote
        "text",
        F.when(
            F.col("turn_idx") % 5 == 0,
            F.concat(F.col("text"), F.lit(' c="\x1b[31m\x07"')),
        ).otherwise(F.col("text")),
    )
    out = str(tmp_path / "wire")
    oj.encode_envelope(parsed).select("wire").write.mode("overwrite").text(out)

    got = oj.read_otlp_json(spark, out)
    assert got.count() == parsed.count()
    # per-record field equality against the original parsed rows
    orig = parsed.select(
        "conv_id", "turn_idx", F.col("text").alias("body_text"),
        F.col("event_kind").alias("event_name"),
        F.col("severity_num").alias("severity_number"),
    )
    back = got.select(
        "conv_id", "turn_idx", "body_text", "event_name", "severity_number"
    )
    assert back.exceptAll(orig).count() == 0
    assert orig.exceptAll(back).count() == 0


def test_chunk_documents_edge_math(spark):
    """Exact chunk-count edges: a doc of exactly chunk_tokens words is
    one chunk, one extra word adds a clipped second chunk that starts
    at the overlap, and a short doc yields a single short chunk."""
    from opentelemetry_collector_spark.operators.packing import chunk_documents

    rows = [
        (1, " ".join(f"w{i}" for i in range(8))),   # exactly chunk_tokens
        (2, " ".join(f"w{i}" for i in range(9))),   # one over
        (3, "a b c"),                                # short
    ]
    df = spark.createDataFrame(rows, "id bigint, text string")
    out = chunk_documents(df, chunk_tokens=8, overlap=2)
    got = {
        (r["id"], r["chunk_idx"]): (r["chunk_text"], r["n_chunk_tokens"])
        for r in out.collect()
    }
    assert sorted(k[1] for k in got if k[0] == 1) == [0]
    assert got[(1, 0)][1] == 8
    assert sorted(k[1] for k in got if k[0] == 2) == [0, 1]
    # second chunk starts at stride=6: words w6, w7, w8
    assert got[(2, 1)] == ("w6 w7 w8", 3)
    assert got[(3, 0)] == ("a b c", 3)


def test_pack_sequences_matches_serial_scan(spark):
    """The sharded distributed prefix sum must equal the serial
    concat-then-split accounting for arbitrary shard counts."""
    from opentelemetry_collector_spark.operators.packing import pack_sequences

    rows = [(i, 1 + (i * 7) % 13) for i in range(100)]
    df = spark.createDataFrame(rows, "id bigint, n_tokens bigint")
    for shards in (1, 3, 32):
        out = {
            r["id"]: (r["start_offset"], r["seq_id"], r["straddles"])
            for r in pack_sequences(df, budget=20, shards=shards).collect()
        }
        off = 0
        for i, n in rows:
            seq = off // 20
            straddle = int((off + n - 1) // 20 > seq)
            assert out[i] == (off, seq, straddle), (shards, i)
            off += n


def test_pack_sequences_no_exact_quantile_and_derived_shards(spark):
    """Scale hygiene: the shard-boundary quantile pass must use a
    nonzero relativeError (exact mode's summary state grows with
    distinct ids), and the default shard count must scale with input
    size instead of a fixed 32."""
    from opentelemetry_collector_spark.operators import packing

    assert packing.QUANTILE_EPS > 0
    # derived count grows with rows and is clamped at both ends
    assert packing.derive_shards(0) == 1
    assert packing.derive_shards(1) == 1
    assert packing.derive_shards(packing.ROWS_PER_SHARD) == 1
    assert packing.derive_shards(packing.ROWS_PER_SHARD + 1) == 2
    assert packing.derive_shards(10 * packing.ROWS_PER_SHARD) == 10
    assert packing.derive_shards(10**12) == packing.MAX_SHARDS

    # the runtime call path must pass QUANTILE_EPS, never 0 (exact)
    rows = [(i, 1 + i % 5) for i in range(50)]
    df = spark.createDataFrame(rows, "id bigint, n_tokens bigint")
    seen = []
    orig = type(df.stat).approxQuantile

    def spy(self, col, probs, eps):
        seen.append(eps)
        return orig(self, col, probs, eps)

    type(df.stat).approxQuantile = spy
    try:
        out = {
            r["id"]: r["start_offset"]
            for r in packing.pack_sequences(df, budget=20, shards=3).collect()
        }
    finally:
        type(df.stat).approxQuantile = orig
    assert seen == [packing.QUANTILE_EPS]
    off = 0
    for i, n in rows:
        assert out[i] == off
        off += n


def test_pack_sequences_sparse_ids_stay_balanced(spark):
    """Augmented-style sparse ids (a dense base cluster plus +1M
    copies) must neither skew the shards (quantile boundaries are
    row-count based, not value based) nor change the result."""
    from opentelemetry_collector_spark.operators.packing import pack_sequences

    ids = list(range(100)) + [1_000_000 + i for i in range(0, 100, 10)]
    rows = [(i, 1 + i % 9) for i in ids]
    df = spark.createDataFrame(rows, "id bigint, n_tokens bigint")
    out = {
        r["id"]: (r["start_offset"], r["seq_id"])
        for r in pack_sequences(df, budget=25, shards=4).collect()
    }
    off = 0
    for i, n in sorted(rows):
        assert out[i] == (off, off // 25), i
        off += n
    # the quantile boundaries used internally must split the dense
    # cluster instead of putting all 100 base rows in one shard
    bounds = df.stat.approxQuantile("id", [0.25, 0.5, 0.75], 0.0)
    shard_of = lambda v: sum(v > b for b in sorted(set(bounds)))
    from collections import Counter
    occupancy = Counter(shard_of(i) for i in ids)
    assert max(occupancy.values()) <= 40, occupancy


def test_lsh_topk_wrong_explicit_dim_fails_loudly(spark):
    """A caller-supplied wrong dim would NULL every dot product via
    zip_with padding and silently return an empty top-k; the lazy
    size()==dim guard must instead raise on the first mismatching
    row (and a correct explicit dim must behave as before)."""
    import pytest

    from opentelemetry_collector_spark.operators.similarity import lsh_topk

    rows = [(i, [float(i), float(i + 1), 1.0, -1.0]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    q = df.filter("vec_id < 2")

    ok = lsh_topk(df, q, n_planes=4, dim=4, k=3)
    assert ok.count() > 0

    with pytest.raises(Exception, match="explicit dim=8"):
        lsh_topk(df, q, n_planes=4, dim=8, k=3).count()
