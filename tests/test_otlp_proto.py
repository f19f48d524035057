"""OTLP protobuf wire codec: golden byte vectors (hand-derived from the
proto3 wire spec — they pin this encoder's ascending-order layout; a
pdata/plog/pb.go reader decodes it to the same message, though Go's
marshaler writes fields descending) plus the Spark encode→decode round
trip."""

from __future__ import annotations

from pyspark.sql import functions as F

from opentelemetry_collector_spark.sources import otlp_proto as op


def test_varint_golden():
    assert op._varint(0) == b"\x00"
    assert op._varint(1) == b"\x01"
    assert op._varint(127) == b"\x7f"
    assert op._varint(128) == b"\x80\x01"
    assert op._varint(300) == b"\xac\x02"
    # int64 negatives are 10-byte two's-complement varints
    assert op._varint(-1) == b"\xff" * 9 + b"\x01"


def test_log_record_golden_bytes():
    """Every byte hand-derived from the wire spec: field keys are
    (field<<3)|wire_type varints, fixed64 little-endian, nested
    messages length-delimited, ascending field order, proto3 empty
    omission (event_name='' writes nothing)."""
    rec = op.encode_log_record(
        time_unix_nano=1,
        severity_number=9,
        severity_text="INFO",
        body="hi",
        turn_idx=0,
        event_name="",
    )
    expect = bytes.fromhex(
        "09" + "0100000000000000"  # 1: fixed64 time = 1
        + "10" + "09"              # 2: varint severity = 9
        + "1a" + "04" + "494e464f"  # 3: "INFO"
        + "2a" + "04" + "0a02" + "6869"  # 5: AnyValue{1:"hi"}
        # 6: KeyValue{1:"turn.idx", 2: AnyValue{3: int 0}} — a set
        # oneof member is always written, even at its zero value, as
        # Go does, so a reader decodes Int(0), not an empty AnyValue;
        # omission is only for plain fields
        + "32" + "0e" + "0a08" + "7475726e2e696478" + "1202" + "1800"
        # 12: event_name "" omitted entirely
    )
    assert rec == expect


def test_resource_logs_golden_and_decode():
    rec = op.encode_log_record(2, 17, "ERROR", "x", 3, "tool_use")
    buf = op.encode_resource_logs("c-1", [("bash", [rec])])
    # LogsData{1: ResourceLogs{1: Resource{1: KeyValue{conv.id=c-1}},
    #                          2: ScopeLogs{1: Scope{1:"bash"}, 2: rec}}}
    kv = bytes.fromhex("0a07" + "636f6e762e6964" + "1205" + "0a03" + "632d31")
    resource_msg = bytes.fromhex("0a" + format(len(kv), "02x")) + kv
    scope = bytes.fromhex("0a06" + "0a04" + "62617368")
    sl = scope + bytes.fromhex("12" + format(len(rec), "02x")) + rec
    rl = (
        bytes.fromhex("0a" + format(len(resource_msg), "02x"))
        + resource_msg
        + bytes.fromhex("12" + format(len(sl), "02x"))
        + sl
    )
    expect = bytes.fromhex("0a" + format(len(rl), "02x")) + rl
    assert buf == expect

    rows = op.decode_logs(buf)
    assert rows == [
        {
            "res_conv": "c-1",
            "scope_name": "bash",
            "ts_unix_nano": 2,
            "severity_number": 17,
            "severity_text": "ERROR",
            "body_text": "x",
            "event_name": "tool_use",
            "turn_idx": 3,
        }
    ]


def test_decode_inverts_encode_unicode_and_empty():
    rec = op.encode_log_record(
        1_700_000_000_000_000_000, 13, "WARN", "héllo ∆ wörld", 42, ""
    )
    buf = op.encode_resource_logs("конв", [("none", [rec])])
    (row,) = op.decode_logs(buf)
    assert row["res_conv"] == "конв"
    assert row["body_text"] == "héllo ∆ wörld"
    assert row["turn_idx"] == 42
    assert row["event_name"] == ""
    assert row["ts_unix_nano"] == 1_700_000_000_000_000_000


def test_decode_logs_turn_idx_is_keyed_on_turn_idx():
    """turn_idx is the turn.idx attribute's value, even when another Int
    attribute follows it on the wire."""
    rec = op.encode_log_record(1, 9, "INFO", "x", 3, "")
    # 6: KeyValue{1: "http.status", 2: AnyValue{3: Int(500)}}
    rec += bytes.fromhex("3212" + "0a0b" + b"http.status".hex() + "1203" + "18f403")
    (row,) = op.decode_logs(op.encode_resource_logs("c", [("s", [rec])]))
    assert row["turn_idx"] == 3


def test_read_otlp_proto_rejects_a_truncated_file_whole(spark, tmp_path):
    """One good and one truncated .pb file: every good record is read
    (decode_error NULL), and the truncated file becomes exactly one row
    whose decode_error names the reason, its data columns NULL — the
    task does not fail and no part of the bad file is accepted."""
    good = op.encode_resource_logs("c-good", [("bash", [
        op.encode_log_record(i + 1, 9, "INFO", f"t{i}", i, "") for i in range(3)
    ])])
    bad = op.encode_resource_logs("c-bad", [("bash", [
        op.encode_log_record(1, 9, "INFO", "lost", 0, ""),
    ])])
    (tmp_path / "good.pb").write_bytes(good)
    (tmp_path / "bad.pb").write_bytes(bad[:-3])
    rows = op.read_otlp_proto(spark, str(tmp_path)).collect()
    ok = sorted(
        (r["res_conv"], r["turn_idx"], r["body_text"])
        for r in rows if r["decode_error"] is None
    )
    assert ok == [("c-good", i, f"t{i}") for i in range(3)]
    (err,) = [r for r in rows if r["decode_error"] is not None]
    assert err["decode_error"] == "truncated_length"
    assert all(v is None for k, v in err.asDict().items() if k != "decode_error")


def test_proto_file_export_ingest(spark, sf_dir, tmp_path):
    """Exporter → .pb files → file receiver reproduces every record
    (the S1 ingest path for stored OTLP blobs)."""
    from opentelemetry_collector_spark.operators import parse as parse_ops
    from opentelemetry_collector_spark.sources.transcripts import (
        derive_transcripts,
    )

    parsed = parse_ops.parse_stage(
        derive_transcripts(spark, sf_dir), with_attrs=False
    ).limit(200)
    env = op.encode_logs_proto(parsed)
    out = str(tmp_path / "pb")
    n_files = op.write_proto_files(env, out)
    assert n_files == env.count()
    back = op.read_otlp_proto(spark, out)
    got = sorted(
        (r["res_conv"], r["turn_idx"], r["body_text"])
        for r in back.collect()
    )
    want = sorted(
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in parsed.select("conv_id", "turn_idx", "text").collect()
    )
    assert got == want


def test_spark_proto_roundtrip(spark, sf_dir):
    """encode_logs_proto → decode_logs_proto over real parsed turns
    reproduces every record (same invariant the driver query oracles
    at sf0.01)."""
    from opentelemetry_collector_spark.operators import parse as parse_ops
    from opentelemetry_collector_spark.sources.transcripts import (
        derive_transcripts,
    )

    parsed = parse_ops.parse_stage(
        derive_transcripts(spark, sf_dir), with_attrs=False
    ).limit(500)
    env = op.encode_logs_proto(parsed)
    flat = op.decode_logs_proto(env, carry=["conv_id"])
    got = flat.select(
        "conv_id",
        (F.col("res_conv") == F.col("conv_id")).alias("ok"),
        "turn_idx", "severity_number", "body_text",
    )
    rows = got.collect()
    assert rows and all(r["ok"] for r in rows)
    # record-level equality against the input
    expect = {
        (r["conv_id"], r["turn_idx"]): (r["severity_num"], r["text"])
        for r in parsed.select(
            "conv_id", "turn_idx", "severity_num", "text"
        ).collect()
    }
    for r in rows:
        sev, text = expect[(r["conv_id"], r["turn_idx"])]
        assert r["severity_number"] == sev and r["body_text"] == text
    assert len(rows) == len(expect)


# --- metrics wire codec (metrics/v1/metrics.proto) --------------------------


def test_metrics_exp_histogram_golden_bytes():
    """Hand-derived MetricsData for one exp-histogram point: scale 2
    (zigzag 4), positive offset 3 (zigzag 6) with packed counts [1,2],
    count 3 fixed64, positive/negative bucket messages always present
    (the reference marshals them unconditionally)."""
    from opentelemetry_collector_spark.sources import otlp_proto as m

    metric = m.encode_exp_histogram_metric(
        "lat", "ms",
        [{"attrs": [("tool", "s")], "count": 3, "zero_count": 0,
          "scale": 2, "pos_offset": 3, "pos_counts": [1, 2],
          "neg_offset": 0, "neg_counts": []}],
    )
    expect = bytes.fromhex(
        "0a" + "03" + "6c6174"          # 1: name "lat"
        + "1a" + "02" + "6d73"           # 3: unit "ms"
        + "52" + "26"                    # 10: exponential_histogram, len 38
        + "0a" + "22"                    # 1: data_point, len 34
        + "0a" + "0b"                    # 1: attributes KeyValue, len 11
        + "0a04" + "746f6f6c"            # 1: key "tool"
        + "1203" + "0a01" + "73"         # 2: AnyValue{1:"s"}
        + "21" + "0300000000000000"      # 4: count fixed64 = 3
        + "30" + "04"                    # 6: scale sint32 zigzag(2)=4
        + "42" + "06"                    # 8: positive Buckets, len 6
        + "08" + "06"                    # 1: offset zigzag(3)=6
        + "12" + "02" + "0102"           # 2: packed counts [1,2]
        + "4a" + "00"                    # 9: negative Buckets, empty
        + "10" + "02"                    # 2: temporality CUMULATIVE
    )
    assert metric == expect, (metric.hex(), expect.hex())


def test_metrics_exp_histogram_point_times_roundtrip():
    """Exp-histogram points carry start_time_unix_nano (field 2) and
    time_unix_nano (field 3) as fixed64, and decode gives both back."""
    from opentelemetry_collector_spark.sources import otlp_proto as m

    pt = {"attrs": [("tool", "s")], "start_time": 1_700_000_000_000_000_000,
          "time": 1_700_000_060_000_000_000, "count": 2, "zero_count": 1,
          "scale": 0, "pos_offset": -1, "pos_counts": [1],
          "neg_offset": 0, "neg_counts": []}
    metric = m.encode_exp_histogram_metric("lat", "ms", [pt])
    assert (b"\x19" + pt["time"].to_bytes(8, "little")) in metric
    assert (b"\x11" + pt["start_time"].to_bytes(8, "little")) in metric
    (got,) = m.decode_metrics(m.encode_resource_metrics([], "scope", [metric]))
    assert got["type"] == "exponential_histogram"
    assert got["start_time"] == pt["start_time"] and got["time"] == pt["time"]
    for k in ("count", "zero_count", "scale", "pos_offset", "pos_counts"):
        assert got[k] == pt[k], k
    assert got["attrs"] == {"tool": "s"}


def test_metrics_number_point_roundtrip():
    """Gauge and Sum number points survive encode→decode, including
    the always-written oneof value (as_int 0), negative ints, doubles,
    monotonic + temporality flags, and attributes (field 7)."""
    from opentelemetry_collector_spark.sources import otlp_proto as m

    gauge = m.encode(m.METRIC, {"name": "g", "unit": "1", "gauge": {"data_points": [
        {"attributes": m.string_attributes([("tool", "py")]), "time_unix_nano": 123,
         "as_double": -2.5},
        {"time_unix_nano": 124, "as_int": 0},
    ]}})
    s = m.encode(m.METRIC, {"name": "s", "unit": "By", "sum": {
        "data_points": [{"attributes": m.string_attributes([("tool", "ed")]),
                         "time_unix_nano": 125, "as_int": -7}],
        "aggregation_temporality": m.AGG_TEMPORALITY_DELTA, "is_monotonic": True,
    }})
    env = m.encode_resource_metrics([("conv.id", "c1")], "scope", [gauge, s])
    pts = m.decode_metrics(env)
    assert [p["type"] for p in pts] == ["gauge", "gauge", "sum"]
    g0, g1, s0 = pts
    assert g0["as_double"] == -2.5 and g0["attrs"] == {"tool": "py"}
    assert g1["as_int"] == 0 and g1["time"] == 124
    assert s0["as_int"] == -7 and s0["monotonic"] is True
    assert s0["temporality"] == m.AGG_TEMPORALITY_DELTA
    assert all(p["res_attrs"] == {"conv.id": "c1"} for p in pts)
    assert all(p["scope_name"] == "scope" for p in pts)


def test_metrics_proto_spark_roundtrip(spark):
    """decode(encode(hist)) == hist through the Spark wrappers,
    including a NULL group (absent attribute on the wire) and negative
    bucket indexes (values < 1)."""
    from pyspark.sql import functions as F

    from opentelemetry_collector_spark.operators import exphist
    from opentelemetry_collector_spark.sources import otlp_proto as m

    df = spark.createDataFrame(
        [("a", 0.3), ("a", 5.0), ("a", 5.0), ("a", 0.0), (None, 2.0)],
        "tool string, v double",
    )
    hist = exphist.exponential_histogram(df, "v", scale=2)
    back = m.decode_metrics_proto(
        m.encode_metrics_proto(hist, "v", "1", scale=2), group_col="tool"
    )
    def rows(df):
        return sorted(
            ((r["tool"], r["sign"], r["idx"], r["n"])
             for r in df.select("tool", "sign", "idx", "n").collect()),
            key=lambda t: tuple("" if x is None else str(x) for x in t),
        )

    a, b = rows(hist), rows(back)
    assert a == b and len(a) == 4


def test_metrics_summary_and_histogram_roundtrip():
    """Summary (attributes field 7, quantile_values {q=1,v=2} doubles)
    and explicit-bounds Histogram (attributes field 9, packed fixed64
    bucket counts, packed double bounds) survive encode→decode — all
    five metric data-point types now round-trip on the proto wire."""
    from opentelemetry_collector_spark.sources import otlp_proto as m

    tool = m.string_attributes([("tool", "s")])
    summ = m.encode(m.METRIC, {"name": "lat_summary", "unit": "ms", "summary": {
        "data_points": [{
            "attributes": tool, "time_unix_nano": 9, "count": 100, "sum": 5050.0,
            "quantile_values": [{"quantile": 0.5, "value": 50.5},
                                {"quantile": 0.99, "value": 99.01}],
        }],
    }})
    hist = m.encode(m.METRIC, {"name": "lat_hist", "unit": "ms", "histogram": {
        "data_points": [{
            "attributes": tool, "time_unix_nano": 9, "count": 6, "sum": 12.5,
            "bucket_counts": [1, 2, 3], "explicit_bounds": [10.0, 100.0],
        }],
        "aggregation_temporality": m.AGG_TEMPORALITY_DELTA,
    }})
    env = m.encode_resource_metrics([("corpus", "t")], "scope", [summ, hist])
    pts = m.decode_metrics(env)
    assert [p["type"] for p in pts] == ["summary", "histogram"]
    s, h = pts
    assert s["count"] == 100 and s["sum"] == 5050.0
    assert s["quantiles"] == [(0.5, 50.5), (0.99, 99.01)]
    assert s["attrs"] == {"tool": "s"} and s["time"] == 9
    assert h["bucket_counts"] == [1, 2, 3] and h["bounds"] == [10.0, 100.0]
    assert h["count"] == 6 and h["sum"] == 12.5
    assert h["temporality"] == m.AGG_TEMPORALITY_DELTA
