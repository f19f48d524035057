"""Malformed wire bytes against the three OTLP protobuf decoders.

The reference receiver rejects a malformed request as a permanent error
and never accepts part of it (receiver/otlpreceiver/internal/logs/
otlp.go:33-56). So a payload cut short must decode to exactly its
source's rows or raise ``MalformedProto``; a payload with flipped or
spliced bytes may decode to other rows of the same shape (a flipped
letter is still a valid string) or raise ``MalformedProto``. No other
exception may escape: an ``IndexError`` would fail a Spark task."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from opentelemetry_collector_spark.sources import otlp_profiles_proto as opp
from opentelemetry_collector_spark.sources import otlp_proto as op


def _logs() -> bytes:
    recs = [
        op.encode_log_record(1_700_000_000_000_000_000, 9, "INFO", "héllo ∆", 0, "tool_use"),
        op.encode_log_record(2, 17, "ERROR", "", 7, ""),
        op.encode_log_record(3, 13, "WARN", "x y z", -1, "e"),
    ]
    return op.encode_resource_logs("conv-1", [("bash", recs[:2]), ("search", recs[2:])])


def _metrics() -> bytes:
    exp = op.encode_exp_histogram_metric("lat", "ms", [{
        "attrs": [("tool", "s")], "count": 4, "zero_count": 1, "scale": 2,
        "pos_offset": -3, "pos_counts": [1, 0, 2], "neg_offset": 0, "neg_counts": [],
    }])
    gauge = op.encode(op.METRIC, {"name": "g", "unit": "1", "gauge": {"data_points": [
        {"time_unix_nano": 5, "as_double": -2.5}, {"time_unix_nano": 6, "as_int": -7},
    ]}})
    hist = op.encode(op.METRIC, {"name": "h", "histogram": {"data_points": [{
        "count": 3, "sum": 1.5, "bucket_counts": [1, 2], "explicit_bounds": [10.0],
    }]}})
    return op.encode_resource_metrics([("corpus", "t")], "scope", [exp, gauge, hist])


def _profiles() -> bytes:
    return opp.encode_profiles_request("c", [
        {"turn_idx": i, "fname": f, "value_us": 10 * i, "ts_unix_nano": i}
        for i, f in enumerate(["search", "bash", "search", "edit"])
    ])


CASES = [
    pytest.param(op.decode_logs, _logs(), id="logs"),
    pytest.param(op.decode_metrics, _metrics(), id="metrics"),
    pytest.param(opp.decode_profiles_request, _profiles(), id="profiles"),
]


def _decode_or_reason(decoder, buf: bytes):
    try:
        return decoder(buf), None
    except op.MalformedProto as e:
        assert e.reason in op.REASONS, e.reason
        return None, e.reason


@pytest.mark.parametrize("decoder,payload", CASES)
def test_every_truncation_is_rejected_whole(decoder, payload):
    source = decoder(payload)
    assert source
    for n in range(1, len(payload)):
        rows, reason = _decode_or_reason(decoder, payload[:n])
        assert reason is not None or rows == source, n


@st.composite
def _mutations(draw, payload: bytes):
    n = len(payload)
    how = draw(st.sampled_from(["truncate", "flip", "splice"]))
    if how == "truncate":
        return how, payload[: draw(st.integers(1, n - 1))]
    if how == "flip":
        buf = bytearray(payload)
        buf[draw(st.integers(0, n - 1))] ^= draw(st.integers(1, 255))
        return how, bytes(buf)
    a = draw(st.integers(0, n))
    b = draw(st.integers(a, min(n, a + 16)))
    return how, payload[:a] + draw(st.binary(max_size=16)) + payload[b:]


@pytest.mark.parametrize("decoder,payload", CASES)
@settings(max_examples=400, deadline=None, derandomize=True)
@given(data=st.data())
def test_mutated_payload_decodes_cleanly_or_raises_malformed(decoder, payload, data):
    source = decoder(payload)
    how, buf = data.draw(_mutations(payload))
    rows, reason = _decode_or_reason(decoder, buf)
    if reason is not None:
        return
    if how == "truncate":
        assert rows == source
    else:  # a metric point's keys depend on its type; the common ones must be there
        common = set.intersection(*(set(r) for r in source))
        assert all(common <= r.keys() for r in rows)


LOG_RECORD_REJECTS = [
    ("truncated_varint", "10"),                     # 2: severity, no value
    ("varint_too_long", "10" + "ff" * 10 + "01"),   # 11-byte varint
    ("varint_too_long", "10" + "ff" * 9 + "02"),    # 10 bytes, 65 bits
    ("truncated_length", "1a05" + "6162"),          # 3: 5 bytes promised, 2 sent
    ("truncated_fixed", "09" + "0102"),             # 1: fixed64 cut short
    ("bad_wire_type", "0b"),                        # field 1, wire type 3
    ("bad_field_number", "0001"),                   # field 0
    ("wire_type_mismatch", "0a00"),                 # 1: fixed64 sent as bytes
    ("invalid_utf8", "1a01ff"),                     # 3: not UTF-8
    ("truncated_fixed", "5d0102"),                  # unknown 11: fixed32 cut short
]


@pytest.mark.parametrize("reason,hexbytes", LOG_RECORD_REJECTS)
def test_decode_rejects_with_named_reason(reason, hexbytes):
    with pytest.raises(op.MalformedProto) as e:
        op.decode(op.LOG_RECORD, bytes.fromhex(hexbytes))
    assert e.value.reason == reason
    assert isinstance(e.value, op.PermanentError)


def test_decode_skips_unknown_fields_and_accepts_unpacked():
    # unknown 11 (varint), 13 (bytes), 14 (fixed64), 15 (fixed32), then severity 9
    buf = bytes.fromhex("5801" + "6a026869" + "71" + "00" * 8 + "7d" + "00" * 4 + "1009")
    assert op.decode(op.LOG_RECORD, buf) == {"severity_number": 9}
    # packed bucket counts sent one element at a time, then packed
    assert op.decode(op.BUCKETS, bytes.fromhex("1003" + "1004" + "12020506")) == {
        "bucket_counts": [3, 4, 5, 6]
    }


def test_logs_value_wider_than_its_column_is_out_of_range():
    buf = op.encode_resource_logs("c", [("s", [op.encode_log_record(1, 9, "", "x", 1 << 40, "")])])
    assert _decode_or_reason(op.decode_logs, buf) == (None, "out_of_range")


WIDE = [
    pytest.param(
        lambda df: op.decode_metrics_proto(df),
        op.encode_resource_metrics([], "scope", [op.encode_exp_histogram_metric("lat", "ms", [{
            "attrs": [("tool", "s")], "count": 1 << 63, "zero_count": 1 << 63, "scale": 0,
            "pos_offset": 0, "pos_counts": [], "neg_offset": 0, "neg_counts": [],
        }])]),
        id="metrics_fixed64",
    ),
    pytest.param(
        lambda df: opp.decode_profiles_proto(df),
        opp.encode_profiles_request("c", [
            {"turn_idx": 1 << 40, "fname": "f", "value_us": 1, "ts_unix_nano": 1},
        ]),
        id="profiles_int",
    ),
]


@pytest.mark.parametrize("decode_proto,payload", WIDE)
def test_value_wider_than_its_column_is_out_of_range(spark, decode_proto, payload):
    """A well-formed value too wide for its int/bigint output column
    raises MalformedProto("out_of_range") in the decoder, where the Arrow
    conversion would otherwise fail the task with ArrowInvalid."""
    df = spark.createDataFrame([(bytearray(payload),)], "wire binary")
    with pytest.raises(Exception, match="MalformedProto: out_of_range"):
        decode_proto(df).collect()


def test_profiles_index_past_its_table_is_dangling():
    buf = opp.encode(opp.EXPORT_PROFILES_REQUEST, {"resource_profiles": [{"scope_profiles": [
        {"profiles": [{"samples": [{"stack_index": 5}]}]}
    ]}]})
    assert _decode_or_reason(opp.decode_profiles_request, buf) == (None, "dangling_index")
