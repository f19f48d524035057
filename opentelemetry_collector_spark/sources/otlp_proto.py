"""OTLP protobuf wire codec — the reference's PRIMARY wire format
(SURVEY §2.1 S1/S2; pdata/plog/pb.go:8-25 ProtoMarshaler.MarshalLogs /
UnmarshalLogs), re-expressed for Spark.

The message layout is the public opentelemetry-proto logs schema
(opentelemetry/proto/logs/v1/logs.proto):

    LogsData              { repeated ResourceLogs resource_logs = 1 }
    ResourceLogs          { Resource resource = 1;
                            repeated ScopeLogs scope_logs = 2 }
    Resource              { repeated KeyValue attributes = 1 }
    ScopeLogs             { InstrumentationScope scope = 1;
                            repeated LogRecord log_records = 2 }
    InstrumentationScope  { string name = 1 }
    LogRecord             { fixed64 time_unix_nano = 1;
                            SeverityNumber severity_number = 2;   // varint
                            string severity_text = 3;
                            AnyValue body = 5;
                            repeated KeyValue attributes = 6;
                            string event_name = 12 }
    KeyValue              { string key = 1; AnyValue value = 2 }
    AnyValue              { oneof { string string_value = 1;
                                    bool bool_value = 2;
                                    int64 int_value = 3;
                                    double double_value = 4;
                                    bytes bytes_value = 7 } }

Encoding follows the canonical proto3 wire rules (varint keys
``(field_number << 3) | wire_type``, little-endian fixed64,
length-delimited nested messages) with ascending field order and
proto3 default-value omission for PLAIN fields (empty strings / zero
scalars are not written). Oneof members are the exception: a set
oneof field is always serialized even at its zero value (Go emits
Int(0) as ``0x18 0x00`` and Str("") as ``0x0a 0x00`` inside AnyValue)
— otherwise external pdata readers would decode a present-but-zero
value as an EMPTY AnyValue. Faithfulness is decode-equality, not byte
equality: Go's marshaler writes fields in DESCENDING order, this
encoder in ascending order, and protobuf decoding does not depend on
field order, so a pdata reader decodes these bytes to the same message.
The byte layout is pinned by golden-vector tests (hand-derived from
the wire spec) in tests/test_otlp_proto.py; semantic faithfulness by
the ``proto_roundtrip`` driver query, which decodes what it encodes and
value-oracles the flattened records against DuckDB's independent
computation from the raw transcripts.

Spark shape: a wire codec is inherently per-record byte work no
builtin expression covers, so this is the sanctioned slow path — Arrow
``pandas_udf`` over PRE-GROUPED envelope structs (the grouping /
ordering is declarative ``groupBy`` + ``array_sort``, identical to the
JSON envelope encoder in sources/otlp_json.py, so Catalyst plans the
shuffles and the Python boundary sees one already-shaped struct per
envelope). Throughput scales with partitions like any map-side UDF; no
shuffle is introduced by the codec itself.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# ---------------------------------------------------------------------------
# proto3 wire primitives (pure python, no deps)
# ---------------------------------------------------------------------------

_WT_VARINT = 0
_WT_FIXED64 = 1
_WT_LEN = 2


def _varint(n: int) -> bytes:
    """Unsigned LEB128 varint."""
    if n < 0:
        # int64 negatives are 10-byte two's-complement varints
        n += 1 << 64
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _key(field: int, wire_type: int) -> bytes:
    return _varint((field << 3) | wire_type)


def _str_field(field: int, s: str | None) -> bytes:
    """Length-delimited string; proto3 omits empty/None."""
    if not s:
        return b""
    raw = s.encode("utf-8")
    return _key(field, _WT_LEN) + _varint(len(raw)) + raw


def _msg_field(field: int, body: bytes) -> bytes:
    """Length-delimited nested message (written even when empty IF the
    caller passes it — presence of a message field is meaningful)."""
    return _key(field, _WT_LEN) + _varint(len(body)) + body


def _varint_field(field: int, n: int) -> bytes:
    if not n:
        return b""
    return _key(field, _WT_VARINT) + _varint(n)


def _fixed64_field(field: int, n: int) -> bytes:
    if not n:
        return b""
    return _key(field, _WT_FIXED64) + int(n).to_bytes(8, "little")


def _any_string(s: str | None) -> bytes:
    """AnyValue{string_value=1}. A oneof member is ALWAYS serialized
    when set, as Go's marshaler does: Str("") is written as
    ``0x0a 0x00`` (field key + zero length), never as an empty
    AnyValue; the proto3 zero-value-omission rule applies only to
    plain (non-oneof) fields.
    An external pdata reader distinguishes Str("") from an unset
    value by the field's presence."""
    raw = (s or "").encode("utf-8")
    return _key(1, _WT_LEN) + _varint(len(raw)) + raw


def _any_int(n: int) -> bytes:
    """AnyValue{int_value=3}. Always emitted, even for 0 — Go writes
    Int(0) as ``0x18 0x00``; omitting it would decode as an EMPTY
    AnyValue for external OTLP consumers (every conversation's first
    turn carries turn.idx=0)."""
    return _key(3, _WT_VARINT) + _varint(n or 0)


def _keyvalue(key: str, any_bytes: bytes) -> bytes:
    return _str_field(1, key) + _msg_field(2, any_bytes)


def encode_log_record(
    time_unix_nano: int,
    severity_number: int,
    severity_text: str,
    body: str,
    turn_idx: int,
    event_name: str,
) -> bytes:
    """One LogRecord message, fields in ascending field order (Go
    writes them descending; the decoded message is the same): time=1,
    sev_num=2, sev_text=3, body=5, attributes=6 (single turn.idx int
    attribute), event_name=12."""
    return (
        _fixed64_field(1, time_unix_nano)
        + _varint_field(2, severity_number)
        + _str_field(3, severity_text)
        + _msg_field(5, _any_string(body))
        + _msg_field(6, _keyvalue("turn.idx", _any_int(turn_idx)))
        + _str_field(12, event_name)
    )


def encode_resource_logs(
    conv_id: str,
    scopes: list[tuple[str, list[bytes]]],
) -> bytes:
    """LogsData{ResourceLogs} for one (conversation, export batch):
    resource carries the conv.id attribute; each (scope_name, records)
    becomes one ScopeLogs."""
    resource = _keyvalue("conv.id", _any_string(conv_id))
    body = _msg_field(1, _msg_field(1, resource))
    for scope_name, recs in scopes:
        scope = _str_field(1, scope_name)
        sl = _msg_field(1, scope) + b"".join(
            _msg_field(2, r) for r in recs
        )
        body += _msg_field(2, sl)
    return _msg_field(1, body)  # LogsData.resource_logs = 1


# ---------------------------------------------------------------------------
# decoder (generic wire walk by field number)
# ---------------------------------------------------------------------------


def _read_varint(buf: bytes, i: int) -> tuple[int, int]:
    n = 0
    shift = 0
    while True:
        b = buf[i]
        i += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            return n, i
        shift += 7


def _fields(buf: bytes):
    """Yield (field_number, wire_type, value) over a message's fields.
    value is int for varint/fixed, bytes for length-delimited."""
    i = 0
    while i < len(buf):
        key, i = _read_varint(buf, i)
        field, wt = key >> 3, key & 7
        if wt == _WT_VARINT:
            v, i = _read_varint(buf, i)
        elif wt == _WT_FIXED64:
            v = int.from_bytes(buf[i : i + 8], "little")
            i += 8
        elif wt == _WT_LEN:
            ln, i = _read_varint(buf, i)
            v = buf[i : i + ln]
            i += ln
        elif wt == 5:  # fixed32
            v = int.from_bytes(buf[i : i + 4], "little")
            i += 4
        else:
            raise ValueError(f"unsupported wire type {wt}")
        yield field, wt, v


def _any_to_str(buf: bytes) -> str:
    for f, _, v in _fields(buf):
        if f == 1:
            return v.decode("utf-8")
    return ""


def _any_to_int(buf: bytes) -> int:
    for f, _, v in _fields(buf):
        if f == 3:
            return v if v < (1 << 63) else v - (1 << 64)
    return 0


def decode_logs(buf: bytes) -> list[dict]:
    """LogsData bytes → one dict per LogRecord (the flattened receiver
    row shape). The inverse of encode_resource_logs for the fields this
    pipeline carries; unknown fields are skipped (forward-compatible,
    like any proto reader)."""
    out: list[dict] = []
    for f_rl, _, rl in _fields(buf):
        if f_rl != 1:
            continue
        conv_id = ""
        scope_lists = []
        for f, _, v in _fields(rl):
            if f == 1:  # Resource
                for f2, _, attrs in _fields(v):
                    if f2 != 1:
                        continue
                    key = val = ""
                    for f3, _, v3 in _fields(attrs):
                        if f3 == 1:
                            key = v3.decode("utf-8")
                        elif f3 == 2:
                            val = _any_to_str(v3)
                    if key == "conv.id":
                        conv_id = val
            elif f == 2:  # ScopeLogs
                scope_lists.append(v)
        for sl in scope_lists:
            scope_name = ""
            for f, _, v in _fields(sl):
                if f == 1:
                    for f2, _, v2 in _fields(v):
                        if f2 == 1:
                            scope_name = v2.decode("utf-8")
            for f, _, v in _fields(sl):
                if f != 2:
                    continue
                rec = {
                    "res_conv": conv_id,
                    "scope_name": scope_name,
                    "ts_unix_nano": 0,
                    "severity_number": 0,
                    "severity_text": "",
                    "body_text": "",
                    "event_name": "",
                    "turn_idx": 0,
                }
                for f2, _, v2 in _fields(v):
                    if f2 == 1:
                        rec["ts_unix_nano"] = v2
                    elif f2 == 2:
                        rec["severity_number"] = v2
                    elif f2 == 3:
                        rec["severity_text"] = v2.decode("utf-8")
                    elif f2 == 5:
                        rec["body_text"] = _any_to_str(v2)
                    elif f2 == 6:
                        for f3, _, v3 in _fields(v2):
                            if f3 == 2:
                                rec["turn_idx"] = _any_to_int(v3)
                    elif f2 == 12:
                        rec["event_name"] = v2.decode("utf-8")
                out.append(rec)
    return out


# ---------------------------------------------------------------------------
# spark surface
# ---------------------------------------------------------------------------

_SEV_TEXT = {17: "ERROR", 13: "WARN", 9: "INFO"}

_DECODED_SCHEMA = (
    "res_conv string, scope_name string, turn_idx int, "
    "ts_unix_nano bigint, severity_number int, severity_text string, "
    "body_text string, event_name string"
)


def encode_logs_proto(parsed: DataFrame, batch_size: int = 512) -> DataFrame:
    """Parsed turns → (conv_id, _batch, wire: binary), one LogsData
    proto per (conversation, ≤batch_size-turn export batch) — the same
    envelope grouping as the JSON encoder (resource = conversation,
    scope = tool, records in turn order). All grouping/sorting is
    declarative; only the final struct→bytes step crosses into an
    Arrow-batched UDF."""
    df = parsed.withColumn(
        "_batch", (F.col("turn_idx") / F.lit(batch_size)).cast("int")
    )
    rec = F.struct(
        F.col("turn_idx").cast("bigint").alias("ti"),
        (F.unix_timestamp("ts").cast("bigint") * F.lit(1_000_000_000))
        .alias("ts"),
        F.col("severity_num").cast("int").alias("sev"),
        F.col("text").alias("body"),
        F.col("event_kind").alias("event"),
    )
    scopes = (
        df.select(
            "conv_id", "_batch",
            F.coalesce(F.col("tool_parsed"), F.lit("none")).alias("scope_name"),
            rec.alias("trec"),
        )
        .groupBy("conv_id", "_batch", "scope_name")
        .agg(F.array_sort(F.collect_list("trec")).alias("recs"))
        .groupBy("conv_id", "_batch")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("scope_name", "recs"))
            ).alias("scopes")
        )
    )

    @pandas_udf("binary")
    def _enc(conv: pd.Series, scopes_s: pd.Series) -> pd.Series:
        out = []
        for cid, sc in zip(conv, scopes_s):
            pairs = []
            for s in sc:
                recs = [
                    encode_log_record(
                        int(r["ts"]),
                        int(r["sev"]),
                        _SEV_TEXT.get(int(r["sev"]), ""),
                        r["body"],
                        int(r["ti"]),
                        r["event"] or "",
                    )
                    for r in s["recs"]
                ]
                pairs.append((s["scope_name"], recs))
            out.append(encode_resource_logs(cid, pairs))
        return pd.Series(out)

    return scopes.select(
        "conv_id", "_batch", _enc("conv_id", "scopes").alias("wire")
    )


def decode_logs_proto(
    df: DataFrame, wire_col: str = "wire", carry: list[str] | None = None
) -> DataFrame:
    """(…, wire: binary) → one row per LogRecord, the flat receiver
    shape shared with the JSON path. Arrow-batched decode + explode."""
    carry = carry or []

    @pandas_udf(f"array<struct<{_DECODED_SCHEMA}>>")
    def _dec(wire: pd.Series) -> pd.Series:
        return pd.Series([decode_logs(bytes(b)) for b in wire])

    return (
        df.select(*carry, F.explode(_dec(F.col(wire_col))).alias("r"))
        .select(*carry, "r.*")
    )


# ---------------------------------------------------------------------------
# traces signal (trace/v1/trace.proto): Span wire codec
# ---------------------------------------------------------------------------


def _bytes_field(field: int, raw: bytes) -> bytes:
    if not raw:
        return b""
    return _key(field, _WT_LEN) + _varint(len(raw)) + raw


def encode_span(
    trace_id_hex: str,
    span_id_hex: str,
    parent_span_id_hex: str | None,
    name: str,
    kind: int,
    start_unix_nano: int,
    end_unix_nano: int,
    status_code: int,
) -> bytes:
    """One Span message in ascending field order: trace_id=1,
    span_id=2, parent_span_id=4, name=5, kind=6, start=7 (fixed64),
    end=8 (fixed64), status=15 {code=3}. IDs come in as the hex the
    column derivation produces; the wire carries raw bytes. A status
    message is written only for non-UNSET codes (proto3 omission)."""
    out = (
        _bytes_field(1, bytes.fromhex(trace_id_hex))
        + _bytes_field(2, bytes.fromhex(span_id_hex))
        + _bytes_field(4, bytes.fromhex(parent_span_id_hex or ""))
        + _str_field(5, name)
        + _varint_field(6, kind)
        + _fixed64_field(7, start_unix_nano)
        + _fixed64_field(8, end_unix_nano)
    )
    if status_code:
        out += _msg_field(15, _varint_field(3, status_code))
    return out


def encode_resource_spans(conv_id: str, spans: list[bytes]) -> bytes:
    """TracesData{ResourceSpans} for one conversation: resource carries
    conv.id like the logs envelope; one ScopeSpans holds the spans."""
    resource = _keyvalue("conv.id", _any_string(conv_id))
    sl = _msg_field(1, _str_field(1, "transcripts")) + b"".join(
        _msg_field(2, s) for s in spans
    )
    body = _msg_field(1, _msg_field(1, resource)) + _msg_field(2, sl)
    return _msg_field(1, body)


def decode_spans(buf: bytes) -> list[dict]:
    """TracesData bytes → one dict per Span (inverse of the encoder for
    the carried fields; unknown fields skipped)."""
    out: list[dict] = []
    for f_rs, _, rs in _fields(buf):
        if f_rs != 1:
            continue
        conv_id = ""
        for f, _, v in _fields(rs):
            if f == 1:
                for f2, _, attrs in _fields(v):
                    if f2 == 1:
                        key = val = ""
                        for f3, _, v3 in _fields(attrs):
                            if f3 == 1:
                                key = v3.decode("utf-8")
                            elif f3 == 2:
                                val = _any_to_str(v3)
                        if key == "conv.id":
                            conv_id = val
        for f, _, v in _fields(rs):
            if f != 2:
                continue
            for f2, _, v2 in _fields(v):
                if f2 != 2:
                    continue
                rec = {
                    "res_conv": conv_id,
                    "trace_id": "",
                    "span_id": "",
                    "parent_span_id": None,
                    "name": "",
                    "kind": 0,
                    "start_unix_nano": 0,
                    "end_unix_nano": 0,
                    "status_code": 0,
                }
                for f3, _, v3 in _fields(v2):
                    if f3 == 1:
                        rec["trace_id"] = v3.hex()
                    elif f3 == 2:
                        rec["span_id"] = v3.hex()
                    elif f3 == 4:
                        rec["parent_span_id"] = v3.hex()
                    elif f3 == 5:
                        rec["name"] = v3.decode("utf-8")
                    elif f3 == 6:
                        rec["kind"] = v3
                    elif f3 == 7:
                        rec["start_unix_nano"] = v3
                    elif f3 == 8:
                        rec["end_unix_nano"] = v3
                    elif f3 == 15:
                        for f4, _, v4 in _fields(v3):
                            if f4 == 3:
                                rec["status_code"] = v4
                out.append(rec)
    return out


_SPAN_DECODED_SCHEMA = (
    "res_conv string, trace_id string, span_id string, "
    "parent_span_id string, name string, kind int, "
    "start_unix_nano bigint, end_unix_nano bigint, status_code int"
)


def encode_spans_proto(spans: DataFrame) -> DataFrame:
    """Span rows (operators/traces.derive_spans shape) → one TracesData
    proto per conversation; same declarative group/sort + Arrow
    boundary as the logs encoder."""
    rec = F.struct(
        F.col("turn_idx").cast("bigint").alias("ti"),
        "trace_id", "span_id", "parent_span_id", "name", "kind",
        "start_unix_nano", "end_unix_nano", "status_code",
    )
    grouped = (
        spans.select("conv_id", rec.alias("s"))
        .groupBy("conv_id")
        .agg(F.array_sort(F.collect_list("s")).alias("ss"))
    )

    @pandas_udf("binary")
    def _enc(conv: pd.Series, ss: pd.Series) -> pd.Series:
        out = []
        for cid, arr in zip(conv, ss):
            encoded = [
                encode_span(
                    s["trace_id"], s["span_id"], s["parent_span_id"],
                    s["name"], int(s["kind"]),
                    int(s["start_unix_nano"]), int(s["end_unix_nano"]),
                    int(s["status_code"]),
                )
                for s in arr
            ]
            out.append(encode_resource_spans(cid, encoded))
        return pd.Series(out)

    return grouped.select("conv_id", _enc("conv_id", "ss").alias("wire"))


def decode_spans_proto(
    df: DataFrame, wire_col: str = "wire", carry: list[str] | None = None
) -> DataFrame:
    carry = carry or []

    @pandas_udf(f"array<struct<{_SPAN_DECODED_SCHEMA}>>")
    def _dec(wire: pd.Series) -> pd.Series:
        return pd.Series([decode_spans(bytes(b)) for b in wire])

    return (
        df.select(*carry, F.explode(_dec(F.col(wire_col))).alias("r"))
        .select(*carry, "r.*")
    )


def read_otlp_proto(spark, path: str) -> DataFrame:
    """Protobuf file receiver: one LogsData proto per file under
    ``path`` (the export framing `write_proto_files` produces — one
    envelope per (conversation, batch) file, the standard object-store
    layout for OTLP blobs) → one row per LogRecord. `binaryFile` scans
    split across executors like any other file source; the decode is
    the same Arrow-batched walker the round-trip query uses."""
    raw = spark.read.format("binaryFile").load(path).select(
        F.col("content").alias("wire")
    )
    return decode_logs_proto(raw)


def write_proto_files(df: DataFrame, path: str, wire_col: str = "wire") -> int:
    """Exporter-side file sink for encoded envelopes: one ``.pb`` file
    per envelope row (foreachPartition, executor-side writes — no
    driver collect). Returns the row count via the write's accumulator
    semantics (a count on the SAME cached plan the writer consumed)."""
    import os

    os.makedirs(path, exist_ok=True)
    enc = df.select(
        F.md5(F.concat_ws("|", "conv_id", "_batch")).alias("name"), wire_col
    )

    def _write(rows):
        for r in rows:
            with open(os.path.join(path, f"{r['name']}.pb"), "wb") as f:
                f.write(bytes(r[wire_col]))

    enc = enc.persist()
    try:
        n = enc.count()
        enc.foreachPartition(_write)
    finally:
        enc.unpersist()
    return n


# ---------------------------------------------------------------------------
# metrics signal (metrics/v1/metrics.proto): MetricsData wire codec
# ---------------------------------------------------------------------------
# Field layout from the reference's generated marshalers:
#   MetricsData{resource_metrics=1}; ResourceMetrics{resource=1,
#   scope_metrics=2} (generated_proto_resourcemetrics.go:228-243);
#   ScopeMetrics{scope=1, metrics=2}; Metric{name=1, description=2,
#   unit=3, oneof data: gauge=5, sum=7, exponential_histogram=10}
#   (generated_proto_metric.go:513-578);
#   ExponentialHistogram{data_points=1, aggregation_temporality=2};
#   ExponentialHistogramDataPoint{attributes=1, count=4 fixed64,
#   scale=6 sint32, zero_count=7 fixed64, positive=8, negative=9 —
#   positive/negative ALWAYS serialized, even empty}
#   (generated_proto_exponentialhistogramdatapoint.go:355-407);
#   Buckets{offset=1 sint32, bucket_counts=2 packed uint64}
#   (generated_proto_exponentialhistogramdatapointbuckets.go);
#   NumberDataPoint{attributes=7 (!), start=2, time=3,
#   oneof value: as_double=4 fixed64, as_int=6 sfixed64 — oneof always
#   written when set} (generated_proto_numberdatapoint.go:355+);
#   Sum{data_points=1, aggregation_temporality=2, is_monotonic=3}.

AGG_TEMPORALITY_DELTA = 1
AGG_TEMPORALITY_CUMULATIVE = 2


def _sint_field(field: int, n: int) -> bytes:
    """sint32 zigzag varint (scale/offset); proto3 omits 0."""
    if not n:
        return b""
    zz = ((n << 1) ^ (n >> 31)) & 0xFFFFFFFF
    return _key(field, _WT_VARINT) + _varint(zz)


def _unzigzag(zz: int) -> int:
    return (zz >> 1) ^ -(zz & 1)


def _eh_buckets(offset: int, counts: list[int]) -> bytes:
    body = _sint_field(1, offset)
    if counts:
        packed = b"".join(_varint(c) for c in counts)
        body += _key(2, _WT_LEN) + _varint(len(packed)) + packed
    return body


def encode_exp_histogram_metric(
    name: str,
    unit: str,
    points: list[dict],
    temporality: int = AGG_TEMPORALITY_CUMULATIVE,
) -> bytes:
    """One Metric{exponential_histogram} message. Each point dict:
    attrs (list[(key, str value)]), start_time and time (unix nano),
    count, zero_count, scale, pos_offset, pos_counts, neg_offset,
    neg_counts. Decode-equal to what Go's marshaler writes (field order
    aside): positive/negative bucket messages are ALWAYS present (the
    reference marshals them unconditionally), everything else follows
    proto3 zero-omission."""
    dps = b""
    for pt in points:
        dp = b"".join(
            _msg_field(1, _keyvalue(k, _any_string(v)))
            for k, v in pt.get("attrs", [])
        )
        dp += _fixed64_field(2, pt.get("start_time", 0))
        dp += _fixed64_field(3, pt.get("time", 0))
        dp += _fixed64_field(4, pt.get("count", 0))
        dp += _sint_field(6, pt.get("scale", 0))
        dp += _fixed64_field(7, pt.get("zero_count", 0))
        dp += _msg_field(
            8, _eh_buckets(pt.get("pos_offset", 0), pt.get("pos_counts", []))
        )
        dp += _msg_field(
            9, _eh_buckets(pt.get("neg_offset", 0), pt.get("neg_counts", []))
        )
        dps += _msg_field(1, dp)
    eh = dps + _varint_field(2, temporality)
    return _str_field(1, name) + _str_field(3, unit) + _msg_field(10, eh)


def encode_number_metric(
    name: str,
    unit: str,
    points: list[dict],
    kind: str = "gauge",
    temporality: int = AGG_TEMPORALITY_CUMULATIVE,
    monotonic: bool = False,
) -> bytes:
    """One Metric{gauge|sum} message. Each point dict: attrs, time
    (unix nano), and exactly one of as_int / as_double. The oneof value
    is always written when set (sfixed64/fixed64 8-byte), matching the
    reference's NumberDataPoint marshaler; attributes are field 7,
    written first here where Go's marshaler writes them last (decoding
    does not depend on field order)."""
    dps = b""
    for pt in points:
        dp = b"".join(
            _msg_field(7, _keyvalue(k, _any_string(v)))
            for k, v in pt.get("attrs", [])
        )
        dp += _fixed64_field(2, pt.get("start_time", 0))
        dp += _fixed64_field(3, pt.get("time", 0))
        if "as_double" in pt:
            import struct as _struct

            dp += _key(4, _WT_FIXED64) + _struct.pack("<d", pt["as_double"])
        elif "as_int" in pt:
            dp += _key(6, _WT_FIXED64) + (
                int(pt["as_int"]) & 0xFFFFFFFFFFFFFFFF
            ).to_bytes(8, "little")
        dps += _msg_field(1, dp)
    if kind == "gauge":
        return _str_field(1, name) + _str_field(3, unit) + _msg_field(5, dps)
    body = dps + _varint_field(2, temporality)
    if monotonic:
        body += _key(3, _WT_VARINT) + b"\x01"
    return _str_field(1, name) + _str_field(3, unit) + _msg_field(7, body)


def encode_resource_metrics(
    resource_attrs: list[tuple[str, str]],
    scope_name: str,
    metrics: list[bytes],
) -> bytes:
    """MetricsData{ResourceMetrics{resource, ScopeMetrics{scope,
    metrics…}}} — the same 3-level envelope shape as logs/traces."""
    resource = b"".join(
        _keyvalue(k, _any_string(v)) for k, v in resource_attrs
    )
    sm = _msg_field(1, _str_field(1, scope_name)) + b"".join(
        _msg_field(2, m) for m in metrics
    )
    body = _msg_field(1, _msg_field(1, resource)) + _msg_field(2, sm)
    return _msg_field(1, body)


def _decode_attrs(pairs: list[bytes]) -> dict:
    out = {}
    for kv in pairs:
        k, v = "", ""
        for f, _, val in _fields(kv):
            if f == 1:
                k = val.decode("utf-8")
            elif f == 2:
                v = _any_to_str(val)
        out[k] = v
    return out


def _decode_eh_buckets(buf: bytes) -> tuple[int, list[int]]:
    offset, counts = 0, []
    for f, wt, v in _fields(buf):
        if f == 1:
            offset = _unzigzag(v)
        elif f == 2:
            if wt == _WT_LEN:  # packed
                i = 0
                while i < len(v):
                    c, i = _read_varint(v, i)
                    counts.append(c)
            else:
                counts.append(v)
    return offset, counts


def decode_metrics(buf: bytes) -> list[dict]:
    """MetricsData bytes → one dict per data point: metric name/unit/
    type, resource + point attributes, and the type-specific payload
    (exp-histogram buckets or number value). Inverse of the encoders
    above for the fields this engine carries."""
    out = []
    for _, _, rm in _fields(buf):
        res_attrs: dict = {}
        for f1, _, v1 in _fields(rm):
            if f1 == 1:  # resource
                for f2, _, v2 in _fields(v1):
                    if f2 == 1:
                        res_attrs.update(_decode_attrs([v2]))
            elif f1 == 2:  # scope_metrics
                scope_name = ""
                for f2, _, v2 in _fields(v1):
                    if f2 == 1:
                        for f3, _, v3 in _fields(v2):
                            if f3 == 1:
                                scope_name = v3.decode("utf-8")
                    elif f2 == 2:  # metric
                        out.extend(
                            _decode_metric(v2, res_attrs, scope_name)
                        )
    return out


def _decode_metric(buf: bytes, res_attrs: dict, scope_name: str) -> list[dict]:
    import struct as _struct

    name, unit = "", ""
    pts: list[dict] = []
    mtype = ""
    temporality = 0
    monotonic = False
    for f, wt, v in _fields(buf):
        if f == 1:
            name = v.decode("utf-8")
        elif f == 3:
            unit = v.decode("utf-8")
        elif f in (5, 7):  # gauge / sum
            mtype = "gauge" if f == 5 else "sum"
            for f2, wt2, v2 in _fields(v):
                if f2 == 1:  # NumberDataPoint
                    pt: dict = {"attrs": {}, "time": 0}
                    for f3, wt3, v3 in _fields(v2):
                        if f3 == 7:
                            pt["attrs"].update(_decode_attrs([v3]))
                        elif f3 == 2:
                            pt["start_time"] = v3
                        elif f3 == 3:
                            pt["time"] = v3
                        elif f3 == 4:
                            pt["as_double"] = _struct.unpack(
                                "<d", int(v3).to_bytes(8, "little")
                            )[0]
                        elif f3 == 6:
                            pt["as_int"] = (
                                v3 if v3 < (1 << 63) else v3 - (1 << 64)
                            )
                    pts.append(pt)
                elif f2 == 2:
                    temporality = v2
                elif f2 == 3:
                    monotonic = bool(v2)
        elif f == 11:  # summary
            mtype = "summary"
            for f2, _, v2 in _fields(v):
                if f2 == 1:  # SummaryDataPoint
                    pt = {"attrs": {}, "time": 0, "count": 0,
                          "sum": 0.0, "quantiles": []}
                    for f3, _, v3 in _fields(v2):
                        if f3 == 7:
                            pt["attrs"].update(_decode_attrs([v3]))
                        elif f3 == 3:
                            pt["time"] = v3
                        elif f3 == 4:
                            pt["count"] = v3
                        elif f3 == 5:
                            pt["sum"] = _struct.unpack(
                                "<d", int(v3).to_bytes(8, "little")
                            )[0]
                        elif f3 == 6:
                            q, val = 0.0, 0.0
                            for f4, _, v4 in _fields(v3):
                                d = _struct.unpack(
                                    "<d", int(v4).to_bytes(8, "little")
                                )[0]
                                if f4 == 1:
                                    q = d
                                elif f4 == 2:
                                    val = d
                            pt["quantiles"].append((q, val))
                    pts.append(pt)
        elif f == 9:  # histogram (explicit bounds)
            mtype = "histogram"
            for f2, _, v2 in _fields(v):
                if f2 == 1:  # HistogramDataPoint
                    pt = {"attrs": {}, "time": 0, "count": 0, "sum": 0.0,
                          "bucket_counts": [], "bounds": []}
                    for f3, wt3, v3 in _fields(v2):
                        if f3 == 9:
                            pt["attrs"].update(_decode_attrs([v3]))
                        elif f3 == 3:
                            pt["time"] = v3
                        elif f3 == 4:
                            pt["count"] = v3
                        elif f3 == 5:
                            pt["sum"] = _struct.unpack(
                                "<d", int(v3).to_bytes(8, "little")
                            )[0]
                        elif f3 == 6 and wt3 == _WT_LEN:
                            pt["bucket_counts"] = [
                                int.from_bytes(v3[j:j + 8], "little")
                                for j in range(0, len(v3), 8)
                            ]
                        elif f3 == 7 and wt3 == _WT_LEN:
                            pt["bounds"] = [
                                _struct.unpack("<d", v3[j:j + 8])[0]
                                for j in range(0, len(v3), 8)
                            ]
                    pts.append(pt)
                elif f2 == 2:
                    temporality = v2
        elif f == 10:  # exponential_histogram
            mtype = "exponential_histogram"
            for f2, _, v2 in _fields(v):
                if f2 == 1:  # data point
                    pt = {
                        "attrs": {}, "start_time": 0, "time": 0,
                        "count": 0, "zero_count": 0, "scale": 0,
                        "pos_offset": 0, "pos_counts": [],
                        "neg_offset": 0, "neg_counts": [],
                    }
                    for f3, wt3, v3 in _fields(v2):
                        if f3 == 1:
                            pt["attrs"].update(_decode_attrs([v3]))
                        elif f3 == 2:
                            pt["start_time"] = v3
                        elif f3 == 3:
                            pt["time"] = v3
                        elif f3 == 4:
                            pt["count"] = v3
                        elif f3 == 6:
                            pt["scale"] = _unzigzag(v3)
                        elif f3 == 7:
                            pt["zero_count"] = v3
                        elif f3 == 8:
                            pt["pos_offset"], pt["pos_counts"] = (
                                _decode_eh_buckets(v3)
                            )
                        elif f3 == 9:
                            pt["neg_offset"], pt["neg_counts"] = (
                                _decode_eh_buckets(v3)
                            )
                    pts.append(pt)
                elif f2 == 2:
                    temporality = v2
    return [
        {
            "res_attrs": dict(res_attrs),
            "scope_name": scope_name,
            "metric_name": name,
            "unit": unit,
            "type": mtype,
            "temporality": temporality,
            "monotonic": monotonic,
            **pt,
        }
        for pt in pts
    ]


def encode_metrics_proto(
    hist: DataFrame,
    metric_name: str = "latency_ms",
    unit: str = "ms",
    scale: int = 2,
    group_col: str = "tool",
) -> DataFrame:
    """Exponential-histogram rows (operators/exphist output: group,
    sign, idx, n) → one MetricsData proto per group: the group value
    becomes the resource attribute, one ExponentialHistogramDataPoint
    carries dense positive/negative bucket arrays (offset = min index)
    plus the zero bucket count. Grouping is declarative (one
    collect_list per group — bounded: ~160 occupied buckets span the
    float range); only the struct→bytes step crosses into an
    Arrow-batched UDF. Returns (group, wire: binary)."""
    rows = hist.groupBy(group_col).agg(
        F.collect_list(
            F.struct(
                F.col("sign").cast("int").alias("sign"),
                F.col("idx").cast("bigint").alias("idx"),
                F.col("n").cast("bigint").alias("n"),
            )
        ).alias("buckets")
    )

    @pandas_udf("binary")
    def _enc(group: pd.Series, buckets_s: pd.Series) -> pd.Series:
        out = []
        for g, bk in zip(group, buckets_s):
            pos = sorted(
                (int(b["idx"]), int(b["n"])) for b in bk if b["sign"] == 1
            )
            neg = sorted(
                (int(b["idx"]), int(b["n"])) for b in bk if b["sign"] == -1
            )
            zero = sum(int(b["n"]) for b in bk if b["sign"] == 0)
            total = sum(int(b["n"]) for b in bk)

            def dense(pairs):
                if not pairs:
                    return 0, []
                off = pairs[0][0]
                counts = [0] * (pairs[-1][0] - off + 1)
                for i, c in pairs:
                    counts[i - off] = c
                return off, counts

            po, pc = dense(pos)
            no, nc = dense(neg)
            # OTLP attributes cannot carry null — a NULL group encodes
            # as an ABSENT attribute (unset), and decode restores None
            attrs = [] if g is None else [(group_col, str(g))]
            metric = encode_exp_histogram_metric(
                metric_name, unit,
                [{
                    "attrs": attrs,
                    "count": total, "zero_count": zero, "scale": scale,
                    "pos_offset": po, "pos_counts": pc,
                    "neg_offset": no, "neg_counts": nc,
                }],
            )
            out.append(
                encode_resource_metrics(attrs, "transcripts", [metric])
            )
        return pd.Series(out)

    return rows.select(group_col, _enc(group_col, "buckets").alias("wire"))


_DECODED_EH_SCHEMA = (
    "grp string, scale int, sign int, idx bigint, n bigint"
)


def decode_metrics_proto(
    df: DataFrame, wire_col: str = "wire", group_col: str = "tool"
) -> DataFrame:
    """(…, wire) → exponential-histogram rows (group, sign, idx, n) —
    the exact inverse of encode_metrics_proto: dense bucket arrays
    re-sparsify (zero counts drop), the zero bucket returns as sign 0 /
    idx NULL. Arrow-batched decode + explode."""

    @pandas_udf(f"array<struct<{_DECODED_EH_SCHEMA}>>")
    def _dec(wire: pd.Series) -> pd.Series:
        out = []
        for b in wire:
            rows = []
            for pt in decode_metrics(bytes(b)):
                if pt["type"] != "exponential_histogram":
                    continue
                g = pt["attrs"].get(group_col) or pt["res_attrs"].get(
                    group_col
                )
                sc = pt["scale"]
                if pt["zero_count"]:
                    rows.append((g, sc, 0, None, pt["zero_count"]))
                for sign, off, counts in (
                    (1, pt["pos_offset"], pt["pos_counts"]),
                    (-1, pt["neg_offset"], pt["neg_counts"]),
                ):
                    for i, c in enumerate(counts):
                        if c:
                            rows.append((g, sc, sign, off + i, c))
            out.append(rows)
        return pd.Series(out)

    return (
        df.select(F.explode(_dec(F.col(wire_col))).alias("r"))
        .select(
            F.col("r.grp").alias(group_col),
            F.col("r.scale").alias("scale"),
            F.col("r.sign").alias("sign"),
            F.col("r.idx").alias("idx"),
            F.col("r.n").alias("n"),
        )
    )


def _packed_doubles(field: int, vals: list[float]) -> bytes:
    import struct as _struct

    if not vals:
        return b""
    body = b"".join(_struct.pack("<d", v) for v in vals)
    return _key(field, _WT_LEN) + _varint(len(body)) + body


def _packed_fixed64s(field: int, vals: list[int]) -> bytes:
    if not vals:
        return b""
    body = b"".join(int(v).to_bytes(8, "little") for v in vals)
    return _key(field, _WT_LEN) + _varint(len(body)) + body


def _double_field(field: int, v: float) -> bytes:
    import struct as _struct

    if not v:
        return b""
    return _key(field, _WT_FIXED64) + _struct.pack("<d", v)


def encode_summary_metric(name: str, unit: str, points: list[dict]) -> bytes:
    """Metric{summary=11} (generated_proto_summarydatapoint.go:
    attributes=7, time=3, count=4 fixed64, sum=5 double,
    quantile_values=6 {quantile=1, value=2 doubles}). Point dict:
    attrs, time, count, sum, quantiles (list of (q, v))."""
    dps = b""
    for pt in points:
        dp = b"".join(
            _msg_field(7, _keyvalue(k, _any_string(v)))
            for k, v in pt.get("attrs", [])
        )
        dp += _fixed64_field(3, pt.get("time", 0))
        dp += _fixed64_field(4, pt.get("count", 0))
        dp += _double_field(5, pt.get("sum", 0.0))
        for q, v in pt.get("quantiles", []):
            dp += _msg_field(6, _double_field(1, q) + _double_field(2, v))
        dps += _msg_field(1, dp)
    return _str_field(1, name) + _str_field(3, unit) + _msg_field(11, dps)


def encode_histogram_metric(
    name: str,
    unit: str,
    points: list[dict],
    temporality: int = AGG_TEMPORALITY_CUMULATIVE,
) -> bytes:
    """Metric{histogram=9} — the explicit-bounds histogram
    (generated_proto_histogramdatapoint.go: attributes=9, time=3,
    count=4 fixed64, sum=5, bucket_counts=6 packed fixed64,
    explicit_bounds=7 packed double). Point dict: attrs, time, count,
    sum, bucket_counts (len = len(bounds)+1), bounds."""
    dps = b""
    for pt in points:
        dp = b"".join(
            _msg_field(9, _keyvalue(k, _any_string(v)))
            for k, v in pt.get("attrs", [])
        )
        dp += _fixed64_field(3, pt.get("time", 0))
        dp += _fixed64_field(4, pt.get("count", 0))
        dp += _double_field(5, pt.get("sum", 0.0))
        dp += _packed_fixed64s(6, pt.get("bucket_counts", []))
        dp += _packed_doubles(7, pt.get("bounds", []))
        dps += _msg_field(1, dp)
    body = dps + _varint_field(2, temporality)
    return _str_field(1, name) + _str_field(3, unit) + _msg_field(9, body)
