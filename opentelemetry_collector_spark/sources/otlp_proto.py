"""OTLP protobuf wire codec — the reference's PRIMARY wire format
(SURVEY §2.1 S1/S2; pdata/plog/pb.go:8-25 ProtoMarshaler.MarshalLogs /
UnmarshalLogs), re-expressed for Spark. Logs and metrics live here;
profiles (sources/otlp_profiles_proto.py) use the same walker. Traces
travel as OTLP/JSON (sources/otlp_trace_json.py).

The walker is three pieces, and field numbers appear only in the first:

* **One table per message** (``Message``): field number → (name, kind,
  flags), transcribed from the public opentelemetry-proto schema
  (logs/v1, metrics/v1, profiles/v1development). A kind is a
  scalar (VARINT, INT64, SINT, FIXED64, SFIXED64, DOUBLE, STRING, BYTES)
  or a nested ``Message``. REPEATED marks a repeated field, PACKED a
  packed repeated scalar, PRESENT a field written even at its zero
  value: a set oneof member (Go emits Int(0) as ``0x18 0x00`` and
  Str("") as ``0x0a 0x00`` inside AnyValue; omitting it would make an
  external pdata reader decode an EMPTY AnyValue) and the exp-histogram
  positive/negative buckets, which the reference marshals
  unconditionally.
* **One encoder**, ``encode(table, value)``: canonical proto3 wire rules
  (varint keys ``(field_number << 3) | wire_type``, little-endian
  fixed64, length-delimited nested messages), fields in ascending order,
  plain fields omitted at their zero value. Faithfulness is
  decode-equality, not byte equality: Go's marshaler writes fields in
  DESCENDING order, and protobuf decoding does not depend on field
  order, so a pdata reader decodes these bytes to the same message.
  Golden vectors hand-derived from the wire spec pin the bytes
  (tests/test_otlp_proto.py); the ``proto_roundtrip`` contract query
  (__spark_entry__.py) value-oracles the decoded records against
  DuckDB's computation from the raw transcripts.
* **One strict decoder**, ``decode(table, buf)``: every varint, length
  and fixed width is bounds-checked, and a varint longer than 10 bytes
  (or wider than 64 bits), field number 0, an unknown wire type, a known
  field with the wrong wire type and invalid UTF-8 are rejected; unknown
  fields are skipped, as any proto reader does. Each failure raises
  ``MalformedProto(reason)``, a PermanentError whose reason is one of
  ``REASONS``. Each signal's row function declares its output columns
  (:func:`decoder`), and a value wider than its int or bigint column is
  ``out_of_range``. A malformed payload is rejected whole, never accepted in
  part, as the reference receiver does
  (receiver/otlpreceiver/internal/logs/otlp.go:33-56).
  ``decode_logs_proto`` — and so ``read_otlp_proto``, the path where
  outside bytes arrive — turns it into one row per bad payload whose
  ``decode_error`` column names the reason; the other decoders raise.

Each signal function is a short build step (arguments → table values)
or flatten step (decoded values → rows) over these tables.

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

import functools
import struct

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from opentelemetry_collector_spark.plans.errors import PermanentError

# ---------------------------------------------------------------------------
# the walker: message tables, one encoder, one strict decoder
# ---------------------------------------------------------------------------

# scalar kinds (a nested message's kind is its Message table) and the
# wire type each is written with: 0 varint, 1 fixed64, 2 length-delimited
VARINT, INT64, SINT, FIXED64, SFIXED64, DOUBLE, STRING, BYTES = range(8)
_WIRE = (0, 0, 0, 1, 1, 1, 2, 2)
_FIXED = {FIXED64: struct.Struct("<Q"), SFIXED64: struct.Struct("<q"), DOUBLE: struct.Struct("<d")}

REPEATED, PACKED, PRESENT = 1, 2, 4

REASONS = (
    "truncated_varint",   # the buffer ends inside a varint
    "varint_too_long",    # more than 10 bytes, or wider than 64 bits
    "truncated_length",   # a length prefix runs past its message
    "truncated_fixed",    # a fixed64/fixed32 (or packed fixed run) runs short
    "bad_wire_type",      # wire type 3, 4, 6 or 7
    "bad_field_number",   # field number 0
    "wire_type_mismatch",  # a known field with another wire type
    "invalid_utf8",       # a string field that is not UTF-8
    "dangling_index",     # a profiles dictionary index past its table
    "out_of_range",       # a value wider than its int/bigint output column
)


class MalformedProto(PermanentError):
    """Bytes that do not decode as the expected message. ``reason`` is
    one of REASONS."""

    def __init__(self, reason: str):
        super().__init__(reason)
        self.reason = reason


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


def _len_prefixed(raw: bytes) -> bytes:
    return _varint(len(raw)) + raw


_SCALAR_ENCODERS = {
    VARINT: _varint,
    INT64: _varint,
    SINT: lambda n: _varint((n << 1) ^ (n >> 63)),  # zigzag
    FIXED64: _FIXED[FIXED64].pack,
    SFIXED64: _FIXED[SFIXED64].pack,
    DOUBLE: _FIXED[DOUBLE].pack,
    STRING: lambda s: _len_prefixed(s.encode("utf-8")),
    BYTES: _len_prefixed,
}


class Message:
    """One message table: ``{field_number: (name, kind[, flags])}``."""

    def __init__(self, fields: dict[int, tuple]):
        self.numbers = frozenset(fields)
        self.encode_order = []  # (name, key bytes, payload encoder, flags)
        self.by_key = {}  # wire key → (name, kind, 0 single | 1 append | 2 extend)
        for number, (name, kind, *flags) in sorted(fields.items()):
            flags = flags[0] if flags else 0
            if isinstance(kind, Message):
                wire, enc = 2, _message_encoder(kind)
            elif flags & PACKED:
                wire, enc = 2, _packed_encoder(_SCALAR_ENCODERS[kind])
                # a reader must also accept the unpacked form
                self.by_key[number << 3 | _WIRE[kind]] = (name, kind, 1)
            else:
                wire, enc = _WIRE[kind], _SCALAR_ENCODERS[kind]
            mode = 2 if flags & PACKED else flags & REPEATED
            self.by_key[number << 3 | wire] = (name, kind, mode)
            self.encode_order.append((name, _varint(number << 3 | wire), enc, flags))


def _message_encoder(msg: Message):
    # a value already encoded (bytes) is embedded as it is
    return lambda v: _len_prefixed(v if isinstance(v, bytes) else encode(msg, v))


def _packed_encoder(element):
    return lambda vs: _len_prefixed(b"".join(map(element, vs)))


def encode(msg: Message, value: dict) -> bytes:
    """``{field name: value}`` → wire bytes, fields in ascending order.
    None (or a missing name) is unset. A plain field at its zero value
    ("", 0, an empty message or list) is omitted; a PRESENT field is
    written whenever set; every element of a REPEATED field is
    written."""
    out: list[bytes] = []
    for name, key, enc, flags in msg.encode_order:
        v = value.get(name)
        if v is None:
            continue
        if flags & REPEATED:
            for x in v:
                out += (key, enc(x))
        elif flags & PRESENT or v:
            payload = enc(v)
            if flags & PRESENT or payload != b"\x00":  # b"\x00": empty message
                out += (key, payload)
    return b"".join(out)


def _read_varint(buf: bytes, i: int, end: int) -> tuple[int, int]:
    n = shift = 0
    while i < end:
        b = buf[i]
        i += 1
        n |= (b & 0x7F) << shift
        if b < 0x80:
            if n >> 64:
                raise MalformedProto("varint_too_long")
            return n, i
        shift += 7
        if shift == 70:
            raise MalformedProto("varint_too_long")
    raise MalformedProto("truncated_varint")


def _from_varint(kind: int, n: int) -> int:
    if kind == INT64 and n >> 63:
        return n - (1 << 64)
    if kind == SINT:
        return (n >> 1) ^ -(n & 1)
    return n


def _unpack(kind: int, buf: bytes, i: int, end: int) -> list:
    """One packed run of scalars, buf[i:end]."""
    if _WIRE[kind] == 1:
        if (end - i) % 8:
            raise MalformedProto("truncated_fixed")
        return [v for (v,) in _FIXED[kind].iter_unpack(buf[i:end])]
    out = []
    while i < end:
        n, i = _read_varint(buf, i, end)
        out.append(_from_varint(kind, n))
    return out


def decode(msg: Message, buf: bytes, i: int = 0, end: int | None = None) -> dict:
    """Wire bytes (buf[i:end]) → ``{field name: value}`` holding the
    fields on the wire: repeated ones as lists, absent ones absent, the
    last occurrence of a singular one. Unknown fields are stepped over
    with the same bounds checks. Raises MalformedProto."""
    if end is None:
        end = len(buf)
    out: dict = {}
    fields = msg.by_key
    while i < end:
        key, i = _read_varint(buf, i, end)
        wire = key & 7
        if wire == 0:
            n, j = _read_varint(buf, i, end)
        elif wire == 2:
            n, i = _read_varint(buf, i, end)
            j = i + n
            if j > end:
                raise MalformedProto("truncated_length")
        elif wire == 1 or wire == 5:  # fixed64 / fixed32
            j = i + (8 if wire == 1 else 4)
            if j > end:
                raise MalformedProto("truncated_fixed")
        else:
            raise MalformedProto("bad_wire_type")
        field = fields.get(key)
        if field is None:
            if key >> 3 == 0:
                raise MalformedProto("bad_field_number")
            if key >> 3 in msg.numbers:
                raise MalformedProto("wire_type_mismatch")
            i = j
            continue
        name, kind, mode = field
        if mode == 2:
            out.setdefault(name, []).extend(_unpack(kind, buf, i, j))
            i = j
            continue
        if wire == 0:
            v = _from_varint(kind, n)
        elif wire == 1:
            (v,) = _FIXED[kind].unpack_from(buf, i)
        elif kind == STRING:
            try:
                v = str(buf[i:j], "utf-8")
            except UnicodeDecodeError:
                raise MalformedProto("invalid_utf8") from None
        elif kind == BYTES:
            v = bytes(buf[i:j])
        else:
            v = decode(kind, buf, i, j)
        i = j
        if mode:
            out.setdefault(name, []).append(v)
        else:
            out[name] = v
    return out


# ---------------------------------------------------------------------------
# common messages (common/v1, resource/v1)
# ---------------------------------------------------------------------------

ANY_VALUE = Message({
    1: ("string_value", STRING, PRESENT),
    2: ("bool_value", VARINT, PRESENT),
    3: ("int_value", INT64, PRESENT),
    4: ("double_value", DOUBLE, PRESENT),
    7: ("bytes_value", BYTES, PRESENT),
})
KEY_VALUE = Message({1: ("key", STRING), 2: ("value", ANY_VALUE)})
RESOURCE = Message({1: ("attributes", KEY_VALUE, REPEATED)})
SCOPE = Message({1: ("name", STRING)})


def string_attributes(pairs) -> list[dict]:
    """(key, str value) pairs → KeyValue values (None encodes as Str(""))."""
    return [{"key": k, "value": {"string_value": v or ""}} for k, v in pairs]


def attributes(msg, member: str = "string_value", default=""):
    """``{key: AnyValue member}`` over a decoded message's attributes
    (the last of a repeated key wins; ``default`` when the value holds
    another member)."""
    return {
        kv.get("key", ""): kv.get("value", {}).get(member, default)
        for kv in (msg or {}).get("attributes", ())
    }


def decoder(schema: str):
    """Declare the output columns (a Spark DDL string) of a function from
    payload bytes to rows (dicts keyed by column, or tuples in column
    order). The declared function checks every row against them: an int
    or bigint value wider than its column raises
    ``MalformedProto("out_of_range")`` rather than failing the Arrow
    conversion, and with it the task."""
    cols = [c.strip().rsplit(" ", 1) for c in schema.split(",")]
    bounds = [
        (i, name.strip("`"), 1 << (31 if typ == "int" else 63))
        for i, (name, typ) in enumerate(cols) if typ in ("int", "bigint")
    ]

    def declare(rows_of):
        @functools.wraps(rows_of)
        def checked(buf: bytes) -> list:
            rows = rows_of(buf)
            for r in rows:
                for i, name, bound in bounds:
                    v = r.get(name) if isinstance(r, dict) else r[i]
                    if v is not None and not -bound <= v < bound:
                        raise MalformedProto("out_of_range")
            return rows

        return checked

    return declare


def explode_decoded(df: DataFrame, wire_col: str, schema: str, rows_of, carry=()) -> DataFrame:
    """(…, wire) → one row per dict ``rows_of(bytes)`` returns: the Arrow
    UDF + explode every ``decode_*_proto`` shares. Carry columns ride
    along; a key a dict lacks reads NULL."""

    @pandas_udf(f"array<struct<{schema}>>")
    def _dec(wire: pd.Series) -> pd.Series:
        return pd.Series([rows_of(bytes(b)) for b in wire])

    return (
        df.select(*carry, F.explode(_dec(F.col(wire_col))).alias("r"))
        .select(*carry, "r.*")
    )


# ---------------------------------------------------------------------------
# logs signal (logs/v1/logs.proto)
# ---------------------------------------------------------------------------

LOG_RECORD = Message({
    1: ("time_unix_nano", FIXED64),
    2: ("severity_number", VARINT),
    3: ("severity_text", STRING),
    5: ("body", ANY_VALUE),
    6: ("attributes", KEY_VALUE, REPEATED),
    12: ("event_name", STRING),
})
SCOPE_LOGS = Message({1: ("scope", SCOPE), 2: ("log_records", LOG_RECORD, REPEATED)})
RESOURCE_LOGS = Message({1: ("resource", RESOURCE), 2: ("scope_logs", SCOPE_LOGS, REPEATED)})
LOGS_DATA = Message({1: ("resource_logs", RESOURCE_LOGS, REPEATED)})


def encode_log_record(
    time_unix_nano: int,
    severity_number: int,
    severity_text: str,
    body: str,
    turn_idx: int,
    event_name: str,
) -> bytes:
    """One LogRecord: the body as Str, one turn.idx Int attribute (always
    written, even 0 — every conversation's first turn carries
    turn.idx=0)."""
    return encode(LOG_RECORD, {
        "time_unix_nano": time_unix_nano,
        "severity_number": severity_number,
        "severity_text": severity_text,
        "body": {"string_value": body or ""},
        "attributes": [{"key": "turn.idx", "value": {"int_value": turn_idx or 0}}],
        "event_name": event_name,
    })


def encode_resource_logs(
    conv_id: str,
    scopes: list[tuple[str, list[bytes]]],
) -> bytes:
    """LogsData{ResourceLogs} for one (conversation, export batch):
    resource carries the conv.id attribute; each (scope_name, encoded
    records) becomes one ScopeLogs."""
    return encode(LOGS_DATA, {"resource_logs": [{
        "resource": {"attributes": string_attributes([("conv.id", conv_id)])},
        "scope_logs": [
            {"scope": {"name": name}, "log_records": recs} for name, recs in scopes
        ],
    }]})


_DECODED_SCHEMA = (
    "res_conv string, scope_name string, turn_idx int, "
    "ts_unix_nano bigint, severity_number int, severity_text string, "
    "body_text string, event_name string, decode_error string"
)


@decoder(_DECODED_SCHEMA)
def decode_logs(buf: bytes) -> list[dict]:
    """LogsData bytes → one dict per LogRecord (the flattened receiver
    row shape). ``turn_idx`` is the Int value of the record's
    ``turn.idx`` attribute."""
    out: list[dict] = []
    for rl in decode(LOGS_DATA, buf).get("resource_logs", ()):
        conv_id = attributes(rl.get("resource")).get("conv.id", "")
        for sl in rl.get("scope_logs", ()):
            scope_name = sl.get("scope", {}).get("name", "")
            for r in sl.get("log_records", ()):
                out.append({
                    "res_conv": conv_id,
                    "scope_name": scope_name,
                    "ts_unix_nano": r.get("time_unix_nano", 0),
                    "severity_number": r.get("severity_number", 0),
                    "severity_text": r.get("severity_text", ""),
                    "body_text": r.get("body", {}).get("string_value", ""),
                    "event_name": r.get("event_name", ""),
                    "turn_idx": attributes(r, "int_value", 0).get("turn.idx", 0),
                })
    return out


def _logs_or_error(buf: bytes) -> list[dict]:
    try:
        return decode_logs(buf)
    except MalformedProto as e:
        return [{"decode_error": e.reason}]


# ---------------------------------------------------------------------------
# spark surface
# ---------------------------------------------------------------------------

_SEV_TEXT = {17: "ERROR", 13: "WARN", 9: "INFO"}


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


def decode_logs_proto(df: DataFrame, carry: list[str] | None = None) -> DataFrame:
    """(…, wire: binary) → one row per LogRecord, the flat receiver
    shape shared with the JSON path, plus ``decode_error``: NULL on a
    decoded record; for a malformed payload, ONE row with the carry
    columns, NULL data fields and the MalformedProto reason — a bad
    payload never fails the task and never yields part of its
    records."""
    return explode_decoded(df, "wire", _DECODED_SCHEMA, _logs_or_error, carry or [])


def read_otlp_proto(spark, path: str) -> DataFrame:
    """Protobuf file receiver: one LogsData proto per file under
    ``path`` (the export framing `write_proto_files` produces — one
    envelope per (conversation, batch) file, the standard object-store
    layout for OTLP blobs) → one row per LogRecord, or one
    ``decode_error`` row per malformed file. `binaryFile` scans
    split across executors like any other file source; the decode is
    the same Arrow-batched walker the round-trip query uses."""
    raw = spark.read.format("binaryFile").load(path).select(
        F.col("content").alias("wire")
    )
    return decode_logs_proto(raw)


def write_proto_files(df: DataFrame, path: str) -> int:
    """Exporter-side file sink for encoded envelopes: one ``.pb`` file
    per envelope row (foreachPartition, executor-side writes — no
    driver collect). Returns the row count via the write's accumulator
    semantics (a count on the SAME cached plan the writer consumed)."""
    import os

    os.makedirs(path, exist_ok=True)
    enc = df.select(
        F.md5(F.concat_ws("|", "conv_id", "_batch")).alias("name"), "wire"
    )

    def _write(rows):
        for r in rows:
            with open(os.path.join(path, f"{r['name']}.pb"), "wb") as f:
                f.write(bytes(r["wire"]))

    enc = enc.persist()
    try:
        n = enc.count()
        enc.foreachPartition(_write)
    finally:
        enc.unpersist()
    return n


# ---------------------------------------------------------------------------
# metrics signal (metrics/v1/metrics.proto)
# ---------------------------------------------------------------------------
# Field layout from the reference's generated marshalers
# (generated_proto_metric.go:513-578, generated_proto_numberdatapoint.go,
# generated_proto_exponentialhistogramdatapoint.go:355-407,
# generated_proto_summarydatapoint.go, generated_proto_histogramdatapoint.go).

AGG_TEMPORALITY_DELTA = 1
AGG_TEMPORALITY_CUMULATIVE = 2

NUMBER_DATA_POINT = Message({
    2: ("start_time_unix_nano", FIXED64),
    3: ("time_unix_nano", FIXED64),
    4: ("as_double", DOUBLE, PRESENT),
    6: ("as_int", SFIXED64, PRESENT),
    7: ("attributes", KEY_VALUE, REPEATED),
})
GAUGE = Message({1: ("data_points", NUMBER_DATA_POINT, REPEATED)})
SUM = Message({
    1: ("data_points", NUMBER_DATA_POINT, REPEATED),
    2: ("aggregation_temporality", VARINT),
    3: ("is_monotonic", VARINT),
})
HISTOGRAM_DATA_POINT = Message({
    3: ("time_unix_nano", FIXED64),
    4: ("count", FIXED64),
    5: ("sum", DOUBLE),
    6: ("bucket_counts", FIXED64, PACKED),
    7: ("explicit_bounds", DOUBLE, PACKED),
    9: ("attributes", KEY_VALUE, REPEATED),
})
HISTOGRAM = Message({
    1: ("data_points", HISTOGRAM_DATA_POINT, REPEATED),
    2: ("aggregation_temporality", VARINT),
})
BUCKETS = Message({1: ("offset", SINT), 2: ("bucket_counts", VARINT, PACKED)})
EXP_HISTOGRAM_DATA_POINT = Message({
    1: ("attributes", KEY_VALUE, REPEATED),
    2: ("start_time_unix_nano", FIXED64),
    3: ("time_unix_nano", FIXED64),
    4: ("count", FIXED64),
    6: ("scale", SINT),
    7: ("zero_count", FIXED64),
    8: ("positive", BUCKETS, PRESENT),
    9: ("negative", BUCKETS, PRESENT),
})
EXP_HISTOGRAM = Message({
    1: ("data_points", EXP_HISTOGRAM_DATA_POINT, REPEATED),
    2: ("aggregation_temporality", VARINT),
})
VALUE_AT_QUANTILE = Message({1: ("quantile", DOUBLE), 2: ("value", DOUBLE)})
SUMMARY_DATA_POINT = Message({
    3: ("time_unix_nano", FIXED64),
    4: ("count", FIXED64),
    5: ("sum", DOUBLE),
    6: ("quantile_values", VALUE_AT_QUANTILE, REPEATED),
    7: ("attributes", KEY_VALUE, REPEATED),
})
SUMMARY = Message({1: ("data_points", SUMMARY_DATA_POINT, REPEATED)})
METRIC = Message({
    1: ("name", STRING),
    3: ("unit", STRING),
    5: ("gauge", GAUGE, PRESENT),
    7: ("sum", SUM, PRESENT),
    9: ("histogram", HISTOGRAM, PRESENT),
    10: ("exponential_histogram", EXP_HISTOGRAM, PRESENT),
    11: ("summary", SUMMARY, PRESENT),
})
SCOPE_METRICS = Message({1: ("scope", SCOPE), 2: ("metrics", METRIC, REPEATED)})
RESOURCE_METRICS = Message({
    1: ("resource", RESOURCE),
    2: ("scope_metrics", SCOPE_METRICS, REPEATED),
})
METRICS_DATA = Message({1: ("resource_metrics", RESOURCE_METRICS, REPEATED)})


def encode_exp_histogram_metric(
    name: str,
    unit: str,
    points: list[dict],
) -> bytes:
    """One cumulative Metric{exponential_histogram} message. Each point dict:
    attrs (list[(key, str value)]), start_time and time (unix nano),
    count, zero_count, scale, pos_offset, pos_counts, neg_offset,
    neg_counts; a missing key is unset."""
    return encode(METRIC, {"name": name, "unit": unit, "exponential_histogram": {
        "data_points": [{
            "attributes": string_attributes(pt.get("attrs", ())),
            "start_time_unix_nano": pt.get("start_time"),
            "time_unix_nano": pt.get("time"),
            "count": pt.get("count"),
            "scale": pt.get("scale"),
            "zero_count": pt.get("zero_count"),
            "positive": {"offset": pt.get("pos_offset"), "bucket_counts": pt.get("pos_counts")},
            "negative": {"offset": pt.get("neg_offset"), "bucket_counts": pt.get("neg_counts")},
        } for pt in points],
        "aggregation_temporality": AGG_TEMPORALITY_CUMULATIVE,
    }})


def encode_resource_metrics(
    resource_attrs: list[tuple[str, str]],
    scope_name: str,
    metrics: list[bytes],
) -> bytes:
    """MetricsData{ResourceMetrics{resource, ScopeMetrics{scope,
    metrics…}}} — the same 3-level envelope shape as logs."""
    return encode(METRICS_DATA, {"resource_metrics": [{
        "resource": {"attributes": string_attributes(resource_attrs)},
        "scope_metrics": [{"scope": {"name": scope_name}, "metrics": metrics}],
    }]})


# the Metric data oneof members, each with its own data-point message
_DATA_MEMBERS = ("gauge", "sum", "histogram", "exponential_histogram", "summary")


def _point(mtype: str, dp: dict) -> dict:
    """One decoded data point in the row shape decode_metrics emits."""
    pt = {"attrs": attributes(dp), "time": dp.get("time_unix_nano", 0)}
    if mtype in ("gauge", "sum"):
        pt["start_time"] = dp.get("start_time_unix_nano", 0)
        # the value appears only as the oneof member on the wire
        pt.update((k, dp[k]) for k in ("as_double", "as_int") if k in dp)
        return pt
    pt["count"] = dp.get("count", 0)
    if mtype == "exponential_histogram":
        pos, neg = dp.get("positive", {}), dp.get("negative", {})
        pt.update(
            start_time=dp.get("start_time_unix_nano", 0),
            zero_count=dp.get("zero_count", 0), scale=dp.get("scale", 0),
            pos_offset=pos.get("offset", 0), pos_counts=pos.get("bucket_counts", []),
            neg_offset=neg.get("offset", 0), neg_counts=neg.get("bucket_counts", []),
        )
        return pt
    pt["sum"] = dp.get("sum", 0.0)
    if mtype == "histogram":
        pt["bucket_counts"] = dp.get("bucket_counts", [])
        pt["bounds"] = dp.get("explicit_bounds", [])
    else:
        pt["quantiles"] = [(q.get("quantile", 0.0), q.get("value", 0.0))
                           for q in dp.get("quantile_values", ())]
    return pt


def decode_metrics(buf: bytes) -> list[dict]:
    """MetricsData bytes → one dict per data point: metric name/unit/
    type, resource + point attributes, and the type-specific payload
    (number value, exp-histogram buckets, explicit-bounds histogram or
    summary quantiles)."""
    out = []
    for rm in decode(METRICS_DATA, buf).get("resource_metrics", ()):
        res_attrs = attributes(rm.get("resource"))
        for sm in rm.get("scope_metrics", ()):
            scope_name = sm.get("scope", {}).get("name", "")
            for m in sm.get("metrics", ()):
                mtype = next((t for t in _DATA_MEMBERS if t in m), None)
                if mtype is None:
                    continue
                data = m[mtype]
                common = {
                    "res_attrs": res_attrs,
                    "scope_name": scope_name,
                    "metric_name": m.get("name", ""),
                    "unit": m.get("unit", ""),
                    "type": mtype,
                    "temporality": data.get("aggregation_temporality", 0),
                    "monotonic": bool(data.get("is_monotonic", 0)),
                }
                out.extend({**common, **_point(mtype, dp)}
                           for dp in data.get("data_points", ()))
    return out


def encode_metrics_proto(
    hist: DataFrame,
    metric_name: str = "latency_ms",
    unit: str = "ms",
    scale: int = 2,
) -> DataFrame:
    """Exponential-histogram rows (operators/exphist output: tool,
    sign, idx, n) → one MetricsData proto per tool: the tool value
    becomes the resource attribute, one ExponentialHistogramDataPoint
    carries dense positive/negative bucket arrays (offset = min index)
    plus the zero bucket count. Grouping is declarative (one
    collect_list per group — bounded: ~160 occupied buckets span the
    float range); only the struct→bytes step crosses into an
    Arrow-batched UDF. Returns (tool, wire: binary)."""
    rows = hist.groupBy("tool").agg(
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
            attrs = [] if g is None else [("tool", str(g))]
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

    return rows.select("tool", _enc("tool", "buckets").alias("wire"))


def decode_metrics_proto(df: DataFrame, group_col: str = "tool") -> DataFrame:
    """(…, wire) → exponential-histogram rows (group, scale, sign, idx,
    n) — the exact inverse of encode_metrics_proto: dense bucket arrays
    re-sparsify (zero counts drop), the zero bucket returns as sign 0 /
    idx NULL."""

    schema = f"`{group_col}` string, scale int, sign int, idx bigint, n bigint"

    @decoder(schema)
    def rows_of(buf: bytes) -> list[tuple]:
        rows = []
        for pt in decode_metrics(buf):
            if pt["type"] != "exponential_histogram":
                continue
            g = pt["attrs"].get(group_col) or pt["res_attrs"].get(group_col)
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
        return rows

    return explode_decoded(df, "wire", schema, rows_of)
