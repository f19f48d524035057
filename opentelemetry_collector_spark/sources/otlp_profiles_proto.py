"""OTLP profiles protobuf wire codec — the 4th signal's wire story
(pdata/pprofile/encoding.go analog; field layout from the reference's
generated marshalers: generated_proto_exportprofilesservicerequest.go
{resource_profiles=1, dictionary=2}, generated_proto_profilesdictionary.go:332-375
{mapping=1, location=2, function=3, link=4, string=5, attribute=6,
stack=7}, generated_proto_profile.go {sample_type=1, samples=2, time=3
fixed64, period_type=5, profile_id=7}, generated_proto_sample.go:252-287
{stack_index=1, attribute_indices=2 packed, link_index=3, values=4
packed, timestamps=5 packed fixed64}, generated_proto_stack.go
{location_indices=1 packed}, generated_proto_location.go:227-249
{mapping_index=1, address=2, lines=3, attributes=4},
generated_proto_line.go {function_index=1}, generated_proto_function.go
{name_strindex=1}, generated_proto_keyvalueandunit.go {key_strindex=1,
value=2, unit_strindex=3}, generated_proto_valuetype.go
{type_strindex=1, unit_strindex=2}).

Export shape: ONE ExportProfilesServiceRequest per conversation, each
carrying its own conversation-local dictionary — the request-scoped
interning real profile exporters ship (the dictionary rides the request
per pdata's Profiles model). The per-conversation dictionary is built
inside the Arrow UDF (conversations are bounded — turns-per-conv — so
the interning is small local work at the sanctioned struct↔bytes
boundary); the GLOBAL interning analog lives in operators/profiles.py.

Conventions (documented, preserved by the decoder):
* StringTable[0] = "" (the pprof reservation — index 0 must mean
  "unset" since proto3 omits zero references), names sorted after it;
* one Function/Location per name, one Stack per distinct leaf-first
  path, one AttributeTable entry per sample carrying turn.idx;
* sample_type = ("latency", "microseconds"); profile_id = md5(conv_id).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf

from opentelemetry_collector_spark.sources.otlp_proto import (
    _WT_LEN,
    _WT_VARINT,
    _any_string,
    _fields,
    _key,
    _keyvalue,
    _msg_field,
    _read_varint,
    _str_field,
    _varint,
    _varint_field,
)


def _packed_varints(field: int, vals: list[int]) -> bytes:
    if not vals:
        return b""
    body = b"".join(_varint(v) for v in vals)
    return _key(field, _WT_LEN) + _varint(len(body)) + body


def _packed_fixed64(field: int, vals: list[int]) -> bytes:
    if not vals:
        return b""
    body = b"".join(int(v).to_bytes(8, "little") for v in vals)
    return _key(field, _WT_LEN) + _varint(len(body)) + body


def _any_int_msg(n: int) -> bytes:
    """AnyValue{int_value=3} — oneof member always written."""
    return _key(3, _WT_VARINT) + _varint(n or 0)


def encode_profiles_request(conv_id: str, turns: list[dict]) -> bytes:
    """One ExportProfilesServiceRequest for a conversation's turns
    (each: turn_idx, fname, value_us, ts_unix_nano — leaf-first paths
    derive from turn order here, locally)."""
    turns = sorted(turns, key=lambda t: t["turn_idx"])
    names = sorted({t["fname"] for t in turns})
    strings = [""] + names + ["turn.idx", "latency", "microseconds"]
    sidx = {s: i for i, s in enumerate(strings)}
    # functions/locations: one per name, index i -> strings[1+i]
    fidx = {n: i for i, n in enumerate(names)}
    # stacks: distinct leaf-first paths in first-use order
    stacks: dict[tuple, int] = {}
    samples = []
    path: list[str] = []
    for i, t in enumerate(turns):
        path.append(t["fname"])
        key = tuple(reversed(path))
        if key not in stacks:
            stacks[key] = len(stacks)
        samples.append(
            {
                "stack": stacks[key],
                "attr": i,  # one AttributeTable entry per sample
                "value": int(t["value_us"]),
                "ts": int(t["ts_unix_nano"]),
                "turn_idx": int(t["turn_idx"]),
            }
        )

    dict_body = b""
    for n in names:  # location table (field 2): Line{function_index}
        dict_body += _msg_field(
            2, _msg_field(3, _varint_field(1, fidx[n]))
        )
    for n in names:  # function table (field 3): name_strindex
        dict_body += _msg_field(3, _varint_field(1, sidx[n]))
    for s in strings:  # string table (field 5)
        raw = s.encode("utf-8")
        dict_body += _key(5, _WT_LEN) + _varint(len(raw)) + raw
    for sm in samples:  # attribute table (field 6): turn.idx per sample
        kvu = _varint_field(1, sidx["turn.idx"]) + _msg_field(
            2, _any_int_msg(sm["turn_idx"])
        )
        dict_body += _msg_field(6, kvu)
    for key, _ in sorted(stacks.items(), key=lambda kv: kv[1]):
        dict_body += _msg_field(
            7, _packed_varints(1, [fidx[n] for n in key])
        )

    sample_type = _varint_field(1, sidx["latency"]) + _varint_field(
        2, sidx["microseconds"]
    )
    profile = _msg_field(1, sample_type)
    for sm in samples:
        profile += _msg_field(
            2,
            _varint_field(1, sm["stack"])
            + _packed_varints(2, [sm["attr"]])
            + _packed_varints(4, [sm["value"]])
            + _packed_fixed64(5, [sm["ts"]]),
        )
    profile += _msg_field(5, sample_type)  # period_type mirrors
    import hashlib

    profile += _msg_field(7, hashlib.md5(conv_id.encode()).digest())

    resource = _msg_field(1, _keyvalue("conv.id", _any_string(conv_id)))
    scope = _msg_field(1, _str_field(1, "transcripts"))
    rp = _msg_field(1, resource) + _msg_field(
        2, scope + _msg_field(2, profile)
    )
    return _msg_field(1, rp) + _msg_field(2, dict_body)


def decode_profiles_request(buf: bytes) -> list[dict]:
    """Inverse: resolve every sample through stack → location → line →
    function → string (the dictionary_helpers.go resolution pass) and
    emit (conv_id, turn_idx, stack_depth, leaf_fn, path, value_us,
    ts_unix_nano) rows."""
    strings: list[str] = []
    functions: list[int] = []  # name_strindex per function
    locations: list[int] = []  # function index per location
    stacks: list[list[int]] = []
    attrs: list[tuple[int, int]] = []  # (key_strindex, int value)
    conv_id = ""
    raw_samples = []
    for f, _, v in _fields(buf):
        if f == 2:  # dictionary
            for f2, wt2, v2 in _fields(v):
                if f2 == 5:
                    strings.append(v2.decode("utf-8"))
                elif f2 == 3:
                    name = 0
                    for f3, _, v3 in _fields(v2):
                        if f3 == 1:
                            name = v3
                    functions.append(name)
                elif f2 == 2:
                    func = 0
                    for f3, _, v3 in _fields(v2):
                        if f3 == 3:
                            for f4, _, v4 in _fields(v3):
                                if f4 == 1:
                                    func = v4
                    locations.append(func)
                elif f2 == 7:
                    idxs: list[int] = []
                    for f3, wt3, v3 in _fields(v2):
                        if f3 == 1 and wt3 == _WT_LEN:
                            i = 0
                            while i < len(v3):
                                n, i = _read_varint(v3, i)
                                idxs.append(n)
                        elif f3 == 1:
                            idxs.append(v3)
                    stacks.append(idxs)
                elif f2 == 6:
                    k, val = 0, 0
                    for f3, _, v3 in _fields(v2):
                        if f3 == 1:
                            k = v3
                        elif f3 == 2:
                            for f4, _, v4 in _fields(v3):
                                if f4 == 3:
                                    val = v4
                    attrs.append((k, val))
        elif f == 1:  # resource_profiles
            for f2, _, v2 in _fields(v):
                if f2 == 1:  # resource
                    for f3, _, v3 in _fields(v2):
                        if f3 == 1:
                            for f4, _, v4 in _fields(v3):
                                if f4 == 2:
                                    for f5, _, v5 in _fields(v4):
                                        if f5 == 1:
                                            conv_id = v5.decode("utf-8")
                elif f2 == 2:  # scope_profiles
                    for f3, _, v3 in _fields(v2):
                        if f3 == 2:  # profile
                            for f4, _, v4 in _fields(v3):
                                if f4 == 2:  # sample
                                    sm = {"stack": 0, "attr": [],
                                          "values": [], "ts": []}
                                    for f5, wt5, v5 in _fields(v4):
                                        if f5 == 1:
                                            sm["stack"] = v5
                                        elif f5 == 2 and wt5 == _WT_LEN:
                                            i = 0
                                            while i < len(v5):
                                                n, i = _read_varint(v5, i)
                                                sm["attr"].append(n)
                                        elif f5 == 4 and wt5 == _WT_LEN:
                                            i = 0
                                            while i < len(v5):
                                                n, i = _read_varint(v5, i)
                                                sm["values"].append(n)
                                        elif f5 == 5 and wt5 == _WT_LEN:
                                            for j in range(0, len(v5), 8):
                                                sm["ts"].append(
                                                    int.from_bytes(
                                                        v5[j:j + 8], "little"
                                                    )
                                                )
                                    raw_samples.append(sm)
    out = []
    for sm in raw_samples:
        loc_idxs = stacks[sm["stack"]]
        names = [strings[functions[locations[li]]] for li in loc_idxs]
        turn_idx = attrs[sm["attr"][0]][1] if sm["attr"] else 0
        out.append(
            {
                "conv_id": conv_id,
                "turn_idx": turn_idx,
                "stack_depth": len(names),
                "leaf_fn": names[0],
                "path": ";".join(names),
                "value_us": sm["values"][0] if sm["values"] else 0,
                "ts_unix_nano": sm["ts"][0] if sm["ts"] else 0,
            }
        )
    return out


def encode_profiles_proto(parsed: DataFrame) -> DataFrame:
    """Parsed turns → (conv_id, wire): one ExportProfilesServiceRequest
    per conversation with its request-local dictionary. Grouping is
    declarative (one sorted collect per conversation); the interning +
    bytes step is the Arrow UDF boundary."""
    rec = F.struct(
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.coalesce(F.col("tool_parsed"), F.lit("none")).alias("fname"),
        F.floor(
            F.coalesce(F.col("latency_ms"), F.lit(0.0)) * F.lit(1000.0)
        ).cast("bigint").alias("value_us"),
        (F.unix_timestamp("ts").cast("bigint") * F.lit(1_000_000_000))
        .alias("ts_unix_nano"),
    )
    grouped = (
        parsed.select("conv_id", rec.alias("t"))
        .groupBy("conv_id")
        .agg(F.array_sort(F.collect_list("t")).alias("turns"))
    )

    @pandas_udf("binary")
    def _enc(conv: pd.Series, turns_s: pd.Series) -> pd.Series:
        return pd.Series(
            [
                encode_profiles_request(
                    c, [dict(t.items()) if hasattr(t, "items") else t
                        for t in ts]
                )
                for c, ts in zip(conv, turns_s)
            ]
        )

    return grouped.select("conv_id", _enc("conv_id", "turns").alias("wire"))


_SAMPLE_SCHEMA = (
    "conv_id string, turn_idx int, stack_depth int, leaf_fn string, "
    "path string, value_us bigint, ts_unix_nano bigint"
)


def decode_profiles_proto(df: DataFrame, wire_col: str = "wire") -> DataFrame:
    """(…, wire) → resolved sample rows (same columns the global
    profiles operator's resolve_samples emits)."""

    @pandas_udf(f"array<struct<{_SAMPLE_SCHEMA}>>")
    def _dec(wire: pd.Series) -> pd.Series:
        return pd.Series(
            [
                [tuple(d.values()) for d in decode_profiles_request(bytes(b))]
                for b in wire
            ]
        )

    return (
        df.select(F.explode(_dec(F.col(wire_col))).alias("r"))
        .select("r.*")
    )
