"""OTLP profiles protobuf wire codec — the 4th signal's wire story
(pdata/pprofile/encoding.go analog). The message tables below are the
field layout of the reference's generated marshalers
(generated_proto_exportprofilesservicerequest.go,
generated_proto_profilesdictionary.go:332-375, generated_proto_profile.go,
generated_proto_sample.go:252-287, generated_proto_stack.go,
generated_proto_location.go:227-249, generated_proto_line.go,
generated_proto_function.go, generated_proto_keyvalueandunit.go,
generated_proto_valuetype.go); encoding and strict decoding are the one
table-driven walker of sources/otlp_proto.py, so a malformed request
raises ``MalformedProto`` with a named reason, never part of its
samples. Resolution adds one reason of its own: an index past its
dictionary table (or a sample whose stack is empty) is
``dangling_index``.

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

import hashlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf

from opentelemetry_collector_spark.sources.otlp_proto import (
    ANY_VALUE,
    BYTES,
    FIXED64,
    INT64,
    PACKED,
    REPEATED,
    RESOURCE,
    SCOPE,
    STRING,
    VARINT,
    MalformedProto,
    Message,
    attributes,
    decode,
    decoder,
    encode,
    explode_decoded,
    string_attributes,
)

VALUE_TYPE = Message({1: ("type_strindex", VARINT), 2: ("unit_strindex", VARINT)})
SAMPLE = Message({
    1: ("stack_index", VARINT),
    2: ("attribute_indices", VARINT, PACKED),
    4: ("values", INT64, PACKED),
    5: ("timestamps_unix_nano", FIXED64, PACKED),
})
PROFILE = Message({
    1: ("sample_type", VALUE_TYPE),
    2: ("samples", SAMPLE, REPEATED),
    5: ("period_type", VALUE_TYPE),
    7: ("profile_id", BYTES),
})
SCOPE_PROFILES = Message({1: ("scope", SCOPE), 2: ("profiles", PROFILE, REPEATED)})
RESOURCE_PROFILES = Message({
    1: ("resource", RESOURCE),
    2: ("scope_profiles", SCOPE_PROFILES, REPEATED),
})
LINE = Message({1: ("function_index", VARINT)})
LOCATION = Message({3: ("lines", LINE, REPEATED)})
FUNCTION = Message({1: ("name_strindex", VARINT)})
KEY_VALUE_AND_UNIT = Message({1: ("key_strindex", VARINT), 2: ("value", ANY_VALUE)})
STACK = Message({1: ("location_indices", VARINT, PACKED)})
PROFILES_DICTIONARY = Message({
    2: ("location_table", LOCATION, REPEATED),
    3: ("function_table", FUNCTION, REPEATED),
    5: ("string_table", STRING, REPEATED),
    6: ("attribute_table", KEY_VALUE_AND_UNIT, REPEATED),
    7: ("stack_table", STACK, REPEATED),
})
EXPORT_PROFILES_REQUEST = Message({
    1: ("resource_profiles", RESOURCE_PROFILES, REPEATED),
    2: ("dictionary", PROFILES_DICTIONARY),
})


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
        samples.append({
            "stack_index": stacks[key],
            "attribute_indices": [i],  # one AttributeTable entry per sample
            "values": [int(t["value_us"])],
            "timestamps_unix_nano": [int(t["ts_unix_nano"])],
        })
    sample_type = {"type_strindex": sidx["latency"], "unit_strindex": sidx["microseconds"]}
    dictionary = {
        "location_table": [{"lines": [{"function_index": fidx[n]}]} for n in names],
        "function_table": [{"name_strindex": sidx[n]} for n in names],
        "string_table": strings,
        "attribute_table": [
            {"key_strindex": sidx["turn.idx"], "value": {"int_value": int(t["turn_idx"])}}
            for t in turns
        ],
        # stacks dict keeps first-use order, which is its index order
        "stack_table": [{"location_indices": [fidx[n] for n in key]} for key in stacks],
    }
    profile = {
        "sample_type": sample_type,
        "samples": samples,
        "period_type": sample_type,  # period_type mirrors
        "profile_id": hashlib.md5(conv_id.encode()).digest(),
    }
    return encode(EXPORT_PROFILES_REQUEST, {
        "resource_profiles": [{
            "resource": {"attributes": string_attributes([("conv.id", conv_id)])},
            "scope_profiles": [{"scope": {"name": "transcripts"}, "profiles": [profile]}],
        }],
        "dictionary": dictionary,
    })


def _entry(table: list, i: int):
    if i < len(table):
        return table[i]
    raise MalformedProto("dangling_index")


_SAMPLE_SCHEMA = (
    "conv_id string, turn_idx int, stack_depth int, leaf_fn string, "
    "path string, value_us bigint, ts_unix_nano bigint"
)


@decoder(_SAMPLE_SCHEMA)
def decode_profiles_request(buf: bytes) -> list[dict]:
    """Inverse: resolve every sample through stack → location → line →
    function → string (the dictionary_helpers.go resolution pass) and
    emit (conv_id, turn_idx, stack_depth, leaf_fn, path, value_us,
    ts_unix_nano) rows. turn_idx is the Int value of the sample's
    attribute whose key is ``turn.idx``."""
    req = decode(EXPORT_PROFILES_REQUEST, buf)
    d = req.get("dictionary", {})
    strings = d.get("string_table", [])
    fn_names = [_entry(strings, f.get("name_strindex", 0)) for f in d.get("function_table", ())]
    loc_names = [
        _entry(fn_names, (loc.get("lines") or [{}])[-1].get("function_index", 0))
        for loc in d.get("location_table", ())
    ]
    stacks = [
        [_entry(loc_names, li) for li in s.get("location_indices", ())]
        for s in d.get("stack_table", ())
    ]
    attrs = [
        (_entry(strings, a.get("key_strindex", 0)), a.get("value", {}).get("int_value", 0))
        for a in d.get("attribute_table", ())
    ]
    out = []
    for rp in req.get("resource_profiles", ()):
        conv_id = attributes(rp.get("resource")).get("conv.id", "")
        for sp in rp.get("scope_profiles", ()):
            for prof in sp.get("profiles", ()):
                for sm in prof.get("samples", ()):
                    names = _entry(stacks, sm.get("stack_index", 0))
                    turn_idx = 0
                    for ai in sm.get("attribute_indices", ()):
                        key, value = _entry(attrs, ai)
                        if key == "turn.idx":
                            turn_idx = value
                    out.append({
                        "conv_id": conv_id,
                        "turn_idx": turn_idx,
                        "stack_depth": len(names),
                        "leaf_fn": _entry(names, 0),
                        "path": ";".join(names),
                        "value_us": (sm.get("values") or [0])[0],
                        "ts_unix_nano": (sm.get("timestamps_unix_nano") or [0])[0],
                    })
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
        return pd.Series([encode_profiles_request(c, ts) for c, ts in zip(conv, turns_s)])

    return grouped.select("conv_id", _enc("conv_id", "turns").alias("wire"))


def decode_profiles_proto(df: DataFrame) -> DataFrame:
    """(…, wire) → resolved sample rows (same columns the global
    profiles operator's resolve_samples emits)."""
    return explode_decoded(df, "wire", _SAMPLE_SCHEMA, decode_profiles_request)
