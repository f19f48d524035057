"""Nested attribute values — the pcommon.Value variant analog
(SURVEY §2.2 P5/P6 completion).

The reference's attribute values are a tagged union — Str, Int, Double,
Bool, Bytes, Map, Slice, Empty — nesting arbitrarily
(pdata/pcommon/value.go:114-130), with two canonical renderings:
``AsString`` (scalars render bare, Map/Slice render as their JSON
encoding — value.go:388-412) and ``AsRaw``-as-JSON (the whole value as
one JSON document, value.go:405-471).

Spark-first re-expression: a fixed variant STRUCT column —

    struct<t: string,            -- type tag: str int double bool
                                 --           bytes map slice empty
           s: string, i: bigint, d: double, b: boolean, bin: binary,
           j: string>            -- canonical JSON for map/slice

Nested Map/Slice values are carried as canonical JSON text (sorted
keys, built by these constructors), which makes equality, rendering and
cross-engine oracling exact while staying a flat columnar type that
Parquet/Tungsten handle natively — a struct-of-nullables is the
standard columnar encoding of a tagged union (one non-null branch per
row). Every operation here is a pure column expression (codegen'd, no
UDFs); the pcommon.Map verbs (Put/Remove/keep) work unchanged over
``map<string, variant>`` because MapType is agnostic to its value type.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from opentelemetry_collector_spark.functions.render import render_double

VARIANT_SCHEMA = (
    "struct<t:string,s:string,i:bigint,d:double,b:boolean,bin:binary,j:string>"
)

def _null_fields() -> dict[str, Column]:
    """Typed NULL branch columns, built lazily — module import must not
    require an active SparkContext (the oracle-SQL generator imports
    this module for JSON_ESCAPES before any session exists)."""
    return {
        "s": F.lit(None).cast("string"),
        "i": F.lit(None).cast("bigint"),
        "d": F.lit(None).cast("double"),
        "b": F.lit(None).cast("boolean"),
        "bin": F.lit(None).cast("binary"),
        "j": F.lit(None).cast("string"),
    }


def _variant(t: str, **set_fields: Column) -> Column:
    fields = {**_null_fields(), **set_fields}
    return F.named_struct(
        F.lit("t"), F.lit(t),
        F.lit("s"), fields["s"],
        F.lit("i"), fields["i"],
        F.lit("d"), fields["d"],
        F.lit("b"), fields["b"],
        F.lit("bin"), fields["bin"],
        F.lit("j"), fields["j"],
    )


# -- constructors (Value.SetStr / SetInt / ... , value.go:252-320) ----------

def vstr(c: Column) -> Column:
    return _variant("str", s=c.cast("string"))


def vint(c: Column) -> Column:
    return _variant("int", i=c.cast("bigint"))


def vdouble(c: Column) -> Column:
    return _variant("double", d=c.cast("double"))


def vbool(c: Column) -> Column:
    return _variant("bool", b=c.cast("boolean"))


# JSON escape table: the two structural characters, the short-form
# control escapes, then \u00XX for every remaining control char < 0x20
# (ALL 32 are JSON-mandatory — a bare ESC from ANSI-colored log text
# would otherwise make the whole document unparseable and a decoder
# silently drop it). Backslash MUST be first. The DuckDB twin
# (sqltext.json_esc_sql) is generated from the same table.
JSON_ESCAPES: list[tuple[str, str]] = (
    [("\\", "\\\\"), ('"', '\\"'),
     ("\n", "\\n"), ("\r", "\\r"), ("\t", "\\t"),
     ("\b", "\\b"), ("\f", "\\f")]
    + [
        (chr(code), f"\\u{code:04x}")
        for code in range(0x20)
        if chr(code) not in "\n\r\t\b\f"
    ]
)


_SHORT_ESCAPES = JSON_ESCAPES[:7]
_RARE_ESCAPES = JSON_ESCAPES[7:]


def json_escape(c: Column) -> Column:
    """JSON string escaping for text embedded in the canonical JSON —
    backslash first, then quote and EVERY control character < 0x20
    (short escapes where JSON defines them, \\u00XX otherwise). The
    same table (and order) drives the otlp_json wire encoder and the
    DuckDB oracle twin.

    Cost shape: the 7 common escapes always run; the 27 \\u00XX
    replaces for rare control chars are gated behind ONE rlike scan —
    the gated replaces are no-ops on strings without those chars, so
    the gate changes nothing semantically (the DuckDB twin runs them
    unconditionally and produces identical bytes) while saving ~27
    full-string passes per clean value."""
    for raw, esc in _SHORT_ESCAPES:
        c = F.replace(c, F.lit(raw), F.lit(esc))
    rare = c
    for raw, esc in _RARE_ESCAPES:
        rare = F.replace(rare, F.lit(raw), F.lit(esc))
    return F.when(c.rlike("[\\x00-\\x1f]"), rare).otherwise(c)


def vslice(items: list[Column]) -> Column:
    """Slice value from already-constructed variants: canonical JSON is
    the ordered array of the items' raw-JSON renderings
    (value.go:405-412 Slice case)."""
    parts = [value_as_raw_json(v) for v in items]
    return _variant(
        "slice",
        j=F.concat(F.lit("["), F.concat_ws(",", *parts), F.lit("]")),
    )


def vmap(entries: list[tuple[str, Column]]) -> Column:
    """Map value from (key, variant) pairs: canonical JSON renders the
    entries in SORTED key order (deterministic goldens — the same
    choice as maps.map_as_raw_json)."""
    parts = [
        F.concat(
            F.lit('"'), json_escape(F.lit(k)), F.lit('":'),
            value_as_raw_json(v),
        )
        for k, v in sorted(entries, key=lambda kv: kv[0])
    ]
    return _variant(
        "map",
        j=F.concat(F.lit("{"), F.concat_ws(",", *parts), F.lit("}")),
    )


# -- renderings -------------------------------------------------------------

def value_as_raw_json(v: Column) -> Column:
    """The value as one JSON document (AsRaw → json.Marshal,
    value.go:405-412): scalars as JSON scalars (doubles in ES6 number
    form), bytes as base64 strings, map/slice as their canonical JSON,
    empty as null."""
    t = v["t"]
    return (
        F.when(t == "str", F.concat(F.lit('"'), json_escape(v["s"]), F.lit('"')))
        .when(t == "int", v["i"].cast("string"))
        .when(t == "double", render_double(v["d"]))
        .when(t == "bool", F.when(v["b"], "true").otherwise("false"))
        .when(t == "bytes", F.concat(F.lit('"'), F.base64(v["bin"]), F.lit('"')))
        .when(t.isin("map", "slice"), v["j"])
        .otherwise(F.lit("null"))
    )


def value_as_string(v: Column) -> Column:
    """Value.AsString (value.go:388-412): Str bare, Bool
    'true'/'false', Int decimal, Double ES6, Bytes base64, Map/Slice
    their JSON encoding, Empty ''."""
    t = v["t"]
    return (
        F.when(t == "str", v["s"])
        .when(t == "int", v["i"].cast("string"))
        .when(t == "double", render_double(v["d"]))
        .when(t == "bool", F.when(v["b"], "true").otherwise("false"))
        .when(t == "bytes", F.base64(v["bin"]))
        .when(t.isin("map", "slice"), v["j"])
        .otherwise(F.lit(""))
    )


# -- pcommon.Map verbs over map<string, variant> ----------------------------
# (the P2 attribute verbs, generalized from string values to variants;
#  pdata/pcommon/map.go:65-319)

def vmap_put(m: Column, key: str, value: Column) -> Column:
    """Map.Put* upsert, last-write-wins (map.go:77-90)."""
    cleaned = F.map_filter(m, lambda k, _: k != F.lit(key))
    return F.map_concat(cleaned, F.create_map(F.lit(key), value))


def vmap_remove(m: Column, key: str) -> Column:
    """Map.Remove (map.go:95-105)."""
    return F.map_filter(m, lambda k, _: k != F.lit(key))


def vmap_as_raw_json(m: Column) -> Column:
    """The whole attribute bag as nested JSON in sorted key order
    (Map.AsRaw → json, the nested generalization of
    maps.map_as_raw_json)."""
    entries = F.array_sort(F.map_entries(m))
    parts = F.transform(
        entries,
        lambda e: F.concat(
            F.lit('"'), json_escape(e["key"]), F.lit('":'),
            value_as_raw_json(e["value"]),
        ),
    )
    return F.concat(F.lit("{"), F.array_join(parts, ","), F.lit("}"))
