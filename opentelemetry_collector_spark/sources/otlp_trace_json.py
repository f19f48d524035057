"""OTLP/JSON traces envelope — the ptrace wire story (SURVEY §2 signal
breadth; pdata/ptrace/json.go:17-53 MarshalTraces/UnmarshalTraces).

The reference marshals Traces as the ExportTraceServiceRequest JSON
envelope (ResourceSpans → ScopeSpans → Span). This module is the
traces twin of ``sources/otlp_json.py`` (the logs envelope): the
encoder builds one envelope document per conversation with pure column
concat (resource = conversation, one scope, spans in turn order via
sorted aggregation); the decoder inverts it with ``from_json`` +
``explode`` — declarative, no Python in either path.

Protobuf-JSON mapping details honored (same rules pdata's marshaler
follows): trace/span ids as hex strings, uint64 timestamps as JSON
strings, enum fields as ints, zero-valued fields omitted
(parentSpanId absent on root spans, status.code absent when UNSET) —
so ``status`` of an UNSET span is the empty object and decode restores
code 0 via coalesce.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from opentelemetry_collector_spark.functions.values import (
    json_escape as _json_esc,
)

# ExportTraceServiceRequest, span subset (ptrace/json.go)
_SATTRS = "attributes:array<struct<key:string,value:struct<stringValue:string>>>"
OTLP_TRACES_SCHEMA = (
    "resourceSpans array<struct<"
    "resource:struct<attributes:array<struct<"
    "key:string,value:struct<stringValue:string>>>>,"
    "scopeSpans:array<struct<scope:struct<name:string>,"
    "spans:array<struct<traceId:string,spanId:string,parentSpanId:string,"
    "name:string,kind:int,startTimeUnixNano:string,endTimeUnixNano:string,"
    "attributes:array<struct<key:string,value:struct<intValue:string>>>,"
    f"events:array<struct<timeUnixNano:string,name:string,{_SATTRS}>>,"
    f"links:array<struct<traceId:string,spanId:string,{_SATTRS}>>,"
    "status:struct<code:int>>>>>>>"
)


def _events_json_per_span(events: DataFrame) -> DataFrame:
    """Span events (operators/traces.derive_span_events rows) → one
    pre-rendered JSON array body per (conv_id, turn_idx), events
    ordered by (time, name) — the SpanEvent protobuf-JSON mapping
    (time as string, attributes carrying the event's value)."""
    ev = F.concat(
        F.lit('{"timeUnixNano":"'), F.col("time_unix_nano").cast("string"),
        F.lit('","name":"'), _json_esc(F.col("event_name")),
        F.lit('","attributes":[{"key":"value","value":{"stringValue":"'),
        _json_esc(F.col("value")),
        F.lit('"}}]}'),
    )
    return (
        events.select(
            "conv_id", "turn_idx",
            F.struct(
                F.col("time_unix_nano").alias("t"),
                F.col("event_name").alias("n"),
                ev.alias("j"),
            ).alias("tej"),
        )
        .groupBy("conv_id", "turn_idx")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("tej")), lambda e: e["j"]
                ),
                ",",
            ).alias("_events_json")
        )
    )


def _links_json_per_span(links: DataFrame) -> DataFrame:
    """Span links (operators/traces.derive_span_links rows) → one
    pre-rendered JSON array body per (conv_id, turn_idx) — the SpanLink
    mapping (linked trace/span ids, link type as attribute)."""
    lk = F.concat(
        F.lit('{"traceId":"'), F.col("link_trace_id"),
        F.lit('","spanId":"'), F.col("link_span_id"),
        F.lit('","attributes":[{"key":"link.type","value":{"stringValue":"'),
        _json_esc(F.col("link_type")),
        F.lit('"}}]}'),
    )
    return (
        links.select(
            "conv_id", "turn_idx",
            F.struct(F.col("link_span_id").alias("k"), lk.alias("j"))
            .alias("tlj"),
        )
        .groupBy("conv_id", "turn_idx")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("tlj")), lambda e: e["j"]
                ),
                ",",
            ).alias("_links_json")
        )
    )


def encode_trace_envelope(
    spans: DataFrame,
    events: DataFrame | None = None,
    links: DataFrame | None = None,
) -> DataFrame:
    """Derived spans (operators/traces.derive_spans columns + turn_idx)
    → one envelope JSON document per conversation: resource carries the
    conv.id attribute, one scope ("transcripts"), spans in turn order
    via sorted aggregation. Optional ``events``/``links`` frames
    (derive_span_events / derive_span_links rows) ride inside their
    span as SpanEvent/SpanLink arrays. Returns (conv_id, wire).
    Zero-valued fields are omitted per the protobuf-JSON mapping (root
    spans have no parentSpanId; UNSET status encodes as {}; spans with
    no events/links omit the arrays)."""
    if events is not None:
        spans = spans.join(
            _events_json_per_span(events), ["conv_id", "turn_idx"], "left"
        )
    else:
        spans = spans.withColumn("_events_json", F.lit(None).cast("string"))
    if links is not None:
        spans = spans.join(
            _links_json_per_span(links), ["conv_id", "turn_idx"], "left"
        )
    else:
        spans = spans.withColumn("_links_json", F.lit(None).cast("string"))
    span_json = F.concat(
        F.lit('{"traceId":"'), F.col("trace_id"),
        F.lit('","spanId":"'), F.col("span_id"),
        F.when(
            F.col("parent_span_id").isNotNull(),
            F.concat(F.lit('","parentSpanId":"'), F.col("parent_span_id")),
        ).otherwise(F.lit("")),
        F.lit('","name":"'), _json_esc(F.col("name")),
        F.lit('","kind":'), F.col("kind").cast("string"),
        F.lit(',"startTimeUnixNano":"'),
        F.col("start_unix_nano").cast("string"),
        F.lit('","endTimeUnixNano":"'),
        F.col("end_unix_nano").cast("string"),
        F.lit('","attributes":[{"key":"turn.idx","value":{"intValue":"'),
        F.col("turn_idx").cast("string"),
        F.lit('"}}]'),
        F.when(
            F.col("_events_json").isNotNull(),
            F.concat(F.lit(',"events":['), F.col("_events_json"), F.lit("]")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("_links_json").isNotNull(),
            F.concat(F.lit(',"links":['), F.col("_links_json"), F.lit("]")),
        ).otherwise(F.lit("")),
        F.lit(',"status":{'),
        F.when(
            F.col("status_code") != 0,
            F.concat(F.lit('"code":'), F.col("status_code").cast("string")),
        ).otherwise(F.lit("")),
        F.lit("}}"),
    )
    return (
        spans.select(
            "conv_id",
            F.struct(F.col("turn_idx").alias("ti"), span_json.alias("sj"))
            .alias("tsj"),
        )
        .groupBy("conv_id")
        .agg(
            F.concat(
                F.lit('{"resourceSpans":[{"resource":{"attributes":'
                      '[{"key":"conv.id","value":{"stringValue":"'),
                _json_esc(F.col("conv_id")),
                F.lit('"}}]},"scopeSpans":[{"scope":{"name":"transcripts"},'
                      '"spans":['),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list("tsj")), lambda e: e["sj"]
                    ),
                    ",",
                ),
                F.lit("]}]}]}"),
            ).alias("wire")
        )
    )


def decode_trace_envelope(df: DataFrame, carry: list[str] | None = None) -> DataFrame:
    """``wire`` envelope JSON documents → one row per span (the encoder's exact
    inverse): conv.id resource attribute as res_conv, flat span columns
    named like derive_spans plus turn_idx from the span attribute.
    Omitted zero-valued fields decode back to their defaults
    (parent_span_id NULL, status_code 0)."""
    carry = carry or []
    dec = df.select(
        *carry, F.from_json(F.col("wire"), OTLP_TRACES_SCHEMA).alias("d")
    )
    flat = (
        dec.select(*carry, F.explode("d.resourceSpans").alias("rs"))
        .select(
            *carry,
            F.col("rs.resource.attributes")[0]["value"]["stringValue"]
            .alias("res_conv"),
            F.explode("rs.scopeSpans").alias("ss"),
        )
        .select(
            *carry,
            "res_conv",
            F.col("ss.scope.name").alias("scope_name"),
            F.explode("ss.spans").alias("sp"),
        )
    )
    return flat.select(
        *carry,
        "res_conv",
        "scope_name",
        F.col("sp.attributes")[0]["value"]["intValue"].cast("int")
        .alias("turn_idx"),
        F.col("sp.traceId").alias("trace_id"),
        F.col("sp.spanId").alias("span_id"),
        F.col("sp.parentSpanId").alias("parent_span_id"),
        F.col("sp.name").alias("name"),
        F.col("sp.kind").alias("kind"),
        F.col("sp.startTimeUnixNano").cast("bigint").alias("start_unix_nano"),
        F.col("sp.endTimeUnixNano").cast("bigint").alias("end_unix_nano"),
        F.coalesce(F.col("sp.status.code"), F.lit(0)).alias("status_code"),
        # omitted arrays decode to NULL → empty (the protobuf-JSON rule)
        F.coalesce(
            F.col("sp.events"),
            F.array().cast(
                f"array<struct<timeUnixNano:string,name:string,{_SATTRS}>>"
            ),
        ).alias("events"),
        F.coalesce(
            F.col("sp.links"),
            F.array().cast(
                f"array<struct<traceId:string,spanId:string,{_SATTRS}>>"
            ),
        ).alias("links"),
    )
