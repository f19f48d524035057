"""OTLP/JSON file receiver — the wire-format ingest path (SURVEY §2.1
S1/S2; pdata/plog/json.go:17-44).

The reference's receivers accept the OTLP ExportLogsServiceRequest
envelope (ResourceLogs → ScopeLogs → LogRecord). This module reads
files of those JSON documents (one per line — the standard file/Kafka
framing) and flattens them to one row per LogRecord, entirely with
``from_json`` + ``explode`` — a declarative scan Catalyst can push
column pruning into, no Python in the path. The envelope ENCODER lives
in ``__spark_entry__.q_otlp_envelope`` (byte-oracled); this decoder is
its exact inverse, so an export → file → ingest round trip reproduces
the records (asserted in tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ExportLogsServiceRequest, logs subset (plog/json.go): uint64s are
# JSON strings per the protobuf-JSON mapping; record attributes carry
# the intValue variant used by the envelope encoder.
OTLP_LOGS_SCHEMA = (
    "resourceLogs array<struct<"
    "resource:struct<attributes:array<struct<"
    "key:string,value:struct<stringValue:string>>>>,"
    "scopeLogs:array<struct<scope:struct<name:string>,"
    "logRecords:array<struct<timeUnixNano:string,severityNumber:int,"
    "severityText:string,body:struct<stringValue:string>,"
    "eventName:string,attributes:array<struct<"
    "key:string,value:struct<intValue:string>>>>>>>>>"
)


def flatten_envelope(
    df: DataFrame,
    res_id_alias: str = "conv_id",
    carry: list[str] | None = None,
) -> DataFrame:
    """Decode + flatten the ``wire`` envelope JSON documents to one row per
    LogRecord: the conv.id resource attribute surfaces as
    ``res_id_alias``, scope name and record fields as flat columns.
    ``carry`` names input columns to pass through unchanged (the
    oracle query carries the pre-encode conv_id for its round-trip
    check) — this is the ONE decode both the file receiver and the
    byte-oracled round-trip query use."""
    carry = carry or []
    dec = df.select(
        *carry, F.from_json(F.col("wire"), OTLP_LOGS_SCHEMA).alias("d")
    )
    flat = (
        dec.select(*carry, F.explode("d.resourceLogs").alias("rl"))
        .select(
            *carry,
            F.col("rl.resource.attributes")[0]["value"]["stringValue"]
            .alias(res_id_alias),
            F.explode("rl.scopeLogs").alias("sl"),
        )
        .select(
            *carry,
            res_id_alias,
            F.col("sl.scope.name").alias("scope_name"),
            F.explode("sl.logRecords").alias("lr"),
        )
    )
    return flat.select(
        *carry,
        res_id_alias,
        "scope_name",
        F.col("lr.attributes")[0]["value"]["intValue"].cast("int")
        .alias("turn_idx"),
        F.col("lr.timeUnixNano").cast("bigint").alias("ts_unix_nano"),
        F.col("lr.severityNumber").alias("severity_number"),
        F.col("lr.severityText").alias("severity_text"),
        F.col("lr.body.stringValue").alias("body_text"),
        F.col("lr.eventName").alias("event_name"),
    )


def read_otlp_json(spark: SparkSession, path: str) -> DataFrame:
    """File receiver: one envelope JSON document per line under
    ``path`` → one row per LogRecord. The text scan splits like any
    other file source; the decode is per-row column work."""
    return flatten_envelope(
        spark.read.text(path).withColumnRenamed("value", "wire")
    )


# the byte-parity-critical escape chain lives in ONE place
# (functions/values.json_escape) — the wire encoder, the nested-value
# renderer and the oracle twin (sqltext.json_esc_sql) must stay in
# lockstep or the byte-oracled round trips break
from opentelemetry_collector_spark.functions.values import (  # noqa: E402
    json_escape as _json_esc,
)


# Turns per export batch: the envelope's send_batch_max_size.
EXPORT_BATCH = 512


def encode_envelope(df: DataFrame) -> DataFrame:
    """Parsed turns → one OTLP/JSON envelope document per
    (conversation, export batch of ≤ EXPORT_BATCH turns): resource =
    conversation (conv.id attribute), scope = tool, records in turn
    order via sorted aggregation — the exporter-side encoder whose
    byte-exactness is oracled by the ``otlp_envelope`` query. The batch
    key bounds every aggregation row (the send_batch_max_size
    boundary). Returns (conv_id, _batch, wire)."""
    df = df.withColumn("_batch", (F.col("turn_idx") / F.lit(EXPORT_BATCH)).cast("int"))
    sev_text = (
        F.when(F.col("severity_num") == 17, "ERROR")
        .when(F.col("severity_num") == 13, "WARN")
        .when(F.col("severity_num") == 9, "INFO")
        .otherwise("")
    )
    rec = F.concat(
        F.lit('{"timeUnixNano":"'),
        (F.unix_timestamp("ts").cast("bigint") * F.lit(1000000000)).cast("string"),
        F.lit('","severityNumber":'), F.col("severity_num").cast("string"),
        F.lit(',"severityText":"'), sev_text,
        F.lit('","body":{"stringValue":"'), _json_esc(F.col("text")),
        F.lit('"},"eventName":"'), _json_esc(F.col("event_kind")),
        F.lit('","attributes":[{"key":"turn.idx","value":{"intValue":"'),
        F.col("turn_idx").cast("string"), F.lit('"}}]}'),
    )
    scopes = (
        df.select(
            "conv_id", "_batch",
            F.coalesce(F.col("tool_parsed"), F.lit("none")).alias("scope_name"),
            F.struct(F.col("turn_idx").alias("ti"), rec.alias("rec")).alias("trec"),
        )
        .groupBy("conv_id", "_batch", "scope_name")
        .agg(
            F.concat(
                F.lit('{"scope":{"name":"'), _json_esc(F.col("scope_name")),
                F.lit('"},"logRecords":['),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list("trec")), lambda e: e["rec"]
                    ),
                    ",",
                ),
                F.lit("]}"),
            ).alias("scope_json")
        )
    )
    return (
        scopes.select(
            "conv_id", "_batch",
            F.struct(
                F.col("scope_name").alias("sn"), F.col("scope_json").alias("sj")
            ).alias("sjs"),
        )
        .groupBy("conv_id", "_batch")
        .agg(
            F.concat(
                F.lit('{"resourceLogs":[{"resource":{"attributes":'
                      '[{"key":"conv.id","value":{"stringValue":"'),
                _json_esc(F.col("conv_id")),
                F.lit('"}}]},"scopeLogs":['),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list("sjs")), lambda e: e["sj"]
                    ),
                    ",",
                ),
                F.lit("]}]}"),
            ).alias("wire")
        )
    )
