"""OTLP/JSON metrics envelope — the pmetric JSON wire story
(pdata/pmetric/json.go MarshalMetrics/UnmarshalMetrics analog; the
protobuf-JSON mapping rules the logs/traces envelopes already follow:
int64/uint64 as JSON strings, enums as ints, zero values omitted).

Encodes Gauge and Sum metrics (the number-point types; the
exponential-histogram wire story is the PROTO codec in otlp_proto.py)
as one ExportMetricsServiceRequest document: resource = corpus, one
scope ("transcripts"), each metric's data points one-per-stream. Pure
column concat over mix-table-sized aggregates; from_json inverts it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from opentelemetry_collector_spark.functions.values import (
    json_escape as _json_esc,
)

OTLP_METRICS_SCHEMA = (
    "resourceMetrics array<struct<"
    "resource:struct<attributes:array<struct<"
    "key:string,value:struct<stringValue:string>>>>,"
    "scopeMetrics:array<struct<scope:struct<name:string>,"
    "metrics:array<struct<name:string,unit:string,"
    "gauge:struct<dataPoints:array<struct<"
    "attributes:array<struct<key:string,value:struct<stringValue:string>>>,"
    "timeUnixNano:string,asDouble:double>>>,"
    "sum:struct<dataPoints:array<struct<"
    "attributes:array<struct<key:string,value:struct<stringValue:string>>>,"
    "timeUnixNano:string,asInt:string>>,"
    "aggregationTemporality:int,isMonotonic:boolean>>>>>>>"
)


def _number_dp(stream_col: str, ts_expr, value_json) -> "F.Column":
    return F.concat(
        F.lit('{"attributes":[{"key":"tool","value":{"stringValue":"'),
        _json_esc(F.col(stream_col)),
        F.lit('"}}],"timeUnixNano":"'),
        ts_expr.cast("string"),
        F.lit('"'),
        value_json,
        F.lit("}"),
    )


def _json_double(c: "F.Column") -> "F.Column":
    """A double as a protobuf-JSON value: a plain number, or one of the
    strings "NaN", "Infinity", "-Infinity" for the values JSON numbers
    cannot carry (a bare NaN token would make the whole envelope invalid
    JSON). from_json reads the strings back into a double field."""
    return (
        F.when(F.isnan(c), F.lit('"NaN"'))
        .when(c == float("inf"), F.lit('"Infinity"'))
        .when(c == float("-inf"), F.lit('"-Infinity"'))
        .otherwise(c.cast("string"))
    )


def encode_metrics_json(
    gauge: DataFrame,
    sums: DataFrame,
    gauge_name: str = "latency_last",
    gauge_unit: str = "ms",
    sum_name: str = "bytes_total",
    sum_unit: str = "By",
) -> DataFrame:
    """(gauge: tool/last_value/last_ts_unix_nano, sums:
    tool/total/ts_unix_nano) → ONE envelope document (single-row
    DataFrame, column ``wire``): gauge points carry asDouble (JSON
    number), sum points asInt (JSON string per the uint64/int64
    mapping) with CUMULATIVE temporality and the monotonic flag. The
    inputs are mix-table-sized per-stream aggregates, so the global
    sorted collect is bounded."""
    g_dp = _number_dp(
        "tool",
        F.col("last_ts_unix_nano"),
        F.concat(F.lit(',"asDouble":'), _json_double(F.col("last_value"))),
    )
    s_dp = _number_dp(
        "tool",
        F.col("ts_unix_nano"),
        F.concat(F.lit(',"asInt":"'), F.col("total").cast("string"),
                 F.lit('"')),
    )
    g_arr = gauge.select(
        F.struct(F.col("tool").alias("k"), g_dp.alias("j")).alias("t")
    ).agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list("t")), lambda e: e["j"]),
            ",",
        ).alias("dps")
    )
    s_arr = sums.select(
        F.struct(F.col("tool").alias("k"), s_dp.alias("j")).alias("t")
    ).agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list("t")), lambda e: e["j"]),
            ",",
        ).alias("dps")
    )
    gauge_json = F.concat(
        F.lit('{"name":"' + gauge_name + '","unit":"' + gauge_unit
              + '","gauge":{"dataPoints":['),
        F.col("g_dps"),
        F.lit("]}}"),
    )
    sum_json = F.concat(
        F.lit('{"name":"' + sum_name + '","unit":"' + sum_unit
              + '","sum":{"dataPoints":['),
        F.col("s_dps"),
        F.lit('],"aggregationTemporality":2,"isMonotonic":true}}'),
    )
    joined = (
        g_arr.withColumnRenamed("dps", "g_dps")
        .crossJoin(s_arr.withColumnRenamed("dps", "s_dps"))
    )
    return joined.select(
        F.concat(
            F.lit('{"resourceMetrics":[{"resource":{"attributes":'
                  '[{"key":"corpus","value":{"stringValue":"transcripts"}}]},'
                  '"scopeMetrics":[{"scope":{"name":"transcripts"},'
                  '"metrics":['),
            gauge_json,
            F.lit(","),
            sum_json,
            F.lit("]}]}]}"),
        ).alias("wire")
    )


def decode_metrics_json(df: DataFrame) -> DataFrame:
    """Envelope documents → one row per data point: (metric_name, unit,
    mtype, tool, as_double, as_int, ts_unix_nano, temporality,
    monotonic). Omitted fields decode to NULL/defaults."""
    dec = df.select(
        F.from_json(F.col("wire"), OTLP_METRICS_SCHEMA).alias("d")
    )
    metrics = (
        dec.select(F.explode("d.resourceMetrics").alias("rm"))
        .select(F.explode("rm.scopeMetrics").alias("sm"))
        .select(F.explode("sm.metrics").alias("m"))
    )
    # flatten each type's OWN dp struct shape before the union (gauge
    # points carry asDouble, sum points asInt — unioning the raw
    # structs would type-mismatch)
    gauge_rows = (
        metrics.filter(F.col("m.gauge").isNotNull())
        .select(
            F.col("m.name").alias("metric_name"),
            F.col("m.unit").alias("unit"),
            F.explode("m.gauge.dataPoints").alias("dp"),
        )
        .select(
            "metric_name",
            "unit",
            F.lit("gauge").alias("mtype"),
            F.col("dp.attributes")[0]["value"]["stringValue"].alias("tool"),
            F.col("dp.asDouble").alias("as_double"),
            F.lit(None).cast("bigint").alias("as_int"),
            F.col("dp.timeUnixNano").cast("bigint").alias("ts_unix_nano"),
            F.lit(0).alias("temporality"),
            F.lit(False).alias("monotonic"),
        )
    )
    sum_rows = (
        metrics.filter(F.col("m.sum").isNotNull())
        .select(
            F.col("m.name").alias("metric_name"),
            F.col("m.unit").alias("unit"),
            F.coalesce(F.col("m.sum.aggregationTemporality"), F.lit(0))
            .alias("temporality"),
            F.coalesce(F.col("m.sum.isMonotonic"), F.lit(False))
            .alias("monotonic"),
            F.explode("m.sum.dataPoints").alias("dp"),
        )
        .select(
            "metric_name",
            "unit",
            F.lit("sum").alias("mtype"),
            F.col("dp.attributes")[0]["value"]["stringValue"].alias("tool"),
            F.lit(None).cast("double").alias("as_double"),
            F.col("dp.asInt").cast("bigint").alias("as_int"),
            F.col("dp.timeUnixNano").cast("bigint").alias("ts_unix_nano"),
            "temporality",
            "monotonic",
        )
    )
    return gauge_rows.unionByName(sum_rows)
