"""Gauge / Sum / Summary metric-point semantics (operators/metrics.py;
reference types at pdata/pmetric/generated_metric.go:104-239, the
DELTA/CUMULATIVE distinction at aggregation_temporality.go:10-20)."""

from pyspark.sql import functions as F

from opentelemetry_collector_spark.operators import metrics


def _pts(spark, rows):
    return spark.createDataFrame(
        rows, "stream string, t int, value bigint"
    )


def test_gauge_last_value_and_null_points(spark):
    """Last-value aggregation: max-(ts,tiebreak) point wins; NULL
    values are absent points and never win even when newest."""
    df = spark.createDataFrame(
        [
            ("a", 1, 0, 10.0),
            ("a", 2, 0, 20.0),
            ("a", 2, 1, 21.0),   # same ts, higher tiebreak -> wins
            ("a", 3, 0, None),   # newest but NULL: absent point
            ("b", 1, 0, 5.0),
        ],
        "stream string, ts int, ord int, value double",
    )
    out = {
        r["stream"]: (r["last_value"], r["point_count"])
        for r in metrics.gauge_last(
            df, "value", ts_col="ts", tiebreak_cols=("ord",),
            stream_cols=("stream",),
        ).collect()
    }
    assert out == {"a": (21.0, 3), "b": (5.0, 1)}


def test_delta_to_cumulative_running_sum_per_stream(spark):
    df = _pts(spark, [("a", 0, 5), ("a", 1, None), ("a", 2, 3),
                      ("b", 0, 7)])
    out = {
        (r["stream"], r["t"]): r["cumulative"]
        for r in metrics.delta_to_cumulative(
            df, "value", order_cols=("t",), stream_cols=("stream",)
        ).collect()
    }
    # NULL delta contributes 0 but keeps its row at the running total
    assert out == {("a", 0): 5, ("a", 1): 5, ("a", 2): 8, ("b", 0): 7}


def test_cumulative_to_delta_reset_rule(spark):
    """OTLP counter-reset rule: a DROP means the producer restarted —
    delta = the new value, never a negative diff; the first point of a
    stream deltas from an implicit 0."""
    df = _pts(spark, [
        ("a", 0, 10),   # first point: delta = 10
        ("a", 1, 25),   # normal: 15
        ("a", 2, 4),    # reset (25 -> 4): delta = 4
        ("a", 3, 9),    # normal after reset: 5
    ])
    out = {
        r["t"]: r["delta"]
        for r in metrics.cumulative_to_delta(
            df, "value", order_cols=("t",), stream_cols=("stream",)
        ).collect()
    }
    assert out == {0: 10, 1: 15, 2: 4, 3: 5}


def test_temporality_round_trip(spark):
    """delta -> cumulative -> delta is the identity on a monotonic
    stream (no resets): the two conversions are inverse."""
    deltas = [("a", i, (i * 37) % 11 + 1) for i in range(50)]
    df = _pts(spark, deltas)
    cum = metrics.delta_to_cumulative(
        df, "value", order_cols=("t",), stream_cols=("stream",)
    )
    back = metrics.cumulative_to_delta(
        cum, "cumulative", order_cols=("t",), stream_cols=("stream",),
        out_col="delta_back",
    )
    assert back.filter(F.col("delta_back") != F.col("value")).count() == 0


def test_summary_points_quantiles(spark):
    """Summary count/sum/quantiles: exact interpolated percentile
    (1..100 -> p50 = 50.5, p90 = 90.1, p99 = 99.01)."""
    df = spark.createDataFrame(
        [("a", float(i)) for i in range(1, 101)], "tool string, v double"
    )
    row = metrics.summary_points(
        df, "v", stream_cols=("tool",), quantiles=(0.5, 0.9, 0.99)
    ).collect()[0]
    assert row["point_count"] == 100
    assert row["value_sum"] == 5050.0
    assert (row["q_500"], row["q_900"], row["q_990"]) == (50.5, 90.1, 99.01)


def test_metrics_json_envelope_wire_shape(spark):
    """The envelope is valid OTLP/JSON: asInt as a string, asDouble a
    number, temporality/monotonic flags on the Sum only."""
    import json

    from opentelemetry_collector_spark.sources import otlp_metrics_json as omj

    gauge = spark.createDataFrame(
        [("search", 12.5, 1000)],
        "tool string, last_value double, last_ts_unix_nano bigint",
    )
    sums = spark.createDataFrame(
        [("search", 42, 2000), ("python", 7, 2100)],
        "tool string, total bigint, ts_unix_nano bigint",
    )
    wire = omj.encode_metrics_json(gauge, sums).collect()[0]["wire"]
    doc = json.loads(wire)
    ms = doc["resourceMetrics"][0]["scopeMetrics"][0]["metrics"]
    g, s = ms[0], ms[1]
    assert g["gauge"]["dataPoints"][0]["asDouble"] == 12.5
    assert isinstance(g["gauge"]["dataPoints"][0]["timeUnixNano"], str)
    assert s["sum"]["aggregationTemporality"] == 2 and s["sum"]["isMonotonic"]
    assert s["sum"]["dataPoints"][0]["asInt"] == "7"  # sorted by tool

    back = omj.decode_metrics_json(
        spark.createDataFrame([(wire,)], "wire string")
    )
    rows = {(r["mtype"], r["tool"]): r for r in back.collect()}
    assert rows[("gauge", "search")]["as_double"] == 12.5
    assert rows[("gauge", "search")]["as_int"] is None
    assert rows[("sum", "python")]["as_int"] == 7
    assert rows[("sum", "python")]["monotonic"] is True
    assert rows[("sum", "python")]["temporality"] == 2


def test_metrics_json_envelope_survives_non_finite_gauge(spark):
    """A NaN or infinite gauge value must not void the envelope: it is
    sent as the protobuf-JSON string form and decodes back, next to the
    finite points."""
    import json
    import math

    from opentelemetry_collector_spark.sources import otlp_metrics_json as omj

    gauge = spark.createDataFrame(
        [("browser", float("nan"), 1000), ("python", float("inf"), 1100),
         ("search", 12.5, 1200), ("editor", -3.0, 1300)],
        "tool string, last_value double, last_ts_unix_nano bigint",
    )
    sums = spark.createDataFrame(
        [("search", 42, 2000)], "tool string, total bigint, ts_unix_nano bigint"
    )
    wire = omj.encode_metrics_json(gauge, sums).collect()[0]["wire"]
    dps = json.loads(wire)["resourceMetrics"][0]["scopeMetrics"][0]["metrics"][0][
        "gauge"]["dataPoints"]
    assert [dp["asDouble"] for dp in dps] == ["NaN", -3.0, "Infinity", 12.5]

    back = omj.decode_metrics_json(spark.createDataFrame([(wire,)], "wire string"))
    got = {r["tool"]: r["as_double"] for r in back.collect() if r["mtype"] == "gauge"}
    assert math.isnan(got.pop("browser"))
    assert got == {"python": math.inf, "search": 12.5, "editor": -3.0}
