"""Gauge / Sum / Summary metric-point semantics — the three OTLP metric
data-point types the repo's histogram work did not yet cover (SURVEY §2
metrics breadth; pdata/pmetric/generated_metric.go:104-239 models the
types, pdata/pmetric/aggregation_temporality.go:10-20 the DELTA vs
CUMULATIVE distinction, generated_summarydatapointvalueatquantile.go:50
the Summary quantile values).

Semantics implemented (all public OTel data-model rules):

* **Gauge** — last-value aggregation: a gauge stream's current value is
  the data point with the greatest timestamp (ties broken by the
  deterministic stream order column). ``max_by`` keeps it one
  partial-aggregated shuffle — no window, no sort of the full stream.

* **Sum, delta → cumulative** — a running sum over each stream in point
  order (the reference's cumulative start_time semantics: value since a
  fixed start). Windowed ``sum`` partitioned by the stream identity;
  per-stream state never leaves its partition.

* **Sum, cumulative → delta** — per-point ``lag`` difference, with the
  OTLP counter-reset rule: when a cumulative value DROPS below its
  predecessor the producer restarted, and the delta is the new value
  itself (not a negative diff). First point of a stream: delta = value
  (implicit zero start). This is the conversion real collector
  pipelines (cumulativetodelta processor) apply.

* **Summary** — count / sum / quantile values per stream
  (SummaryDataPoint): exact interpolated quantiles via ``percentile``
  (Spark) / ``quantile_cont`` (DuckDB) — both exact linear
  interpolation, rounded to 6dp for cross-engine bit-stability.

Scale shape: gauge and summary are single partial-aggregated groupBys
(map-side combine; summary's exact percentile holds per-group values —
fine for bounded streams-per-group cardinality, swap in
``approx_percentile`` at unbounded cardinality). The temporality
conversions are windows partitioned by stream identity: each stream's
points sort within one partition, streams spread across the cluster —
the natural 100 TB layout since metric identity is the shard key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def gauge_last(
    df: DataFrame,
    value_col: str,
    ts_col: str = "ts",
    tiebreak_cols: tuple[str, ...] = (),
    stream_cols: tuple[str, ...] = ("tool",),
) -> DataFrame:
    """Last-value gauge per stream (generated_metric.go:104-133 Gauge):
    the point with the max (ts, tiebreaks…) wins; NULL values are
    absent points and never win. One max_by aggregation — no window
    sort of the stream (struct comparison is lexicographic, so the
    tiebreak columns make ties at equal ts deterministic)."""
    ord_expr = F.struct(F.col(ts_col), *[F.col(c) for c in tiebreak_cols])
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*stream_cols)
        .agg(
            F.max_by(F.col(value_col), ord_expr).alias("last_value"),
            F.max(F.col(ts_col)).alias("last_ts"),
            F.count(F.lit(1)).alias("point_count"),
        )
    )


def delta_to_cumulative(
    df: DataFrame,
    value_col: str,
    order_cols: tuple[str, ...],
    stream_cols: tuple[str, ...],
) -> DataFrame:
    """DELTA → CUMULATIVE (aggregation_temporality.go:17-20): a
    ``cumulative`` column, the running sum of deltas in point order per
    stream — the value "since a fixed start time". NULL deltas
    contribute 0 but keep their row (a point with no recorded change
    still reports the running total)."""
    w = (
        Window.partitionBy(*stream_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(
        "cumulative", F.sum(F.coalesce(F.col(value_col), F.lit(0))).over(w)
    )


def cumulative_to_delta(
    df: DataFrame,
    value_col: str,
    order_cols: tuple[str, ...],
    stream_cols: tuple[str, ...],
    out_col: str = "delta",
) -> DataFrame:
    """CUMULATIVE → DELTA with the OTLP counter-reset rule: delta =
    value - lag(value), EXCEPT when the counter dropped (producer
    restart) or the stream just started — then delta = value (the
    cumulative restarts from an implicit 0). Matches the collector's
    cumulativetodelta processor semantics for monotonic sums."""
    w = Window.partitionBy(*stream_cols).orderBy(*order_cols)
    prev = F.lag(F.col(value_col)).over(w)
    return df.withColumn(
        out_col,
        F.when(prev.isNull() | (F.col(value_col) < prev), F.col(value_col))
        .otherwise(F.col(value_col) - prev),
    )


def summary_points(
    df: DataFrame,
    value_col: str,
    stream_cols: tuple[str, ...] = ("tool",),
    quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """SummaryDataPoint per stream (generated_metric.go:221-239 Summary,
    generated_summarydatapointvalueatquantile.go:50-60): count, sum and
    the configured quantile values. Exact interpolated percentile —
    identical definition to DuckDB's quantile_cont — rounded to 6dp.
    One partial-aggregated shuffle; quantile columns named q_<permille>
    (q_500, q_900, q_990) so both engines agree on the schema."""
    v = F.col(value_col)
    aggs = [
        F.count(v).alias("point_count"),
        F.round(F.sum(v), 6).alias("value_sum"),
    ]
    for q in quantiles:
        aggs.append(
            F.round(F.percentile(v, F.lit(q)), 6).alias(_qname(q))
        )
    return df.filter(v.isNotNull()).groupBy(*stream_cols).agg(*aggs)


def _qname(q: float) -> str:
    return f"q_{int(round(q * 1000)):03d}"


def summary_points_sql(
    table_expr: str,
    value_col: str,
    stream_cols: tuple[str, ...] = ("tool",),
    quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> str:
    """DuckDB twin of :func:`summary_points` (quantile_cont = the same
    exact linear interpolation as Spark's percentile)."""
    keys = ", ".join(stream_cols)
    qcols = ",\n                   ".join(
        f"round(quantile_cont({value_col}, {q}), 6) AS {_qname(q)}"
        for q in quantiles
    )
    return f"""
            SELECT {keys},
                   count({value_col}) AS point_count,
                   round(sum({value_col}), 6) AS value_sum,
                   {qcols}
            FROM {table_expr}
            WHERE {value_col} IS NOT NULL
            GROUP BY {keys}
        """
