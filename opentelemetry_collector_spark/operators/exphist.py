"""Exponential-bucket (base-2) histogram aggregation — the OTLP
ExponentialHistogram data point computed from raw values (SURVEY §2
metrics breadth; pdata/pmetric/generated_metric.go:96-193 models the
type, opentelemetry-proto metrics/v1 defines the bucket mapping).

Mapping (public OTel spec): with scale ``s`` the bucket base is
``2^(2^-s)`` and a positive value ``v`` lands in the index ``i``
satisfying ``base^i < v <= base^(i+1)`` — i.e.
``i = ceil(log2(v) * 2^s) - 1``. Zero values (|v| <= zero_threshold)
go to the zero bucket; negative values mirror into negative-sign
buckets. Larger scale = finer buckets; scale 0 = plain powers of two.

Engine parity: the index expression is ``ceil(round(log2(v)*2^s, 9))-1``
in BOTH Spark and the DuckDB oracle — the 9-digit round collapses
sub-ULP differences between the engines' ``ln`` implementations so the
bucket assignment is bit-stable cross-engine (values at exact bucket
boundaries are powers of two whose log2 is exact anyway).

Scale shape: one partial-aggregated groupBy on (group, sign, index) —
a map-side-combined shuffle whose cardinality is groups × occupied
buckets (bounded: ~160 buckets span float range at scale 2), then the
summary row set is tiny. Scan-speed at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bucket_index(value, scale: int):
    """Column: exponential bucket index of a positive value (see module
    docstring for the cross-engine rounding contract)."""
    return (
        F.ceil(
            F.round(F.log2(value) * F.lit(float(2 ** scale)), 9)
        ).cast("bigint")
        - F.lit(1)
    )


def exponential_histogram(
    df: DataFrame,
    value_col: str,
    scale: int = 2,
    group_cols: tuple[str, ...] = ("tool",),
) -> DataFrame:
    """Aggregate raw values into an exponential histogram: one row per
    (group, sign, bucket index) with count plus the rounded bucket
    bounds, zero bucket as sign 0 / index NULL. NULL values are ignored
    (match the reference: a data point without the value is absent).

    Columns: group_cols…, sign (int: -1/0/1), idx (bigint, NULL for the
    zero bucket), n (count), lo, hi (double, round-6 bucket bounds,
    NULL for the zero bucket).
    """
    v = F.col(value_col)
    sign = (
        F.when(v > 0, F.lit(1)).when(v < 0, F.lit(-1)).otherwise(F.lit(0))
    )
    idx = (
        F.when(v > 0, bucket_index(v, scale))
        .when(v < 0, bucket_index(-v, scale))
        .otherwise(F.lit(None).cast("bigint"))
    )
    base_log2 = float(2 ** -scale)  # log2(base)
    lo = F.round(F.pow(F.lit(2.0), F.col("idx") * F.lit(base_log2)), 6)
    hi = F.round(
        F.pow(F.lit(2.0), (F.col("idx") + 1) * F.lit(base_log2)), 6
    )
    return (
        df.filter(v.isNotNull())
        .select(*group_cols, sign.alias("sign"), idx.alias("idx"))
        .groupBy(*group_cols, "sign", "idx")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            *group_cols,
            "sign",
            "idx",
            "n",
            F.when(F.col("idx").isNotNull(), lo).alias("lo"),
            F.when(F.col("idx").isNotNull(), hi).alias("hi"),
        )
    )


def downscale(
    hist: DataFrame,
    from_scale: int,
    to_scale: int,
) -> DataFrame:
    """Downscale a per-tool exponential histogram to a coarser scale — the
    OTLP merge primitive (two histograms at different scales merge by
    downscaling the finer to the coarser, then summing counts).

    Because scale-``s`` boundaries nest inside scale-``s+1`` boundaries,
    the mapping is EXACT integer math: new_index = index >> (from-to)
    (arithmetic shift = floor division, correct for negative indexes).
    A downscaled histogram is bit-identical to one computed directly at
    the coarser scale — the property the `exp_histogram_downscale`
    query oracles cross-engine. One partial-aggregated groupBy over
    (groups × occupied buckets) rows — trivially scan-speed."""
    if from_scale < to_scale:
        raise ValueError(
            f"downscale: from_scale {from_scale} must be >= to_scale "
            f"{to_scale} (upscaling cannot split bucket counts)"
        )
    shift = from_scale - to_scale
    base_log2 = float(2 ** -to_scale)
    idx2 = F.when(
        F.col("idx").isNotNull(), F.shiftright(F.col("idx"), shift)
    )
    lo = F.round(F.pow(F.lit(2.0), F.col("idx") * F.lit(base_log2)), 6)
    hi = F.round(
        F.pow(F.lit(2.0), (F.col("idx") + 1) * F.lit(base_log2)), 6
    )
    return (
        hist.select("tool", "sign", idx2.alias("idx"), "n")
        .groupBy("tool", "sign", "idx")
        .agg(F.sum("n").alias("n"))
        .select(
            "tool",
            "sign",
            "idx",
            "n",
            F.when(F.col("idx").isNotNull(), lo).alias("lo"),
            F.when(F.col("idx").isNotNull(), hi).alias("hi"),
        )
    )


def merge_histograms(
    a: DataFrame,
    b: DataFrame,
    a_scale: int,
    b_scale: int,
) -> tuple[DataFrame, int]:
    """Merge two per-tool exponential histograms (the
    ExponentialHistogram aggregation-temporality merge): downscale the
    finer operand to the coarser scale, union, sum counts per bucket.
    Returns (merged, scale)."""
    scale = min(a_scale, b_scale)
    a2 = downscale(a, a_scale, scale)
    b2 = downscale(b, b_scale, scale)
    merged = (
        a2.unionByName(b2)
        .groupBy("tool", "sign", "idx", "lo", "hi")
        .agg(F.sum("n").alias("n"))
        .select("tool", "sign", "idx", "n", "lo", "hi")
    )
    return merged, scale


def exponential_histogram_sql(
    table_expr: str,
    value_col: str,
    scale: int = 2,
    lead: str = "WITH",
) -> str:
    """The DuckDB oracle twin, per tool — same index arithmetic, same
    rounding, same output columns (shared so the query and oracle can
    never drift). Pass ``lead=','`` to splice into an existing WITH chain
    (``table_expr`` may then reference that chain's CTEs)."""
    mul = float(2 ** scale)
    blog2 = float(2 ** -scale)
    idx_pos = f"CAST(ceil(round(log2({value_col}) * {mul!r}, 9)) AS BIGINT) - 1"
    idx_neg = f"CAST(ceil(round(log2(-({value_col})) * {mul!r}, 9)) AS BIGINT) - 1"
    return f"""
        {lead} ehist_pts AS (
          SELECT tool,
                 CASE WHEN {value_col} > 0 THEN 1
                      WHEN {value_col} < 0 THEN -1 ELSE 0 END AS sign,
                 CASE WHEN {value_col} > 0 THEN {idx_pos}
                      WHEN {value_col} < 0 THEN {idx_neg}
                      ELSE NULL END AS idx
          FROM {table_expr}
          WHERE {value_col} IS NOT NULL
        )
        SELECT tool, sign, idx, count(*) AS n,
               CASE WHEN idx IS NOT NULL
                    THEN round(pow(2.0, idx * {blog2!r}), 6) END AS lo,
               CASE WHEN idx IS NOT NULL
                    THEN round(pow(2.0, (idx + 1) * {blog2!r}), 6) END AS hi
        FROM ehist_pts
        GROUP BY tool, sign, idx
    """


def bucket_bounds(scale: int):
    """(lo, hi) bound Columns for an ``idx`` column at ``scale`` — the
    same round-6 expressions exponential_histogram emits, shared so
    wire decoders can re-derive bounds bit-identically. NULL for the
    zero bucket (idx NULL)."""
    base_log2 = float(2 ** -scale)
    lo = F.round(F.pow(F.lit(2.0), F.col("idx") * F.lit(base_log2)), 6)
    hi = F.round(F.pow(F.lit(2.0), (F.col("idx") + 1) * F.lit(base_log2)), 6)
    return (
        F.when(F.col("idx").isNotNull(), lo),
        F.when(F.col("idx").isNotNull(), hi),
    )


def histogram_exemplars(
    df: DataFrame,
    value_col: str,
    trace_id_col,
    span_id_col,
    ts_ns_col,
    scale: int = 2,
) -> DataFrame:
    """Exponential-histogram buckets WITH exemplars — the reference's
    metrics↔traces link (pdata/pmetric/generated_exemplar.go:56-129:
    an Exemplar carries value, timestamp, trace_id, span_id). Each
    (tool, sign, bucket) keeps its MAX-value observation as the
    exemplar (deterministic: ties broken by the trace/span id struct
    order), so an operator seeing a hot latency bucket can jump
    straight to a representative span.

    One partial-aggregated groupBy (count + max_by ride the same
    shuffle); no window, no second pass. Columns: tool, sign, idx,
    n, lo, hi, exemplar_value, exemplar_trace_id, exemplar_span_id,
    exemplar_ts_unix_nano."""
    v = F.col(value_col)
    sign = (
        F.when(v > 0, F.lit(1)).when(v < 0, F.lit(-1)).otherwise(F.lit(0))
    )
    idx = (
        F.when(v > 0, bucket_index(v, scale))
        .when(v < 0, bucket_index(-v, scale))
        .otherwise(F.lit(None).cast("bigint"))
    )
    ex = F.struct(
        v.alias("v"),
        trace_id_col.alias("tid"),
        span_id_col.alias("sid"),
        ts_ns_col.alias("ts"),
    )
    lo, hi = bucket_bounds(scale)
    return (
        df.filter(v.isNotNull())
        .select("tool", sign.alias("sign"), idx.alias("idx"), ex.alias("ex"))
        .groupBy("tool", "sign", "idx")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max_by(F.col("ex"), F.col("ex")).alias("_ex"),
        )
        .select(
            "tool",
            "sign",
            "idx",
            "n",
            lo.alias("lo"),
            hi.alias("hi"),
            F.col("_ex.v").alias("exemplar_value"),
            F.col("_ex.tid").alias("exemplar_trace_id"),
            F.col("_ex.sid").alias("exemplar_span_id"),
            F.col("_ex.ts").alias("exemplar_ts_unix_nano"),
        )
    )
