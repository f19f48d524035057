"""Training-mix operators — stratified sampling and mixture-weight
computation (SURVEY charter: the LLM-data-pipeline extras; the
reference's probabilistic sampling analog is
processor/probabilisticsamplerprocessor — hash-seeded deterministic
keep/drop — generalized here to per-stratum rates and data-mix
rebalancing, the operation every pretraining corpus assembly runs).

* **stratified_sample** — deterministic per-stratum hash sampling:
  a row survives iff the first 6 hex digits of md5(key), read as a
  fraction of 16^6, fall below its stratum's rate. No RNG state, no
  seed plumbing: the SAME rows survive on any cluster, any partition
  layout, any engine — the property that makes sampled corpora
  reproducible and the oracle exact. One scan, no shuffle; the rate
  map compiles into a CASE expression (codegen'd, JVM-side).

* **mixture_weights** — per-stratum corpus accounting + the up/down-
  sampling factors needed to hit a target mix: share = stratum size /
  corpus size (by a size column — chars here, tokens in production),
  weight = target_share / actual_share. One partial-aggregated
  groupBy producing a mix-table-sized result; the weights then drive
  stratified_sample rates or per-row repeat counts downstream.

Scale shape: both are scan-speed column math + one bounded aggregation;
nothing is keyed by document, so 100 TB changes nothing but scan time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# 16^6 — the hash-fraction denominator (6 hex digits of md5)
_HASH_DEN = 16 ** 6


def rate_threshold(rate: float) -> str:
    """A keep rate as a 6-hex-digit THRESHOLD STRING: a row survives
    iff the first 6 md5 hex digits compare lexicographically below it.
    Hex-string comparison == numeric comparison for same-length
    strings, so the predicate stays a pure string compare — identical
    semantics in Spark and DuckDB with no hex→int casting (DuckDB's
    from_hex yields BLOB; engines differ on hex casts). rate>=1 maps
    to 'g' (> every hex digit: keep all); rate<=0 to '000000'
    (< nothing: drop all)."""
    if rate >= 1.0:
        return "g"
    if rate <= 0.0:
        return "000000"
    return format(int(rate * _HASH_DEN), "06x")


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    strat_col: str = "lang",
    key_col: str = "doc_id",
) -> DataFrame:
    """Keep each row iff its md5-prefix falls below the stratum's
    threshold; strata absent from ``rates`` are dropped (rate 0, the
    explicit allowlist semantics a curated mix wants)."""
    thr = F.lit(rate_threshold(0.0))
    for s, r in sorted(rates.items()):
        thr = F.when(
            F.col(strat_col) == s, F.lit(rate_threshold(r))
        ).otherwise(thr)
    return df.filter(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 6) < thr
    )


def _sql_str(s: str) -> str:
    """A SQL string literal: single quotes doubled (a stratum named
    ``o'brien`` must not end the literal)."""
    return "'" + s.replace("'", "''") + "'"


def stratified_sample_sql(
    table_expr: str,
    rates: dict[str, float],
    strat_col: str = "lang",
    key_col: str = "doc_id",
    cols: str = "*",
) -> str:
    """DuckDB twin of :func:`stratified_sample` (same md5 prefix, same
    threshold strings — generated from the SAME rate_threshold table
    so the engines cannot drift)."""
    branches = "\n                 ".join(
        f"WHEN {strat_col} = {_sql_str(s)} THEN '{rate_threshold(r)}'"
        for s, r in sorted(rates.items())
    )
    return f"""
            SELECT {cols} FROM {table_expr}
            WHERE substring(md5(CAST({key_col} AS VARCHAR)), 1, 6) <
                  (CASE {branches}
                        ELSE '{rate_threshold(0.0)}' END)
        """


def mixture_weights(
    df: DataFrame,
    targets: dict[str, float],
    strat_col: str = "lang",
    size_col: str = "n_chars",
) -> DataFrame:
    """Per-stratum accounting + rebalancing factors: doc_count,
    size_sum, actual share of the corpus (by ``size_col``), the target
    share (0 for strata outside the target mix), and weight =
    target/actual (round-6 both engines). A weight > 1 means the
    stratum must be up-sampled (repeated) to hit the mix; < 1 feeds a
    stratified_sample rate."""
    target = F.lit(0.0)
    for s, t in sorted(targets.items()):
        target = F.when(F.col(strat_col) == s, F.lit(float(t))).otherwise(
            target
        )
    agg = df.groupBy(strat_col).agg(
        F.count(F.lit(1)).alias("doc_count"),
        F.sum(size_col).cast("bigint").alias("size_sum"),
    )
    # global window over the ALREADY-AGGREGATED frame — mix-table-sized
    # (one row per stratum), so the single-partition window is fine
    total = F.sum("size_sum").over(Window.partitionBy())
    return agg.select(
        strat_col,
        "doc_count",
        "size_sum",
        F.round(F.col("size_sum") / total, 6).alias("share"),
        F.round(target, 6).alias("target_share"),
        F.round(target / (F.col("size_sum") / total), 6).alias("weight"),
    )


def mixture_weights_sql(
    table_expr: str,
    targets: dict[str, float],
    strat_col: str = "lang",
    size_col: str = "n_chars",
) -> str:
    """DuckDB twin of :func:`mixture_weights`."""
    branches = "\n                   ".join(
        f"WHEN {strat_col} = {_sql_str(s)} THEN {float(t)!r}"
        for s, t in sorted(targets.items())
    )
    return f"""
            WITH agg AS (
              SELECT {strat_col},
                     count(*) AS doc_count,
                     CAST(sum({size_col}) AS BIGINT) AS size_sum
              FROM {table_expr}
              GROUP BY {strat_col}
            )
            SELECT {strat_col}, doc_count, size_sum,
                   round(size_sum / sum(size_sum) OVER (), 6) AS share,
                   -- CAST: a bare CASE over decimal literals rounds to
                   -- DECIMAL in DuckDB ('0.50'), not float64 ('0.5')
                   round(CAST(CASE {branches} ELSE 0.0 END AS DOUBLE), 6)
                     AS target_share,
                   round(CAST(CASE {branches} ELSE 0.0 END AS DOUBLE)
                         / (size_sum / sum(size_sum) OVER ()), 6) AS weight
            FROM agg
        """


def resample_to_mix(
    df: DataFrame,
    weights: dict[str, float],
    strat_col: str = "lang",
    key_col: str = "doc_id",
) -> DataFrame:
    """APPLY mixture weights: up/down-sample each stratum to its weight
    by deterministic repetition — every row gets ``floor(w)`` copies
    plus one more iff its hash fraction falls below ``frac(w)`` (so the
    expected copy count is exactly w, and the SAME rows get the extra
    copy on any engine/partition layout). The fractional draw uses md5
    hex chars 7-12 — a DIFFERENT window than stratified_sample's 1-6,
    so sampling and resampling decisions stay independent. Weight 0
    drops the stratum; weights < 1 are pure down-sampling.

    Output: input columns + ``copy`` (1..n per surviving row). One
    scan + explode; no shuffle — the op 100 TB mix assembly runs after
    mixture_weights chooses the factors."""
    base = F.lit(None).cast("int")
    extra_thr = F.lit(None).cast("string")
    for s, w in sorted(weights.items()):
        wf = float(w)
        base = F.when(F.col(strat_col) == s, F.lit(int(wf))).otherwise(base)
        extra_thr = F.when(
            F.col(strat_col) == s, F.lit(rate_threshold(wf - int(wf)))
        ).otherwise(extra_thr)
    frac_hex = F.substring(F.md5(F.col(key_col).cast("string")), 7, 6)
    n = F.coalesce(base, F.lit(0)) + F.when(
        frac_hex < F.coalesce(extra_thr, F.lit("000000")), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        df.withColumn("_n", n)
        .filter(F.col("_n") >= 1)
        .withColumn("copy", F.explode(F.sequence(F.lit(1), F.col("_n"))))
        .drop("_n")
    )


def resample_to_mix_sql(
    table_expr: str,
    weights: dict[str, float],
    strat_col: str = "lang",
    key_col: str = "doc_id",
    cols: str = "*",
) -> str:
    """DuckDB twin of :func:`resample_to_mix` (same integer base +
    hex-threshold fractional copy, lateral generate_series)."""
    base_branches = "\n                 ".join(
        f"WHEN {strat_col} = {_sql_str(s)} THEN {int(float(w))}"
        for s, w in sorted(weights.items())
    )
    thr_branches = "\n                 ".join(
        f"WHEN {strat_col} = {_sql_str(s)} THEN "
        f"'{rate_threshold(float(w) - int(float(w)))}'"
        for s, w in sorted(weights.items())
    )
    return f"""
            WITH sized AS (
              SELECT {cols},
                     (CASE {base_branches} ELSE 0 END)
                     + (CASE WHEN substring(md5(CAST({key_col} AS VARCHAR)),
                                            7, 6)
                             < (CASE {thr_branches} ELSE '000000' END)
                             THEN 1 ELSE 0 END) AS _n
              FROM {table_expr}
            )
            -- unnest(list) instead of a lateral table function: DuckDB's
            -- generate_series table form rejects column parameters; the
            -- list form yields [] when _n < 1, dropping the row like the
            -- Spark filter does
            SELECT * EXCLUDE (_n, copy), CAST(copy AS INT) AS copy
            FROM (
              SELECT *, unnest(generate_series(1, CAST(_n AS BIGINT)))
                     AS copy
              FROM sized
            )
        """
