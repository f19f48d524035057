"""Profiles signal — the pprofextended dictionary+sample model
(SURVEY §2 signal breadth; pdata/pprofile/generated_profilesdictionary.go:51-83
models the interned tables, generated_sample.go:52-84 the samples,
generated_stack.go:52 stacks, generated_location.go:52-79 locations,
generated_function.go:51-78 functions, dictionary_helpers.go:20-77 the
reference resolution pass).

The reference's 4th signal stores profiles NORMALIZED: every repeated
structure is interned once in a ProfilesDictionary (StringTable →
FunctionTable → LocationTable → StackTable) and samples reference
stacks by index. That is dictionary encoding — the thing a columnar
engine does natively — so the Spark analog builds the same tables
declaratively:

* **frames**: each turn's function name is its tool; a turn's STACK is
  the leaf-first tool path from the conversation root to the turn (the
  flame-graph view of a conversation: what chain of tools got us
  here). One per-conversation running ``collect_list`` window — stacks
  never leave their conversation's partition.
* **interning**: distinct strings/stacks get DENSE DETERMINISTIC
  indices by lexicographic rank (row_number over a sorted distinct —
  the distributed dictionary-encode; the tables are small, the rank
  shuffle is bounded by distinct counts, and both engines derive the
  SAME indices so the contract can value-compare them).
* **samples**: (profile = conversation, stack_index, value = latency
  in µs, timestamp ns) — the Sample row with its dictionary
  references.

Faithfulness is proven by RESOLUTION, like the reference's
resolveProfilesReferences: the `profile_samples` query walks sample →
stack → location → function → string and must reproduce the directly
computed tool path for every turn (identity oracle).

Scale shape: the interning aggregations shuffle distinct values only;
the resolve path is sample ⋈ stack (key = stack id) + two broadcast-
size dictionary joins. At 100 TB the dictionaries stay tiny relative
to samples — exactly why the reference normalizes profiles this way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _frames(parsed: DataFrame) -> DataFrame:
    """One frame per turn: function name = tool (root turns with no
    tool are the 'none' entry frame), leaf-first stack = reversed tool
    path, plus the Sample value/timestamp columns."""
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fname = F.coalesce(F.col("tool_parsed"), F.lit("none"))
    return (
        parsed.select(
            "conv_id",
            "turn_idx",
            fname.alias("fname"),
            (F.unix_timestamp("ts").cast("bigint") * F.lit(1_000_000_000))
            .alias("ts_unix_nano"),
            F.floor(
                F.coalesce(F.col("latency_ms"), F.lit(0.0)) * F.lit(1000.0)
            ).cast("bigint").alias("value_us"),
        )
        .withColumn("path", F.reverse(F.collect_list("fname").over(w)))
        .withColumn("stack_key", F.concat_ws(";", "path"))
    )


def dense_index(df: DataFrame, key_col: str, out_col: str) -> DataFrame:
    """Deterministic dense 0-based lexicographic index over UNIQUE
    keys, computed DISTRIBUTED: range-partition by key (contiguous key
    ranges in partition-id order), local row_number per partition, then
    add per-partition base offsets (one tiny driver-side cumsum over
    partition counts). Equivalent to a global ``row_number() OVER
    (ORDER BY key) - 1`` — which would sort in ONE task — without the
    single-task bottleneck; this is how a 100 TB dictionary-encode
    stays parallel. Both engines derive identical indices (pure
    lexicographic rank). The persisted block is registered with
    dedup.release_cached, like the dedup pair frames: Spark's
    CacheManager holds a persisted plan until it is unpersisted, so
    dropping the returned DataFrame does not free it."""
    from opentelemetry_collector_spark.operators.dedup import _persist

    parts = df.repartitionByRange(F.col(key_col)).withColumn(
        "_pid", F.spark_partition_id()
    )
    w = Window.partitionBy("_pid").orderBy(key_col)
    # PIN one materialization: range boundaries come from a sampling
    # pass, so a lazily recomputed plan could re-draw them and hand the
    # same key a different (pid, rn) in different consumers — persist
    # BEFORE the counts collect so every downstream join reads the
    # indices the offsets were computed from
    local = _persist(parts.withColumn("_rn", F.row_number().over(w)))
    counts = sorted(
        local.groupBy("_pid").agg(F.max("_rn").alias("c")).collect(),
        key=lambda r: r["_pid"],
    )
    offsets, acc = {}, 0
    for r in counts:
        offsets[r["_pid"]] = acc
        acc += r["c"]
    omap = F.create_map(
        *[F.lit(x) for pid_off in offsets.items() for x in pid_off]
    )
    return local.withColumn(
        out_col, (omap[F.col("_pid")] + F.col("_rn") - 1).cast("int")
    ).drop("_pid", "_rn")


def string_table(parsed: DataFrame) -> DataFrame:
    """StringTable: distinct function names with dense lexicographic
    indices (strindex). Deterministic — both engines derive identical
    indices."""
    return dense_index(
        _frames(parsed).select(F.col("fname").alias("s")).distinct(),
        "s", "strindex",
    )


def dictionary_tables(parsed: DataFrame) -> dict[str, DataFrame]:
    """The interned ProfilesDictionary as DataFrames:

    - strings:   (strindex, s)
    - functions: (function_idx, name_strindex)   — one per name
    - locations: (location_idx, function_idx)    — one line per frame
    - stacks:    (stack_idx, location_idxs)      — leaf-first
    - samples:   (conv_id, turn_idx, stack_idx, value_us, ts_unix_nano)

    Function/location indices coincide with strindex (one function per
    name, one location per function — the degenerate but valid mapping
    for tool frames); stack indices are the dense lexicographic rank
    of the stack's canonical key, matching what the oracle derives."""
    frames = _frames(parsed)
    strings = string_table(parsed)
    functions = strings.select(
        F.col("strindex").alias("function_idx"),
        F.col("strindex").alias("name_strindex"),
    )
    locations = functions.select(
        F.col("function_idx").alias("location_idx"), "function_idx"
    )
    stacks = dense_index(
        frames.select("stack_key", F.col("path"))
        .dropDuplicates(["stack_key"]),
        "stack_key", "stack_idx",
    )
    # resolve the path's names to location indices (leaf-first order
    # preserved via posexplode + sorted re-collect)
    stack_locs = (
        stacks.select(
            "stack_idx", "stack_key",
            F.posexplode("path").alias("pos", "fname"),
        )
        .join(strings.withColumnRenamed("s", "fname"), "fname")
        .groupBy("stack_idx", "stack_key")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("pos", F.col("strindex")))
                ),
                lambda e: e["strindex"],
            ).alias("location_idxs")
        )
    )
    samples = frames.join(
        stacks.select("stack_key", "stack_idx"), "stack_key"
    ).select("conv_id", "turn_idx", "stack_idx", "value_us", "ts_unix_nano")
    return {
        "strings": strings,
        "functions": functions,
        "locations": locations,
        "stacks": stack_locs,
        "samples": samples,
    }


def resolve_samples(tables: dict[str, DataFrame]) -> DataFrame:
    """The reference's reference-resolution pass
    (dictionary_helpers.go:20-77) as a plan: walk sample → stack →
    location → function → string and reassemble the leaf-first path
    string per sample. Output: (conv_id, turn_idx, stack_depth,
    leaf_fn, path, value_us, ts_unix_nano) — value-comparable against
    the direct tool-path derivation."""
    resolved_stacks = (
        tables["stacks"]
        .select(
            "stack_idx",
            F.posexplode("location_idxs").alias("pos", "location_idx"),
        )
        .join(tables["locations"], "location_idx")
        .join(tables["functions"], "function_idx")
        .join(
            tables["strings"].select(
                F.col("strindex").alias("name_strindex"),
                F.col("s").alias("fname"),
            ),
            "name_strindex",
        )
        .groupBy("stack_idx")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "fname"))),
                lambda e: e["fname"],
            ).alias("names")
        )
        .select(
            "stack_idx",
            F.concat_ws(";", "names").alias("path"),
            F.element_at("names", 1).alias("leaf_fn"),
            F.size("names").alias("stack_depth"),
        )
    )
    return tables["samples"].join(resolved_stacks, "stack_idx").select(
        "conv_id", "turn_idx", "stack_depth", "leaf_fn", "path",
        "value_us", "ts_unix_nano",
    )


def samples_oracle_sql(parsed_cte: str) -> str:
    """DuckDB twin: the DIRECT leaf-first tool-path per turn — what the
    dictionary round trip must reproduce."""
    return f"""
        {parsed_cte},
        fr AS (
          SELECT conv_id, turn_idx,
                 COALESCE(tool_parsed, 'none') AS fname,
                 CAST(floor(epoch(ts)) AS BIGINT) * 1000000000
                   AS ts_unix_nano,
                 CAST(floor(COALESCE(latency_ms, 0) * 1000.0) AS BIGINT)
                   AS value_us
          FROM parsed
        ),
        pt AS (
          SELECT *,
                 list_reverse(list(fname) OVER (
                   PARTITION BY conv_id ORDER BY turn_idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 )) AS path
          FROM fr
        )
        SELECT conv_id, turn_idx,
               CAST(len(path) AS INT) AS stack_depth,
               path[1] AS leaf_fn,
               array_to_string(path, ';') AS path,
               value_us, ts_unix_nano
        FROM pt
    """


def dictionary_oracle_sql(parsed_cte: str) -> str:
    """DuckDB twin of the interned dictionary flat view: dense
    lexicographic string indices with the coinciding function/location
    rows."""
    return f"""
        {parsed_cte},
        names AS (
          SELECT DISTINCT COALESCE(tool_parsed, 'none') AS s FROM parsed
        ),
        st AS (
          SELECT s, CAST(row_number() OVER (ORDER BY s) - 1 AS INT)
                 AS strindex
          FROM names
        )
        SELECT strindex, s,
               strindex AS function_idx,
               strindex AS name_strindex,
               strindex AS location_idx
        FROM st
    """
