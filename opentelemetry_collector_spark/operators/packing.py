"""Corpus assembly for LLM pretraining: document chunking (overlapping
context-window pieces) and sequence packing (the concat-then-split
offset accounting GPT-style pipelines use to fill fixed-length training
sequences).

Beyond the reference's scope (charter addition, like the dedup/textstat
families). Scale design:

* ``chunk_documents`` is a pure bound-once HOF pass + explode — scan
  speed, no shuffle; each output chunk is built from one slice of the
  already-split token array.
* ``pack_sequences`` needs a global running token offset in id order —
  the naive form is one unbounded window = one task holding the whole
  corpus. Instead it runs the classic two-pass distributed prefix sum:
  contiguous id-range shards each compute a LOCAL prefix sum (bounded
  window partitions), shard totals (one tiny row per shard) are
  cumulated driver-side and broadcast back as base offsets. At 100 TB
  the only shuffle is the per-shard window, and every partition is
  bounded by the shard width.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from opentelemetry_collector_spark.operators.textstats import bind_once, words_col


def chunk_documents(
    df: DataFrame,
    id_col: str = "id",
    chunk_tokens: int = 64,
    overlap: int = 8,
) -> DataFrame:
    """Split each document into overlapping token-window chunks:
    chunk i covers words [i*stride, i*stride + chunk_tokens) with
    stride = chunk_tokens − overlap; the final chunk is clipped. Every
    document yields at least one chunk (n_chunks = max(1,
    ceil((n − overlap) / stride)) — exact for the edge cases: a doc of
    exactly chunk_tokens words is one chunk, one word more adds a
    second, short docs are a single short chunk)."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    w = words_col(F.col("text"))

    def body(wb: Column) -> Column:
        n = F.size(wb)
        n_chunks = F.greatest(
            F.ceil((n - F.lit(overlap)) / F.lit(stride)), F.lit(1).cast("bigint")
        )
        return F.transform(
            F.sequence(F.lit(0).cast("bigint"), n_chunks - 1),
            lambda i: F.named_struct(
                F.lit("chunk_idx"),
                i.cast("int"),
                F.lit("chunk_text"),
                F.array_join(
                    F.slice(wb, (i * stride + 1).cast("int"), chunk_tokens), " "
                ),
                F.lit("n_chunk_tokens"),
                F.size(F.slice(wb, (i * stride + 1).cast("int"), chunk_tokens)),
            ),
        )

    chunks = bind_once(w, body)
    return df.select(F.col(id_col), F.explode(chunks).alias("ch")).select(
        id_col,
        F.col("ch.chunk_idx").alias("chunk_idx"),
        F.col("ch.chunk_text").alias("chunk_text"),
        F.col("ch.n_chunk_tokens").alias("n_chunk_tokens"),
    )


# Quantile sketch precision for shard boundaries. NEVER 0: relativeError=0
# makes approxQuantile compute EXACT quantiles, whose Greenwald-Khanna
# summary state grows with distinct ids — an unbounded-memory pass at
# 100 TB. Packing output is invariant to boundary placement (any
# contiguous partition of the id axis yields the same prefix sums), so a
# sketch is free correctness-wise; 1e-3 keeps shards within ~0.1% of
# row-balanced.
QUANTILE_EPS = 1e-3

# Target rows per shard when ``shards`` is not given. Each shard is one
# window partition = one task's working set, so this bounds per-task
# memory; ~4M (id, n_tokens, prefix) rows is well under executor heap.
ROWS_PER_SHARD = 4_000_000

# Upper bound on derived shard count: the per-shard totals are collected
# driver-side (one tiny row each), so keep that collect bounded too.
MAX_SHARDS = 65_536


def derive_shards(n_rows: int) -> int:
    """Shard count scaling with input size: ceil(n / ROWS_PER_SHARD),
    clamped to [1, MAX_SHARDS]. At 10^12 rows this yields 250k→capped
    65k shards of ~15M rows — still bounded window partitions and a
    bounded driver-side totals collect."""
    if n_rows <= 0:
        return 1
    return max(1, min(MAX_SHARDS, -(-n_rows // ROWS_PER_SHARD)))


def pack_sequences(
    df: DataFrame,
    id_col: str = "id",
    budget: int = 512,
    shards: int | None = None,
) -> DataFrame:
    """Concat-then-split packing accounting: documents are laid end to
    end in id order and cut into fixed ``budget``-token training
    sequences. Per document: its global ``start_offset`` in the token
    stream, the ``seq_id`` its first token lands in, and an integer
    ``straddles`` flag when it crosses a sequence boundary (the part a
    masking-aware loader needs).

    The global offset is a distributed prefix sum over contiguous
    id-range shards. Shard boundaries are approximate id quantiles
    (relativeError ``QUANTILE_EPS`` — see that constant for why exact
    quantiles are a scale hazard), so shards are row-count balanced
    even for sparse or clustered id spaces (a fixed value-width shard
    would collapse a dense id cluster into one unbounded window
    partition). The output is invariant to boundary placement — any
    contiguous partition of the id axis yields the same prefix sums —
    so the quantile sketch is a performance choice, never a semantics
    choice. ``shards`` defaults to ``derive_shards(count)`` so the
    per-shard window partition stays bounded as the corpus grows
    instead of holding corpus/32 rows in one task. Each shard computes
    a local running sum in a bounded window; the per-shard totals —
    ``shards`` rows — are cumulated on the driver and joined back as
    base offsets. No global single-task window anywhere; the windowed
    intermediate is persisted (released via dedup.release_cached) so
    the totals pass and the final projection share one computation."""
    from opentelemetry_collector_spark.operators.dedup import _persist

    if shards is None:
        shards = derive_shards(df.count())
    probs = [i / shards for i in range(1, shards)]
    bounds = (
        sorted(set(df.stat.approxQuantile(id_col, probs, QUANTILE_EPS)))
        if probs
        else []
    )
    shard = F.lit(0).cast("bigint")
    for b in bounds:
        shard = shard + (F.col(id_col) > F.lit(b)).cast("bigint")
    local = _persist(
        df.select(
            F.col(id_col),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            shard.alias("_shard"),
        ).withColumn(
            "_local_end",
            F.sum("n_tokens").over(
                Window.partitionBy("_shard")
                .orderBy(id_col)
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    totals = sorted(
        local.groupBy("_shard").agg(F.max("_local_end").alias("t")).collect(),
        key=lambda r: r["_shard"],
    )
    base, acc = {}, 0
    for row in totals:
        base[row["_shard"]] = acc
        acc += row["t"]
    spark = df.sparkSession
    base_df = spark.createDataFrame(
        [(int(k), int(v)) for k, v in base.items()], "_shard bigint, _base bigint"
    )
    start = F.col("_base") + F.col("_local_end") - F.col("n_tokens")
    seq_id = F.floor(start / F.lit(budget))
    return (
        local.join(F.broadcast(base_df), "_shard")
        .select(
            id_col,
            "n_tokens",
            start.alias("start_offset"),
            seq_id.alias("seq_id"),
            (F.floor((start + F.col("n_tokens") - 1) / F.lit(budget)) > seq_id)
            .cast("int")
            .alias("straddles"),
        )
    )
