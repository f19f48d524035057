"""Turn-order stabilization and per-conversation accounting windows
(SURVEY §2.4, §2.5 ordering invariant).

The reference preserves record order inside a request — slices keep
insertion order and splitting preserves it
(processor/batchprocessor/splitlogs.go:19-67). Distributed shuffles
destroy physical order, so the equivalent invariant here is a *logical*
re-derivation: a window over (conv_id) ordered by (turn_idx, and a
deterministic tiebreaker) assigns each turn its stable rank. Per-turn
text equality vs the reference (BASELINE.json input_hint) is checked
under exactly this ordering.

Scale notes: the window partitions by conv_id, so Catalyst reuses one
shuffle for windowing and any downstream grouping on conv_id. No global sort
anywhere except the explicitly-bounded top-k, which aggregates first
(per-conv counts, tiny) and only then ranks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Sliding windows of an hour every half hour; sessions split on a
# 30-minute gap.
SLIDING_SIZE = "1 hour"
SLIDING_SLIDE = "30 minutes"
SESSION_GAP = "30 minutes"


def stabilize_turn_order(df: DataFrame) -> DataFrame:
    """Add ``turn_rank`` (0-based dense position within the conversation)
    and ``is_dense`` (rank == turn_idx ⇒ no gaps/dups — the no-loss /
    no-duplication unique-ID check of
    receiver/receivertest/contract_checker.go:32-80 as a column)."""
    w = Window.partitionBy("conv_id").orderBy(F.col("turn_idx").asc())
    rank = (F.row_number().over(w) - F.lit(1)).cast("int")
    return df.withColumn("turn_rank", rank).withColumn(
        "is_dense", F.col("turn_rank") == F.col("turn_idx")
    )


def conversation_stats(df: DataFrame) -> DataFrame:
    """Per-conversation accounting: the batch processor's per-shard
    item/byte counters (batch_processor.go:299-366) keyed by conv_id."""
    return df.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.countDistinct("tool").cast("int").alias("n_tools"),
        F.countDistinct("role").cast("int").alias("n_roles"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.sum(F.length("text")).alias("bytes_sum"),
    )


def sliding_window_counts(df: DataFrame) -> DataFrame:
    """Sliding-window accounting: each turn lands in size/slide
    overlapping windows (``window()`` in batch mode — same operator the
    streaming variant uses with a watermark). Counts per (window, tool).
    """
    w = F.window("ts", SLIDING_SIZE, SLIDING_SLIDE)
    return (
        df.groupBy(w.alias("w"), "tool")
        .agg(F.count(F.lit(1)).alias("turn_count"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "tool", "turn_count",
        )
    )


def session_window_stats(df: DataFrame) -> DataFrame:
    """Session windows per conversation: turns closer than
    ``SESSION_GAP`` merge into one session (``session_window`` — the
    stateful streaming operator, exact in batch mode). Sessionization is THE conversation
    analytic the hourly grid can't express: a session's extent follows
    the data, not the clock.

    Scale: session_window groups by (session, conv_id) after a shuffle
    on conv_id — the same partitioning the rest of the pipeline uses.
    """
    return (
        df.groupBy(F.session_window("ts", SESSION_GAP).alias("w"), F.col("conv_id"))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.min("turn_idx").alias("first_turn"),
            F.max("turn_idx").alias("last_turn"),
        )
        .select(
            "conv_id",
            F.col("w.start").alias("session_start"),
            "n_turns", "first_turn", "last_turn",
        )
    )


def top_conversations_per_group(
    df: DataFrame, group_col: str = "tool", k: int = 3
) -> DataFrame:
    """Top-k conversations by turn count WITHIN each group — the
    partitioned-window shape (rank runs inside each group's partition,
    so it distributes by construction; contrast the global top-k above,
    which needs TakeOrderedAndProject instead)."""
    counts = df.groupBy(group_col, "conv_id").agg(
        F.count(F.lit(1)).alias("n_turns")
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("n_turns").desc(), F.col("conv_id").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def top_conversations(df: DataFrame, k: int = 10) -> DataFrame:
    """Top-k conversations by turn count, conv_id tiebreak.

    Aggregate first (map-side combine → one row per conversation), then
    take the top k with ``orderBy().limit(k)`` — Spark plans that as a
    distributed ``TakeOrderedAndProject`` (each partition keeps its local
    top-k; the driver merges k·P candidate rows), so no single task ever
    sees the full conversation-level row set even at billions of
    conversations. Rank is then derived on the ≤k-row result by a k×k
    self-join count of strictly-earlier rows (k² ≤ 100 comparisons) —
    no WindowExec anywhere in the plan, so nothing ever asks Spark for
    a global single-partition sort."""
    order = [F.col("n_turns").desc(), F.col("conv_id").asc()]
    counts = df.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n_turns"))
    topk = counts.orderBy(*order).limit(k)
    t, u = topk.alias("t"), topk.alias("u")
    earlier = (F.col("u.n_turns") > F.col("t.n_turns")) | (
        (F.col("u.n_turns") == F.col("t.n_turns"))
        & (F.col("u.conv_id") < F.col("t.conv_id"))
    )
    return (
        t.crossJoin(u)
        .groupBy(F.col("t.conv_id").alias("conv_id"), F.col("t.n_turns").alias("n_turns"))
        .agg((F.sum(earlier.cast("int")) + 1).cast("int").alias("rank"))
    )
