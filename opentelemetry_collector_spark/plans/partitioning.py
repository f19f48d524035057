"""Partitioning and skew handling (SURVEY §2.4 A5, §4).

The reference shards work by metadata key with one serial state per
shard (batch_processor.go:299-366, multi_batcher.go:22-70) and has no
skew story. Our Spark mapping adds what matters at 100 TB: **salted
per-conversation aggregation**. A hot conversation (10^6 turns) would
pin one task; salting splits it into ``n_salts`` subgroups that
aggregate independently, then merge. Two-phase aggregation: the classic
partial/final split the reference's per-shard accumulation approximates
in miniature.

The plan hygiene checks (no row-at-a-time Python, filters pushed into
the scan, broadcast joins where expected) live with their tests in
tests/test_partitioning.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_group_count(
    df: DataFrame, key: str = "conv_id", n_salts: int = 16
) -> DataFrame:
    """Two-phase skew-proof count per key: partial count per (key, salt)
    then final sum per key. Same result as groupBy(key).count(), but a
    hot key fans across n_salts tasks in phase 1."""
    partial = (
        df.withColumn("__salt", (F.abs(F.hash(F.col(key), F.col("turn_idx"))) % n_salts))
        .groupBy(key, "__salt")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return partial.groupBy(key).agg(F.sum("c").alias("turn_count"))

