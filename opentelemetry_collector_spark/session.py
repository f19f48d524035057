"""SparkSession factory with scale-oriented defaults.

The reference collector tunes throughput with batch size / queue depth /
consumer-count knobs (processor/batchprocessor/factory.go:19-20,
exporter/exporterhelper/internal/queue_sender.go:25-37). The Spark
analogs are shuffle partitioning, AQE, and file sizing, set here once so
every entry point (tests, bench, spark-submit main) shares them: no
write takes a sizing parameter, every sink write reads the session's
``spark.sql.files.maxRecordsPerFile``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for a 100 TB target on a multi-executor cluster but
# safe on local[N]: AQE coalesces the 200-partition default down and
# splits skewed partitions at runtime, so a single static
# shuffle.partitions value does not need hand-tuning per scale factor.
_DEFAULTS = {
    # Determinism: all timestamp arithmetic in UTC so results match the
    # DuckDB oracle byte-for-byte.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime re-plan (coalesce small partitions, split skewed
    # ones, demote/promote join strategies). The reference has no skew
    # story (SURVEY §4); this is our addition. Skew-join splitting is
    # set in get_spark from the engine.aqeSkewJoin feature gate.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Let AQE coalesce the shuffle under a persisted plan too (by
    # default Spark keeps a cached plan at shuffle.partitions). Size by
    # data, like the batch processor's send_batch_size: the flagship's
    # cached routed parent kept all 32 window-shuffle partitions, so
    # every job after the cache ran 32 tasks and each sink table got 32
    # tiny files. Coalesced, an sf0.1 rep (100k turns, 4 vCPU) reads 4
    # partitions: 33 tasks instead of 173, 4 files per sink instead of
    # 32, warm rep median 3.9 s instead of 7.7 s.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Arrow for any pandas interchange (vectorized UDF path only —
    # per-row Python UDFs are banned in this codebase).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Sink files: zstd parquet (reference supports zstd transport
    # compression, config/configcompression/compressiontype.go:23-29).
    "spark.sql.parquet.compression.codec": "zstd",
    # Rows per sink file: the batch processor's send_batch_max_size
    # (processor/batchprocessor/config.go:26-29) bounds a request's
    # size; here it bounds every written file, so downstream readers
    # get uniform splits.
    "spark.sql.files.maxRecordsPerFile": "1000000",
    # Attribute-map upserts: last write wins (pcommon.Map.PutStr
    # overwrite semantics, pdata/pcommon/map.go:77-90).
    "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
    # Local-mode niceties; harmless under a real cluster manager.
    "spark.ui.enabled": "false",
    # Throughput GC: this is a batch engine — no latency SLO on any JVM.
    # Measured on the flagship pipeline at 19M turns: ParallelGC beats
    # the G1 default by ~28% wall at local[32] (5.9s vs 8.2s) and ~6% at
    # local[8]; string-heavy parse allocates hard and G1's pause-target
    # heuristics throttle it. Driver option covers local mode (driver ==
    # executor); executor option covers real clusters.
    "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
    "spark.executor.extraJavaOptions": "-XX:+UseParallelGC",
}


def default_driver_memory() -> str:
    """30% of host RAM, clamped to 1–6 GiB: in local mode the driver
    heap is the whole engine's heap, and the rest of the host must stay
    free for the Python workers and the page cache."""
    mem_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    return f"{max(1024, min(6144, mem_mb * 3 // 10))}m"


def get_spark(
    app_name: str = "otelcol-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract)
    so the same code path runs under spark-submit on a real cluster,
    where ``--master`` wins and this default is ignored.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    builder = builder.config(
        "spark.driver.memory",
        os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
    )
    # the engine.aqeSkewJoin feature gate (beta, default on) governs
    # runtime skew-join splitting; disable via --feature-gates before
    # the session is built (main.py applies flags first)
    from opentelemetry_collector_spark.plans.featuregate import global_registry

    builder = builder.config(
        "spark.sql.adaptive.skewJoin.enabled",
        str(global_registry().is_enabled("engine.aqeSkewJoin")).lower(),
    )
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
