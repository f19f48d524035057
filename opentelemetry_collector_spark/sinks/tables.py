"""Sinks — exporter analogs (SURVEY §2.1 S5/S6/S7).

On a production deployment each sink is an Iceberg table append
(``df.writeTo(name).append()``) whose snapshot commit is atomic, giving
the exactly-once half of the checkpoint protocol. This sandbox has no
Iceberg runtime jars, so :class:`TableCatalog` provides the same
interface over parquet directories with an idempotent, deterministic
**overwrite-by-run** layout: a sink write for (run_id, sink) always
lands in the same directory and is atomic at the directory-replace
level — re-running a failed stage cannot double-append, which is the
property the reference's persistent-queue ack protocol exists to provide
(exporter/exporterhelper/internal/queue/persistent_queue.go:321-428).

Rows per file are bounded by the session's
``spark.sql.files.maxRecordsPerFile`` (session.py), the reference's
send_batch_max_size (processor/batchprocessor/config.go:26-29), so
downstream readers get uniform splits.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema


class TableCatalog:
    """Minimal warehouse over a base directory (Iceberg-shaped API)."""

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir

    def path(self, table: str) -> str:
        return os.path.join(self.base_dir, table)

    def overwrite(self, table: str, df: DataFrame,
                  partition_by: list[str] | None = None) -> None:
        """Idempotent full-replace write (deterministic target → re-runs
        converge instead of duplicating)."""
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(table))

    def overwrite_bucketed(
        self,
        table: str,
        df: DataFrame,
        buckets: int,
        bucket_cols: list[str],
        sort_cols: list[str] | None = None,
    ) -> None:
        """Hash-bucketed table write (``bucketBy`` + ``saveAsTable``):
        two tables bucketed identically on the join key join with NO
        exchange on either side — the co-located fact-fact join that a
        100 TB warehouse needs (a plain join of two 50 TB tables
        shuffles both; bucketed, each task reads matching bucket files
        directly). ``sort_cols`` additionally pre-sorts within buckets
        so the merge join skips its sort. Bucket metadata lives in the
        session catalog (local sandbox); on a real deployment this is
        an Iceberg bucket-partitioned table, same plan shape. Read it
        back through the catalog (``spark.table``): the bucket spec
        rides the catalog entry, so ``spark.read.parquet`` on the same
        path would silently lose the no-shuffle join property."""
        name = table.replace("/", "_").replace("-", "_")
        w = (
            df.write.mode("overwrite")
            .format("parquet")
            .option("path", self.path(table))
        )
        w = w.bucketBy(buckets, *bucket_cols)
        if sort_cols:
            w = w.sortBy(*sort_cols)
        w.saveAsTable(name)

    def overwrite_local(self, table: str, rows: list[tuple], schema: pa.Schema) -> None:
        """Driver-side table write (pyarrow, no Spark job) — for tiny
        tables like an IVF index's centroids, the way Iceberg writes
        manifest metadata alongside data files, and for the empty table
        of a fan-out route with no rows. Atomic via write-then-rename of
        the whole directory."""
        arrays = [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(schema)]
        target = self.path(table)
        tmp = target + "._tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp, exist_ok=True)
        pq.write_table(pa.Table.from_arrays(arrays, schema=schema),
                       os.path.join(tmp, "part-00000.parquet"))
        with open(os.path.join(tmp, "_SUCCESS"), "w"):
            pass
        shutil.rmtree(target, ignore_errors=True)
        os.replace(tmp, target)

    def read(self, table: str) -> DataFrame:
        return self.spark.read.parquet(self.path(table))


def fan_out_write(
    catalog: TableCatalog, staging: str, df: DataFrame, by: list[str],
) -> Callable[[tuple, str], None]:
    """Write ``df`` once, partitioned by ``by``, into ``staging``; return
    ``publish(values, table)``, which moves the partition dir for
    ``values`` (one per column of ``by``) to ``table``. A partition with
    no rows has no dir, so ``publish`` writes an empty table with the
    same schema on the driver (:meth:`TableCatalog.overwrite_local`): a
    route with no rows costs no Spark job. The caller removes
    ``staging``. The batch router (plans/config._fan_out) and each
    streaming micro-batch (streaming/stream.route_sink_writer) write all
    their routes with it."""
    catalog.overwrite(staging, df, partition_by=by)
    schema = to_arrow_schema(df.drop(*by).schema)

    def publish(values: tuple, table: str) -> None:
        src = catalog.path(os.path.join(staging, *(f"{c}={v}" for c, v in zip(by, values))))
        dst = catalog.path(table)
        if not os.path.isdir(src):
            catalog.overwrite_local(table, [], schema)
            return
        shutil.rmtree(dst, ignore_errors=True)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(src, dst)
        open(os.path.join(dst, "_SUCCESS"), "w").close()

    return publish


def debug_format(df: DataFrame, verbosity: str = "normal") -> DataFrame:
    """Debug exporter line rendering (exporter/debugexporter/internal/
    normal/logs.go:24-47): one line per record, ``<body> key=value ...``
    with attributes in insertion order. Our attrs map uses a fixed key
    order, so we render the known keys in that order.
    """
    from pyspark.sql import functions as F

    if verbosity == "basic":
        # basic = just counts (debugexporter/exporter.go:88-95)
        return df.groupBy().agg(F.count(F.lit(1)).alias("resource_logs"))
    body = F.col("text")
    attr_str = F.concat_ws(
        " ",
        F.transform(
            F.map_entries(F.col("attrs")),
            lambda e: F.concat(e["key"], F.lit("="), e["value"]),
        ),
    )
    return df.select(
        F.concat_ws(" ", body, attr_str).alias("line"),
        "conv_id", "turn_idx",
    )
