"""Per-partition lineage + byte accounting — the obsconsumer edge
telemetry with its bytes axis (SURVEY §2.4 A6, north-rule "every stage
writes per-partition lineage and row-count metrics to a checkpoint
table").

The reference counts items AND serialized bytes on every pipeline edge
(service/internal/obsconsumer/logs.go:53-70 item counters;
exporter/exporterhelper/internal/sizer/logs_sizer.go:29-49 the
proto-bytes sizer). Two views of the same truth here:

* **Logical lineage** (:func:`logical_lineage`): rows + payload bytes
  per (route, partition). The partition id is a *deterministic,
  engine-independent* function of conv_id (md5-prefix mod N), so the
  DuckDB oracle reproduces the lineage table bit-for-bit; the
  ``lineage`` entry in ``__spark_entry__.oracle_sql()`` is exactly this
  aggregation. ONE
  aggregation pass over the cached routed parent produces lineage for
  every sink at once — no per-sink recount.
* **Physical file lineage** (:func:`file_lineage`): rows + bytes per
  output file, read from the parquet footers after a sink write. Each
  file is one write task's output, so this is per-partition ground
  truth of what landed on disk — and it costs zero extra Spark passes
  (driver-side footer reads; on a real deployment this is the Iceberg
  manifest file-stats list, which Iceberg maintains for free).

Both land in the run's checkpoint acks and are flattened into the
``lineage`` warehouse table (plans/checkpoint.write_lineage_table).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Partition count for the logical lineage grid. At 10^12 turns this is
# the table's partition spec (thousands); 32 keeps test/bench tables
# readable while exercising the same code path.
DEFAULT_LINEAGE_PARTITIONS = 32


def det_partition_id(c: Column) -> Column:
    """Deterministic partition id: first 8 md5 hex chars of the key as an
    integer, mod DEFAULT_LINEAGE_PARTITIONS. Engine-independent (Spark ``conv(hex,16,10)`` ==
    DuckDB ``CAST('0x'||hex AS BIGINT)``; value ≤ 0xFFFFFFFF so plain
    ``%`` is non-negative in both) — the ``lineage`` oracle in
    ``__spark_entry__.oracle_sql()`` writes the same expression."""
    return (
        F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("bigint")
        % F.lit(DEFAULT_LINEAGE_PARTITIONS)
    ).cast("int")


def logical_lineage(df: DataFrame) -> DataFrame:
    """Rows + payload bytes per (``route``, partition of ``conv_id``) in
    one aggregation.

    ``bytes`` is the UTF-8 size of ``text`` (octet_length — DuckDB twin
    is strlen), the LogsSizer analog for a text pipeline. Partial
    (map-side) aggregation applies; output cardinality is |routes| ×
    :data:`DEFAULT_LINEAGE_PARTITIONS` — tiny."""
    return (
        df.groupBy("route", det_partition_id(F.col("conv_id")).alias("part_id"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.octet_length(F.col("text"))).alias("bytes"),
        )
    )


def file_lineage(path: str) -> list[dict]:
    """Rows + bytes per parquet file under ``path`` (recursive), from the
    footers — the write-task-granular physical record of a sink write.
    Driver-side: O(files) footer reads, no Spark job."""
    import pyarrow.parquet as pq

    out: list[dict] = []
    for root, _dirs, files in os.walk(path):
        for fn in sorted(files):
            if not fn.endswith(".parquet"):
                continue
            fp = os.path.join(root, fn)
            out.append(
                {
                    "file": os.path.relpath(fp, path),
                    "rows": pq.ParquetFile(fp).metadata.num_rows,
                    "bytes": os.path.getsize(fp),
                }
            )
    return out
