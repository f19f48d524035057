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

Router sinks, aggregates, plain ``table`` exporters and streaming epochs
all write through :func:`fan_out_write`, which applies OTLP partial
success once (a rejected row lands in ``rejected_<table>``). One call
writes, publishes every table and removes its staging dir; the caller
only acks.

Rows per file are bounded by the session's
``spark.sql.files.maxRecordsPerFile`` (session.py), the reference's
send_batch_max_size (processor/batchprocessor/config.go:26-29), so
downstream readers get uniform splits.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
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

    def overwrite_local(self, table: str, rows: list[tuple], schema: pa.Schema) -> None:
        """Driver-side table write (pyarrow, no Spark job) — for tiny
        tables, the way Iceberg writes manifest metadata alongside data
        files, such as the empty table of a fan-out route with no rows. Atomic via write-then-rename of
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


# The sink-write row contract (the exporter's input validation; a
# violating row is the per-push "rejected_log_records" of OTLP partial
# success, exporter/otlpexporter/otlp.go:143-149): (reason, passes)
# pairs, ``passes`` a SQL predicate, checked in order. The 1 MiB text
# cap plays the batch sender's max-size role.
SINK_CONSTRAINTS = [
    ("null_conv_id", "conv_id IS NOT NULL"),
    ("negative_turn_idx", "turn_idx >= 0"),
    ("oversized_text", f"octet_length(text) <= {1 << 20}"),
]


def reject_reason(constraints: list[tuple[str, str]] | None = None) -> Column:
    """The name of the first constraint a row fails, NULL for a valid
    row. A NULL check result counts as a failure. ``None`` checks
    :data:`SINK_CONSTRAINTS`; ``[]`` checks nothing. One SQL CASE: built
    operator by operator it would cost a JVM round trip each."""
    if constraints is None:
        constraints = SINK_CONSTRAINTS
    whens = "".join(f" WHEN NOT coalesce({ok}, false) THEN '{name}'" for name, ok in constraints)
    return F.expr(f"CASE{whens} END" if whens else "CAST(NULL AS STRING)")


def fan_out_write(
    catalog: TableCatalog, staging: str, df: DataFrame, by: str, tables: dict[str, str],
    constraints: list[tuple[str, str]] | None = None,
    sums: dict[str, str] | None = None,
) -> dict[str, dict[str, int]]:
    """The one table writer: writes the rows of ``df`` whose ``by``
    column holds a key of ``tables`` to that key's table, publishes
    every table and removes ``staging``, all in one call.

    Each row is flagged with :func:`reject_reason` of ``constraints``
    (OTLP partial success, exporter/otlpexporter/otlp.go:143-149). ONE
    Observation above the validity filter (a pushdown barrier, so it
    sees every row) counts accepted and rejected rows per value and sums
    each SQL expression of ``sums`` over the accepted ones. The accepted
    rows are written once into ``staging``, partitioned by ``by``; the
    rejected ones, with their ``reject_reason``, take one more write
    only when some value has any. Then each value's rows move to its
    table (a value with none gets an empty table written on the driver,
    no Spark job) and its rejected rows to ``rejected_<table>`` (removed
    when it has none).

    Returns ``{value: {"accepted": n, "rejected": r, <sum>: s, ...}}``.
    The caller acks each table after the return; a table whose ack a
    crash prevents is rewritten by the resume, an idempotent overwrite."""
    key, ok = F.col(by), F.col("_reject_reason").isNull()
    flagged = df.filter(key.isin(list(tables))).withColumn(
        "_reject_reason", reject_reason(constraints))
    # one SQL expression per metric (values are route names), as in
    # reject_reason: ~0.1 s less driver time a write than Column operators
    metrics = [
        F.expr(f"{agg} AS `{name}:{v}`")
        for v in tables
        for name, agg in (
            ("accepted", f"count_if(`{by}` = '{v}' AND _reject_reason IS NULL)"),
            ("rejected", f"count_if(`{by}` = '{v}' AND _reject_reason IS NOT NULL)"),
            *((name, f"coalesce(sum(IF(`{by}` = '{v}' AND _reject_reason IS NULL, {expr}, NULL)), 0)")
              for name, expr in (sums or {}).items()),
        )
    ]
    obs = Observation()
    accepted = flagged.observe(obs, *metrics).filter(ok).drop("_reject_reason")
    try:
        catalog.overwrite(f"{staging}/accepted", accepted, partition_by=[by])
        got = obs.get
        if any(got[f"rejected:{v}"] for v in tables):
            rejected = flagged.filter(~ok).withColumnRenamed("_reject_reason", "reject_reason")
            catalog.overwrite(f"{staging}/rejected", rejected, partition_by=[by])
        schema = to_arrow_schema(accepted.drop(by).schema)
        for value, table in tables.items():
            for kind, dst in (("accepted", table), ("rejected", f"rejected_{table}")):
                path = catalog.path(dst)
                shutil.rmtree(path, ignore_errors=True)
                if got[f"{kind}:{value}"]:
                    os.makedirs(os.path.dirname(path), exist_ok=True)
                    os.rename(catalog.path(f"{staging}/{kind}/{by}={value}"), path)
                    open(os.path.join(path, "_SUCCESS"), "w").close()
            if not got[f"accepted:{value}"]:
                catalog.overwrite_local(table, [], schema)
        return {v: {m: got[f"{m}:{v}"] for m in ("accepted", "rejected", *(sums or {}))}
                for v in tables}
    finally:
        shutil.rmtree(catalog.path(staging), ignore_errors=True)


def debug_format(df: DataFrame, verbosity: str = "normal") -> DataFrame:
    """Debug exporter line rendering (exporter/debugexporter/internal/
    normal/logs.go:24-47): one line per record, ``<body> key=value ...``
    with attributes in insertion order. Our attrs map uses a fixed key
    order, so we render the known keys in that order.
    """
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
