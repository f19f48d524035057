"""Error taxonomy — consumererror analog (SURVEY §2.5 F7).

The reference splits failures into permanent (never retry, drop/report:
consumer/consumererror/permanent.go:16-32) and retryable (back off and
retry: configretry/backoff.go:17-21). Our batch mapping:

* permanent  → row-level quarantine (parse_ok=false rows to a failure
  table), a rejected row (partial success, applied by the one table
  writer sinks/tables.fan_out_write; :func:`write_with_partial_success`
  is its one-table form) or job abort for config errors;
* retryable  → Spark task retries (spark.task.maxFailures) + stage
  re-run from checkpoint: a resumed run redoes only the un-acked sink
  writes. Nothing retries a sink commit in-process, so there is no
  retryable error class.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from opentelemetry_collector_spark.sinks.tables import TableCatalog, fan_out_write


class PermanentError(Exception):
    """Do not retry (consumererror.NewPermanent)."""


def write_with_partial_success(
    catalog: TableCatalog,
    table: str,
    df: DataFrame,
    constraints: list[tuple[str, str]] | None = None,
) -> tuple[int, int]:
    """Sink write with per-write rejected-row accounting (OTLP partial
    success: the push succeeds while reporting rejected_log_records,
    exporter/otlpexporter/otlp.go:143-149 + internal/queue_sender
    partial-success logging). plans/config.run writes every plain
    ``table`` exporter through it.

    One route of the table writer sinks/tables.fan_out_write. Returns
    (accepted_rows, rejected_rows)."""
    got = fan_out_write(catalog, f"_staging_{uuid.uuid4().hex}",
                        df.withColumn("_table", F.lit("t")), "_table", {"t": table}, constraints)
    return got["t"]["accepted"], got["t"]["rejected"]
