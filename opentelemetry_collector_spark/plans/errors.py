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
  writes. No production path retries a sink commit in-process: the
  throttle-aware exponential backoff helper below is used by tests
  only.
"""

from __future__ import annotations

import time
import uuid
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from opentelemetry_collector_spark.sinks.tables import TableCatalog, fan_out_write

T = TypeVar("T")


class PermanentError(Exception):
    """Do not retry (consumererror.NewPermanent)."""


class RetryableError(Exception):
    """Transient; retry with backoff (consumererror default)."""


class ThrottleError(RetryableError):
    """Transient with a server-mandated delay (gRPC RetryInfo / HTTP
    Retry-After: exporter/otlphttpexporter/otlp.go:242-252). The retry
    sender waits at least this long before the next attempt
    (retry_sender.go:71-149: backoff = max(backoff, throttle delay))."""

    def __init__(self, msg: str, retry_after_s: float):
        super().__init__(msg)
        self.retry_after_s = float(retry_after_s)


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


def with_retry(
    fn: Callable[[], T],
    initial_s: float = 5.0,
    multiplier: float = 1.5,
    max_interval_s: float = 30.0,
    max_elapsed_s: float = 300.0,
    sleep: Callable[[float], None] = time.sleep,
) -> T:
    """Exponential backoff with the reference's defaults (5s → ×1.5 →
    30s cap, 5m budget; config/configretry/backoff.go:17-21;
    retry_sender.go:71-149). Permanent errors propagate immediately.
    A :class:`ThrottleError`'s server-mandated delay overrides a shorter
    backoff interval (retry_sender.go:96-103) — the throttle wait is not
    capped by max_interval_s, matching the reference.
    """
    interval = initial_s
    elapsed = 0.0
    while True:
        try:
            return fn()
        except PermanentError:
            raise
        except Exception as err:
            wait = interval
            if isinstance(err, ThrottleError):
                wait = max(wait, err.retry_after_s)
            if elapsed + wait > max_elapsed_s:
                raise
            sleep(wait)
            elapsed += wait
            interval = min(interval * multiplier, max_interval_s)
