"""Error taxonomy — consumererror analog (SURVEY §2.5 F7).

The reference splits failures into permanent (never retry, drop/report:
consumer/consumererror/permanent.go:16-32) and retryable (back off and
retry: configretry/backoff.go:17-21). Our batch mapping:

* permanent  → row-level quarantine (parse_ok=false rows to a failure
  table) or job abort for config errors;
* retryable  → Spark task retries (spark.task.maxFailures) + stage
  re-run from checkpoint: a resumed run redoes only the un-acked sink
  writes. No production path retries a sink commit in-process: the
  throttle-aware exponential backoff helper below is used by tests
  only.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

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


# Default sink-write row contract (the exporter's input validation; a
# violating row is the per-push "rejected_log_records" of OTLP partial
# success, exporter/otlpexporter/otlp.go:143-149). max item size plays
# the batch sender's max-size role.
MAX_SINK_TEXT_BYTES = 1 << 20


def default_sink_constraints(max_text_bytes: int = MAX_SINK_TEXT_BYTES) -> list[tuple[str, Column]]:
    """(reason, passes) pairs checked in order; first failure names the
    rejection reason."""
    return [
        ("null_conv_id", F.col("conv_id").isNotNull()),
        ("negative_turn_idx", F.col("turn_idx") >= 0),
        ("oversized_text", F.octet_length(F.col("text")) <= max_text_bytes),
    ]


def reject_reason(constraints: list[tuple[str, Column]] | None = None) -> Column:
    """The name of the first constraint a row fails, NULL for a valid
    row. A NULL check result counts as a failure. ``None`` checks the
    default sink constraints; ``[]`` checks nothing."""
    if constraints is None:
        constraints = default_sink_constraints()
    reason = F.lit(None).cast("string")
    for name, ok in reversed(constraints):
        reason = F.when(~F.coalesce(ok, F.lit(False)), F.lit(name)).otherwise(reason)
    return reason


def write_with_partial_success(
    catalog,
    table: str,
    df: DataFrame,
    constraints: list[tuple[str, Column]] | None = None,
) -> tuple[int, int]:
    """Sink write with per-write rejected-row accounting (OTLP partial
    success: the push succeeds while reporting rejected_log_records,
    exporter/otlpexporter/otlp.go:143-149 + internal/queue_sender
    partial-success logging). plans/config.run writes every plain
    ``table`` exporter through it.

    Scale shape: the accepted/rejected counts ride the ONE sink write
    via an Observation placed above the validity filter (CollectMetrics
    is a pushdown barrier, so it sees every input row). The rejected
    side is written to ``rejected_<table>`` ONLY when the count is
    non-zero — the clean-data fast path stays a single action with two
    codegen'd predicates, no second pass.

    Returns (accepted_rows, rejected_rows).
    """
    from pyspark.sql import Observation

    flagged = df.withColumn("_reject_reason", reject_reason(constraints))
    obs = Observation(f"partial_{table}")
    observed = flagged.observe(
        obs,
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.col("_reject_reason")).alias("n_rejected"),
    )
    catalog.overwrite(
        table,
        observed.filter(F.col("_reject_reason").isNull()).drop("_reject_reason"),
    )
    n_total, n_rejected = obs.get["n_total"], obs.get["n_rejected"]
    if n_rejected:
        catalog.overwrite(
            f"rejected_{table}",
            flagged.filter(F.col("_reject_reason").isNotNull())
            .withColumnRenamed("_reject_reason", "reject_reason"),
        )
    return n_total - n_rejected, n_rejected


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
