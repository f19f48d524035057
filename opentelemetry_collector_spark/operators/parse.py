"""Parse stage — the receiver-decode analog (SURVEY §2.2 P4).

The reference's only "parse" is OTLP decode (receiver/otlpreceiver/
encoder.go:45-63); the body is an opaque pcommon.Value. Our payload is
transcript text, so the stage is a grok/regex projection of ``text``
into typed attribute columns plus a raw ``attrs`` bag mirroring
LogRecord.Attributes() (pdata/plog/generated_logrecord.go:101).

Everything here is native column expressions (``regexp_extract`` runs
inside whole-stage codegen, vectorized on the JVM) — zero Python in the
row path, honoring the input_hint's "no per-row Python" constraint. At
100 TB this matters more than anything else in the pipeline: the parse
stage touches every byte once, so it must stay in Tungsten.

Rows matching no rule are *quarantined* via ``parse_ok = false``, never
dropped — the analog of the permanent-error taxonomy keeping rejected
items addressable (consumer/consumererror/permanent.go:16-32). Every
integer capture is a ``try_cast``, so a digit run too large for its type
(a 20-digit ``seq``, an 11-digit ``status``) reads as NULL instead of
failing the task: the turn goes to quarantine when the capture is one
``parse_ok`` reads, and keeps its row with a NULL column otherwise.

The two captures ``parse_ok`` reads (``seq``, ``status_code``) are a
bare ``try_cast`` of the extract; the optional ones keep a ``nullif``
in front. Spark rewrites ``nullif`` into a common-expression Project,
and pushing ``quarantine_split``'s filter through that Project inlines
the extract twice, so the ``nullif`` form scans each ``parse_ok`` regex
twice per row; ``try_cast`` of ``''`` is already NULL. On an optional
capture missing from about half the turns (``bytes``) the ``nullif`` is
the cheaper path, because ``try_cast`` is slow on ``''``: dropping it
there took the full parse projection over 1.98M turns from 2.2 s to
5.4–5.7 s (4 vCPU, local[4]).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from opentelemetry_collector_spark import sqltext


def _extract(pattern: str) -> Column:
    """Group 1 of ``pattern`` in ``text``; '' when it does not match."""
    return F.regexp_extract(F.col("text"), pattern, 1)


def _x(pattern: str) -> Column:
    """An optional capture: a miss ('') → NULL. The ``nullif`` keeps the
    common miss out of the cast that follows (``try_cast`` is slow on
    ''), at the price of a second regex scan if a filter reads it."""
    return F.nullif(_extract(pattern), F.lit(""))


def severity_from_status(status: Column) -> Column:
    """HTTP-ish status → SeverityNumber domain 0–24
    (pdata/plog/severity_number.go:14-38: 9=INFO, 13=WARN, 17=ERROR)."""
    return (
        F.when(status >= 500, F.lit(17))
        .when(status >= 400, F.lit(13))
        .when(status >= 200, F.lit(9))
        .otherwise(F.lit(0))
    )


def parse_stage(df: DataFrame, with_attrs: bool = True) -> DataFrame:
    """transcripts → transcripts_parsed (FIXTURES.md §2).

    Keep in lockstep with the oracle twin sqltext.PARSED_SQL.
    """
    out = df.select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
        # the parse_ok captures: a bare try_cast, one regex scan per row
        _extract(sqltext.RE_SEQ).try_cast("bigint").alias("seq"),
        _extract(sqltext.RE_KIND).alias("event_kind"),
        _extract(sqltext.RE_STATUS).try_cast("int").alias("status_code"),
        # a digit string always casts to double
        _x(sqltext.RE_LATENCY).cast("double").alias("latency_ms"),
        _x(sqltext.RE_BYTES).try_cast("bigint").alias("bytes"),
        _x(sqltext.RE_MSG).alias("msg"),
        _x(sqltext.RE_TOOL).alias("tool_parsed"),
    )
    out = out.withColumns(
        {
            "severity_num": severity_from_status(F.col("status_code")),
            "parse_ok": F.col("seq").isNotNull() & F.col("status_code").isNotNull(),
        }
    )
    if with_attrs:
        # Raw string-typed capture bag, the LogRecord.Attributes() analog.
        # map_filter drops missing captures (miss ≠ empty-string value —
        # the reference's "empty ≠ unset" rule, batchprocessor/config.go:31-40).
        out = out.withColumn(
            "attrs",
            F.map_filter(
                F.map_from_arrays(
                    F.array(
                        F.lit("seq"), F.lit("event_kind"), F.lit("status"),
                        F.lit("latency_ms"), F.lit("bytes"), F.lit("msg"),
                        F.lit("tool"),
                    ),
                    F.array(
                        F.col("seq").cast("string"),
                        F.nullif(F.col("event_kind"), F.lit("")),
                        F.col("status_code").cast("string"),
                        F.col("latency_ms").cast("string"),
                        F.col("bytes").cast("string"),
                        F.col("msg"),
                        F.col("tool_parsed"),
                    ),
                ),
                lambda _, v: v.isNotNull(),
            ),
        )
    return out


def quarantine_split(parsed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good, quarantined) — quarantined rows go to a failure table, the
    row-level analog of NewPermanent error handling (SURVEY §2.5 F7)."""
    return parsed.filter(F.col("parse_ok")), parsed.filter(~F.col("parse_ok"))

