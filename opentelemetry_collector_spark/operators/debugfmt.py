"""Debug-exporter text rendering (SURVEY §2.1 S5): the normal line and
the detailed block as Column expressions, which the ``debug_exporter``
contract query selects, and the zap sampler over a DataFrame, which the
YAML ``debug`` exporter also runs.

The reference's debug exporter at normal verbosity writes one line per
log record: ``<body.AsString()> <k1=v1> <k2=v2> ...`` with attribute
values rendered through Value.AsString
(exporter/debugexporter/internal/normal/logs.go:24-47, attribute join in
internal/normal/common.go:14-29). That line format is the human-diff
golden format for this engine.

Attribute order follows the parse stage's fixed insertion order
(seq, event_kind, status, latency_ms, bytes, msg, tool) — pcommon.Map is
insertion-ordered (pdata/pcommon/map.go:26), so the fixed build order IS
the reference order. Missing captures are skipped entirely (a missing
key never prints ``k=``). Divergence: when every attribute is missing
the reference emits a trailing space after the body; we emit none.

The line and the block are concat/CASE column work — codegen-friendly,
no shuffle, no Python; the sampler ranks records in one window per
sampling period.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from opentelemetry_collector_spark.functions import render


def _frag(key: str, value: Column) -> Column:
    """``key=value`` or NULL when the capture is missing (concat
    propagates NULL; concat_ws then skips the fragment)."""
    return F.concat(F.lit(key + "="), value)


_SEV_NAMES = {9: "Info", 13: "Warn", 17: "Error"}


def block_expr() -> Column:
    """Detailed-verbosity block as a Column over parsed-stage names (the
    otlptext marshaler's field dump, exporter/debugexporter/internal/
    otlptext/logs.go:35-50 — Timestamp / SeverityText / SeverityNumber
    name(n) / EventName when set / Body: Str(...) / indented attribute
    lines). Timestamps render ISO (engine-native) rather than Go's time
    format; field order and presence rules follow the reference."""
    sev_name = F.lit("Unspecified")
    for n, nm in _SEV_NAMES.items():
        sev_name = F.when(F.col("severity_num") == n, F.lit(nm)).otherwise(sev_name)
    sev_text = (
        F.when(F.col("severity_num") == 17, "ERROR")
        .when(F.col("severity_num") == 13, "WARN")
        .when(F.col("severity_num") == 9, "INFO")
        .otherwise("")
    )

    def attr_line(key: str, value: Column) -> Column:
        return F.concat(F.lit(f"     -> {key}: Str("), value, F.lit(")"))

    block = F.concat_ws(
        "\n",
        F.lit("LogRecord"),
        F.concat(F.lit("Timestamp: "),
                 F.date_format("ts", "yyyy-MM-dd HH:mm:ss")),
        F.concat(F.lit("SeverityText: "), sev_text),
        F.concat(F.lit("SeverityNumber: "), sev_name,
                 F.lit("("), F.col("severity_num").cast("string"), F.lit(")")),
        # EventName printed only when set (logs.go:42-44)
        F.when(
            F.nullif(F.col("event_kind"), F.lit("")).isNotNull(),
            F.concat(F.lit("EventName: "), F.col("event_kind")),
        ),
        F.concat(F.lit("Body: Str("), F.col("text"), F.lit(")")),
        F.lit("Attributes:"),
        attr_line("msg", F.col("msg")),
        attr_line("status", F.col("status_code").cast("string")),
        attr_line("tool", F.col("tool_parsed")),
    )
    return block


def line_expr() -> Column:
    """Normal-verbosity line as a Column over parsed-stage names."""
    return F.concat_ws(
        " ",
        F.col("text"),
        _frag("seq", F.col("seq").cast("string")),
        _frag("event_kind", F.nullif(F.col("event_kind"), F.lit(""))),
        _frag("status", F.col("status_code").cast("string")),
        # doubles render ES6-style: integral values print with no ".0"
        # (pdata/pcommon/value.go:419-434)
        _frag("latency_ms", render.render_double(F.col("latency_ms"))),
        _frag("bytes", F.col("bytes").cast("string")),
        _frag("msg", F.col("msg")),
        _frag("tool", F.col("tool_parsed")),
    )


def sample_per_second(
    df: DataFrame,
    sampling_initial: int = 2,
    sampling_thereafter: int = 1,
    granularity: str = "second",
) -> DataFrame:
    """The debug exporter's zap-sampler semantics in batch form
    (exporter/debugexporter/config.go:29-34, defaults at
    factory.go:29-30: initial=2, thereafter=1 — keep everything after
    the burst unless configured otherwise): per event-time second,
    keep the first ``sampling_initial`` records, then every
    ``sampling_thereafter``-th thereafter. Order within a second is the
    deterministic (conv_id, turn_idx) — a wall-clock arrival order
    replayed deterministically, so the sample is value-oracle-able.

    One sampler covers all records, as one collector instance runs
    one sampler; the oracle mirrors it. ``granularity`` widens the
    sampling window (second/minute/hour) — the reference is per-second;
    coarser windows exist so sparse test corpora actually exercise the
    thereafter path."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(F.date_trunc(granularity, F.col("ts"))).orderBy(
        F.asc("conv_id"), F.asc("turn_idx")
    )
    ranked = df.withColumn("_rn", F.row_number().over(w))
    keep = (F.col("_rn") <= sampling_initial) | (
        (F.col("_rn") - F.lit(sampling_initial)) % F.lit(sampling_thereafter)
        == 0
    )
    return ranked.filter(keep).drop("_rn")
