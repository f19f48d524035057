"""Filter stage — filterprocessor / filter.Filter semantics (SURVEY §2.2 P1).

The reference's matcher is an OR-combination of a strict set (exact
membership, filter/config.go:36-74 builds a map[any]struct{}) and a
compiled regex list; a config entry may not set both (config.go:59-63).
Spark-first: strict → ``isin`` (codegen'd hash set, pushed down to the
parquet scan), regex → OR of ``rlike``. Both stay JVM-side.

Also deterministic sampling (the probabilistic-sampler analog, specced
in docs/rfcs/processing.md but implemented in contrib): consistent
conversation-level sampling via md5 prefix so ALL turns of a sampled
conversation are kept together — cross-engine reproducible (md5 is
identical in Spark and DuckDB).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class MatchSpec:
    """One column's matcher: strict values OR regex patterns (not both —
    mirrors filter/config.go:59-63 validation)."""

    column: str
    strict: list[str] = field(default_factory=list)
    regexp: list[str] = field(default_factory=list)

    def __post_init__(self) -> None:
        if self.strict and self.regexp:
            raise ValueError(
                f"match spec for {self.column!r}: strict and regexp are "
                "mutually exclusive (filter/config.go:59-63)"
            )
        if not self.strict and not self.regexp:
            raise ValueError(f"match spec for {self.column!r} is empty")

    def predicate(self) -> Column:
        c = F.col(self.column)
        if self.strict:
            return c.isin(self.strict)
        preds = [c.rlike(p) for p in self.regexp]
        out = preds[0]
        for p in preds[1:]:
            out = out | p
        return out


def build_predicate(specs: list[MatchSpec]) -> Column:
    """OR across specs — the Filter.Matches contract (filter/filter.go:6-11):
    a row matches if ANY spec matches."""
    if not specs:
        raise ValueError("at least one match spec required")
    out = specs[0].predicate()
    for s in specs[1:]:
        out = out | s.predicate()
    return out


def filter_stage(df: DataFrame, specs: list[MatchSpec], mode: str = "include") -> DataFrame:
    """include → keep matching rows; exclude → drop matching rows
    (the filterprocessor's include/exclude config poles)."""
    pred = build_predicate(specs)
    if mode == "include":
        return df.filter(pred)
    if mode == "exclude":
        return df.filter(~pred)
    raise ValueError(f"mode must be include|exclude, got {mode!r}")


def sample_conversations(df: DataFrame, keep_hex_lt: str = "29") -> DataFrame:
    """Deterministic ~(int(keep_hex_lt,16)/256) conversation-level sample.

    md5(conv_id) prefix comparison — no RNG, identical result in any
    engine, any partitioning, any cluster size. Default '29' ≈ 16%.
    """
    return df.filter(F.substring(F.md5(F.col("conv_id")), 1, 2) < F.lit(keep_hex_lt))
