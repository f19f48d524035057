"""The benchmark's workloads: inputs, one timed rep, and its output check.

Each workload generates its input from the seed in :meth:`prepare`
(untimed), computes the DuckDB oracle for it, and then runs reps. A rep
is the timed call into the program; :meth:`check` compares that rep's
output with the oracle outside the timed region and returns the list of
problems (empty when the output is correct).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from pathlib import Path

import duckdb
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

import loadgen
from opentelemetry_collector_spark import sqltext
from opentelemetry_collector_spark.operators import aggregate as agg_ops
from opentelemetry_collector_spark.operators import enrich as enrich_ops
from opentelemetry_collector_spark.operators import parse as parse_ops
from opentelemetry_collector_spark.operators import route as route_ops
from opentelemetry_collector_spark.sources import (
    derive_transcripts,
    role_lookup_df,
    tool_lookup_df,
)
from opentelemetry_collector_spark.sqltext import SINK_NAMES


@dataclass
class RepOut:
    out_bytes: int
    files: int = 0


def dir_stats(path: Path) -> tuple[int, int]:
    """(bytes, parquet files) of every file under ``path``."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += n.endswith(".parquet")
    return total, files


def _duck(work: Path) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    tmp = work / "duckdb_tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    con.execute(f"SET temp_directory = '{tmp}'")
    con.execute("SET enable_progress_bar = false")
    return con


def noop_write(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def ladder_levels(src: DataFrame, spark: SparkSession) -> list[tuple[str, DataFrame]]:
    """Cumulative layer plans over one input: scan, +parse, +enrich,
    +route, +aggregate. The parse level keeps every capture column."""
    parsed = parse_ops.parse_stage(src)
    good, _ = parse_ops.quarantine_split(parsed)
    enriched = enrich_ops.enrich_stage(good, tool_lookup_df(spark), role_lookup_df(spark))
    routed = route_ops.route_stage(enriched)
    return [
        ("scan", src),
        ("parse", parsed),
        ("enrich", enriched),
        ("route", routed),
        ("aggregate", agg_ops.hourly_sink_accounting(routed)),
    ]


class FlagshipSf:
    """``plans.pipeline.run_pipeline`` as ``main.py`` ships it, over the
    transcripts derived from an sf0.1-shaped events table, with real sink
    writes into a fresh warehouse on each rep."""

    name = "flagship_sf0.1"

    def __init__(self, events: int = 100_000):
        self.events = events

    def prepare(self, spark: SparkSession, work: Path, seed: int) -> None:
        from __spark_entry__ import oracle_sql

        self.sf_dir = work / "input" / "sf"
        self.turns = loadgen.write_events(str(self.sf_dir), seed, self.events)
        self.con = con = _duck(work)
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{self.sf_dir}/events.parquet')"
        )
        osql = oracle_sql()
        self.want_counts = dict(con.sql(osql["sink_counts"]).fetchall())
        self.want_quarantined = self.turns - sum(self.want_counts.values())
        con.execute(f"CREATE TABLE want_agg AS {osql['agg_hourly']}")

    def source(self, spark: SparkSession) -> DataFrame:
        return derive_transcripts(spark, str(self.sf_dir))

    def rep(self, spark: SparkSession, rep_dir: Path):
        from opentelemetry_collector_spark.plans.pipeline import run_pipeline

        return run_pipeline(spark, str(self.sf_dir), str(rep_dir))

    def check(self, res, rep_dir: Path) -> tuple[RepOut, list[str]]:
        problems = []
        if res.sink_counts != self.want_counts:
            problems.append(f"sink_counts {res.sink_counts} != oracle {self.want_counts}")
        if res.quarantined != self.want_quarantined:
            problems.append(f"quarantined {res.quarantined} != {self.want_quarantined}")
        con = self.con
        for s in SINK_NAMES:
            (n,) = con.sql(f"SELECT count(*) FROM read_parquet('{rep_dir}/{s}/*.parquet')").fetchone()
            if n != self.want_counts.get(s, 0):
                problems.append(f"{s} holds {n} rows, oracle {self.want_counts.get(s, 0)}")
        got = " UNION ALL ".join(
            f"SELECT '{s}' AS route, window_start, conv_id, tool, turn_count, "
            f"CAST(distinct_roles AS INT) AS distinct_roles, "
            f"CAST(bytes_sum AS BIGINT) AS bytes_sum "
            f"FROM read_parquet('{rep_dir}/agg_{s}/*.parquet')"
            for s in SINK_NAMES
        )
        for a, b in (("want_agg", f"({got})"), (f"({got})", "want_agg")):
            (n,) = con.sql(f"SELECT count(*) FROM (SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b})").fetchone()
            if n:
                problems.append(f"agg_* differs from oracle agg_hourly by {n} rows")
        out_bytes, files = dir_stats(rep_dir)
        return RepOut(out_bytes, files), problems


def _accounting_digest() -> list:
    """Bigint aggregates over the sink input, read by an Observation: the
    group count and turn sum per route, and the role, byte and out-byte
    sums. It is evaluated row by row inside the timed rep, over about a
    million aggregate rows."""
    per_route = []
    for s in SINK_NAMES:
        hit = F.col("route") == s
        per_route += [F.count_if(hit).alias(f"groups:{s}"),
                      F.sum(F.when(hit, F.col("turn_count")).otherwise(0)).alias(f"turns:{s}")]
    return per_route + [
        F.sum("distinct_roles").alias("roles"),
        F.sum("bytes_sum").alias("bytes"),
        # bytes handed to the sink: string bytes plus 8 per fixed-width
        # value (window_start, turn_count, distinct_roles, bytes_sum)
        F.sum(F.octet_length("route") + F.octet_length("conv_id")
              + F.coalesce(F.octet_length("tool"), F.lit(0)) + F.lit(8 * 4)).alias("out_bytes"),
    ]


class AccountingSynth:
    """parse → good side of quarantine_split → enrich → route →
    hourly_sink_accounting over the seeded synthetic table, written to a
    noop sink: no cache, no checkpoint, no table writes."""

    name = "accounting_synth2m"

    def __init__(self, shape: loadgen.TranscriptShape | None = None):
        self.shape = shape or loadgen.TranscriptShape()

    def prepare(self, spark: SparkSession, work: Path, seed: int) -> None:
        self.path = work / "input" / "synth"
        self.turns = loadgen.write_transcripts(str(self.path), seed, self.shape)
        con = _duck(work)
        rows = con.sql(f"""
            WITH transcripts AS (SELECT * FROM read_parquet('{self.path}/*.parquet')),
            parsed AS ({sqltext.PARSED_SQL}),
            g AS (
              SELECT {sqltext.ROUTE_CASE_SQL} AS route, date_trunc('hour', ts),
                     conv_id, tool, count(*) AS n, count(DISTINCT role) AS r,
                     sum(length(text)) AS b
              FROM parsed WHERE parse_ok GROUP BY 1, 2, 3, 4
            )
            SELECT route, count(*), sum(n), sum(r), sum(b) FROM g GROUP BY 1
        """).fetchall()
        con.close()
        self.want = {
            "groups": {s: 0 for s in SINK_NAMES} | {r[0]: r[1] for r in rows},
            "turns": {s: 0 for s in SINK_NAMES} | {r[0]: r[2] for r in rows},
            "roles": sum(r[3] for r in rows),
            "bytes": sum(r[4] for r in rows),
        }

    def source(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(str(self.path))

    def rep(self, spark: SparkSession, rep_dir: Path) -> dict:
        agg = ladder_levels(self.source(spark), spark)[-1][1]
        obs = Observation("accounting")
        noop_write(agg.observe(obs, *_accounting_digest()))
        return obs.get

    def check(self, got: dict, rep_dir: Path) -> tuple[RepOut, list[str]]:
        seen = {k: {s: got[f"{k}:{s}"] for s in SINK_NAMES} for k in ("groups", "turns")}
        seen |= {"roles": got["roles"], "bytes": got["bytes"]}
        problems = [f"{k}: {seen[k]} != oracle {v}" for k, v in self.want.items()
                    if seen[k] != v]
        return RepOut(int(got["out_bytes"])), problems


WORKLOADS = {w.name: w for w in (FlagshipSf, AccountingSynth)}


# --- the OTLP wire codec, run as a probe over the flagship input ------------

def _row_digest(conv: str, turn: str, text: str) -> list:
    """Order-free digest of a (conv_id, turn_idx, text) multiset."""
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(conv, turn, text).cast("decimal(38,0)")).alias("h1"),
        F.sum(F.hash(text, turn, conv).cast("bigint")).alias("h2"),
    ]


def codec_probe(spark: SparkSession, source: DataFrame, tracer) -> tuple[dict, list[str]]:
    """encode_logs_proto over the parsed turns, then decode_logs_proto
    back, each to a noop sink, after an untimed round trip of the first
    2,000 turns that starts the Python workers. encode_s times the encode (its wire is cached on
    the way); decode_s times the decode of the cached wire. The decoded
    rows must be exactly the input (conv_id, turn_idx, text) set."""
    import time

    from opentelemetry_collector_spark.sources import otlp_proto

    parsed = parse_ops.parse_stage(source, with_attrs=False)
    want = parsed.select(*_row_digest("conv_id", "turn_idx", "text")).first().asDict()

    def decode(wire: DataFrame) -> Observation:
        obs = Observation()
        flat = otlp_proto.decode_logs_proto(wire, carry=["conv_id"])
        noop_write(flat.observe(obs, *_row_digest("res_conv", "turn_idx", "body_text")))
        return obs

    decode(otlp_proto.encode_logs_proto(parsed.limit(2_000))).get
    wire = otlp_proto.encode_logs_proto(parsed).persist()
    try:
        obs_e = Observation()
        t0 = time.perf_counter()
        with tracer.span("sources.otlp_proto.encode"):
            noop_write(wire.observe(obs_e, F.count(F.lit(1)).alias("messages"),
                                    F.sum(F.length("wire")).alias("wire_bytes")))
        encode_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        with tracer.span("sources.otlp_proto.decode"):
            got = decode(wire).get
        decode_s = time.perf_counter() - t0
    finally:
        wire.unpersist()
    problems = [f"decode digest {got} != input {want}"] if got != want else []
    e = obs_e.get
    return {
        "encode_s": encode_s,
        "decode_s": decode_s,
        "messages": e["messages"],
        "wire_bytes": e["wire_bytes"],
        "wire_bytes_per_turn": e["wire_bytes"] / want["n"],
        "turns": want["n"],
    }, problems
