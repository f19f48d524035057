"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

The pipeline input — the ``transcripts`` table of BASELINE.json's
input_hint — is derived deterministically from the driver's ``events``
table by a dialect-neutral SQL fragment shared verbatim between the
Spark job and the DuckDB oracle (opentelemetry_collector_spark/sqltext.py),
so every stage of parse → enrich → filter → route → aggregate gets a true
value-level oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opentelemetry_collector_spark import sqltext
from opentelemetry_collector_spark.functions import protosize
from opentelemetry_collector_spark.operators import aggregate as agg_ops
from opentelemetry_collector_spark.operators import enrich as enrich_ops
from opentelemetry_collector_spark.operators import filters as filter_ops
from opentelemetry_collector_spark.operators import parse as parse_ops
from opentelemetry_collector_spark.operators import route as route_ops
from opentelemetry_collector_spark.operators import exphist as exphist_mod
from opentelemetry_collector_spark.operators import metrics as metrics_mod
from opentelemetry_collector_spark.operators import mixing as mixing_mod
from opentelemetry_collector_spark.operators import profiles as profiles_mod
from opentelemetry_collector_spark.operators import textstats as textstats_mod
from opentelemetry_collector_spark.operators import traces as traces_mod
from opentelemetry_collector_spark.sources import (
    derive_transcripts,
    role_lookup_df,
    tool_lookup_df,
)

SF_SMOKE = "/root/testdata/sf0.001"

_PARSED_COLS = [
    "conv_id", "turn_idx", "role", "text", "tool", "ts", "seq", "event_kind",
    "status_code", "latency_ms", "bytes", "msg", "tool_parsed",
    "severity_num", "parse_ok",
]


def _transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return derive_transcripts(spark, sf_dir)


def _parsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return parse_ops.parse_stage(_transcripts(spark, sf_dir), with_attrs=False)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full parse→enrich→route plan + per-sink hourly accounting."""
    parsed = parse_ops.parse_stage(derive_transcripts(spark, SF_SMOKE))
    good = parsed.filter(F.col("parse_ok"))
    enriched = enrich_ops.enrich_stage(good, tool_lookup_df(spark), role_lookup_df(spark))
    routed = route_ops.route_stage(enriched)
    return agg_ops.hourly_sink_accounting(routed).select(
        "route", "window_start", "conv_id", "tool",
        "turn_count", F.col("distinct_roles").cast("int").alias("distinct_roles"),
        "bytes_sum",
    )


# ---------------------------------------------------------------------------
# queries: Spark-side implementations (DataFrame API)
# ---------------------------------------------------------------------------

def q_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _transcripts(spark, sf_dir)


def q_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _parsed(spark, sf_dir).select(*_PARSED_COLS)


def q_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = enrich_ops.enrich_stage(
        _parsed(spark, sf_dir), tool_lookup_df(spark), role_lookup_df(spark)
    )
    return df.select(
        "conv_id", "turn_idx", "tool", "role", "tool_category", "tool_owner",
        "is_privileged", "role_kind", "billing_class", "enrich_miss",
    )


def q_filter_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = filter_ops.MatchSpec(column="tool", strict=["python", "editor"])
    df = filter_ops.filter_stage(_parsed(spark, sf_dir), [spec], mode="include")
    return df.filter(F.col("parse_ok")).select(
        "conv_id", "turn_idx", "tool", "status_code", "text"
    )


def q_filter_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = filter_ops.MatchSpec(
        column="text", regexp=["status=50[0-9] ", "latency_ms=4[0-9][0-9][0-9] "]
    )
    df = filter_ops.filter_stage(_parsed(spark, sf_dir), [spec], mode="include")
    return df.select("conv_id", "turn_idx", "text", "status_code", "latency_ms")


def q_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = filter_ops.sample_conversations(_transcripts(spark, sf_dir))
    return df.select("conv_id", "turn_idx", "role", "text", "tool", "ts")


def q_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = route_ops.route_stage(_parsed(spark, sf_dir))
    return df.select("conv_id", "turn_idx", "tool", "role", "route")


def q_sink_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    routed = route_ops.route_stage(_parsed(spark, sf_dir).filter(F.col("parse_ok")))
    return routed.groupBy("route").agg(F.count(F.lit(1)).alias("row_count"))


def q_agg_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    routed = route_ops.route_stage(_parsed(spark, sf_dir).filter(F.col("parse_ok")))
    out = agg_ops.hourly_sink_accounting(routed)
    return out.select(
        "route", "window_start", "conv_id", "tool", "turn_count",
        F.col("distinct_roles").cast("int").alias("distinct_roles"),
        "bytes_sum",
    )


def q_severity_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg_ops.severity_histogram(_parsed(spark, sf_dir))


def q_attr_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """attributesprocessor verb chain (P2): keep_keys → set → delete →
    replace_match, then project the bag back out."""
    from opentelemetry_collector_spark.functions import maps
    from opentelemetry_collector_spark.operators import attributes as attr_ops

    df = parse_ops.parse_stage(_transcripts(spark, sf_dir), with_attrs=True)
    df = attr_ops.keep_keys(df, ["seq", "status", "msg", "tool"])
    df = attr_ops.set_attr(df, "env", F.lit("prod"))
    df = attr_ops.delete_attr(df, "seq")
    df = attr_ops.replace_match(df, "msg", "k[0-9]+$", "K")
    a = F.col("attrs")
    return df.select(
        "conv_id", "turn_idx",
        maps.map_get(a, "env").alias("attr_env"),
        maps.map_get(a, "status").alias("attr_status"),
        maps.map_get(a, "msg").alias("attr_msg"),
        maps.map_get(a, "tool").alias("attr_tool"),
        maps.map_len(a).cast("int").alias("n_attrs"),
    )


def q_attrs_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map.AsRaw → sorted-key JSON rendering (P5/P6 golden format)."""
    from opentelemetry_collector_spark.functions import maps
    from opentelemetry_collector_spark.operators import attributes as attr_ops

    df = parse_ops.parse_stage(_transcripts(spark, sf_dir), with_attrs=True)
    df = attr_ops.keep_keys(df, ["status", "msg", "tool"])
    return df.select(
        "conv_id", "turn_idx",
        maps.map_as_raw_json(F.col("attrs")).alias("attrs_json"),
    )


def q_render_asstring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value.AsString renderers (P5): ES6 doubles, bools, base64 bytes."""
    from opentelemetry_collector_spark.functions import render

    df = _parsed(spark, sf_dir)
    return df.select(
        "conv_id", "turn_idx",
        render.render_double(F.col("latency_ms")).alias("lat_str"),
        render.render_double(F.col("latency_ms") / 2).alias("lat_half_str"),
        render.render_bool(F.col("parse_ok")).alias("ok_str"),
        render.render_bytes(F.unhex(F.md5(F.col("text")))).alias("digest_b64"),
    )


def q_parse_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarantine taxonomy (F7): deterministically corrupt every 13th
    turn's text, parse, and classify the failures — permanent-error rows
    stay addressable instead of being dropped."""
    t = _transcripts(spark, sf_dir).withColumn(
        "text",
        F.when(
            F.col("turn_idx") % 13 == 0,
            F.regexp_replace("text", " status=", " st="),
        ).otherwise(F.col("text")),
    )
    parsed = parse_ops.parse_stage(t, with_attrs=False)
    _, bad = parse_ops.quarantine_split(parsed)
    return bad.select(
        "conv_id", "turn_idx", "severity_num",
        F.when(F.col("seq").isNull() & F.col("status_code").isNull(), "no_seq_no_status")
        .when(F.col("seq").isNull(), "no_seq")
        .otherwise("no_status")
        .alias("reason"),
    )


def q_otlp_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OTLP/JSON wire round-trip (S2 JSON variant; pdata/plog/json.go):
    encode each turn as an OTLP-shaped LogRecord JSON (timeUnixNano as a
    string per the protobuf-JSON mapping of uint64), then decode with
    from_json and return the decoded fields. The wire string is built
    with concat identically in Spark and DuckDB so both engines decode
    byte-identical input. String payloads are JSON-escaped — backslash
    first, then quote and the JSON-mandatory control characters
    (newline, CR, tab), literal replaces in the same order in both
    engines. To prove the escaping is actually exercised (the corpus
    text contains none of these), every 7th turn's text gets a
    deterministic suffix bearing a quote, a backslash, a newline, a
    tab AND a bare ESC byte (the \\u00XX control-char path) — mirrored
    in the oracle — before encoding."""
    df = _parsed(spark, sf_dir).withColumn(
        "text",
        F.when(
            F.col("turn_idx") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(' say "hi" via C:\\tmp\nline2\tend\x1b[31m'),
            ),
        ).otherwise(F.col("text")),
    )

    from opentelemetry_collector_spark.functions.values import json_escape as esc

    sev_text = (
        F.when(F.col("severity_num") == 17, "ERROR")
        .when(F.col("severity_num") == 13, "WARN")
        .when(F.col("severity_num") == 9, "INFO")
        .otherwise("")
    )
    wire = F.concat(
        F.lit('{"timeUnixNano":"'),
        (F.unix_timestamp("ts").cast("bigint") * F.lit(1000000000)).cast("string"),
        F.lit('","severityNumber":'), F.col("severity_num").cast("string"),
        F.lit(',"severityText":"'), sev_text,
        F.lit('","body":{"stringValue":"'), esc(F.col("text")),
        F.lit('"},"eventName":"'), esc(F.col("event_kind")), F.lit('"}'),
    )
    schema = (
        "timeUnixNano string, severityNumber int, severityText string, "
        "body struct<stringValue:string>, eventName string"
    )
    dec = F.from_json(wire, schema)
    return df.select(
        "conv_id", "turn_idx",
        dec["timeUnixNano"].cast("bigint").alias("ts_unix_nano"),
        dec["severityNumber"].alias("severity_number"),
        dec["severityText"].alias("severity_text"),
        dec["body"]["stringValue"].alias("body_text"),
        dec["eventName"].alias("event_name"),
        (dec["body"]["stringValue"] == F.col("text")).alias("roundtrip_ok"),
    )


def q_otlp_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full 3-level OTLP/JSON envelope round-trip (S2 completion,
    pdata/plog/json.go:17-44): sources/otlp_json.encode_envelope groups
    turns into ResourceLogs (resource = conversation) → ScopeLogs
    (scope = tool) → LogRecords per (conversation, 512-turn export
    batch) — byte-identical concat wire in both engines — then the
    receiver-side schema decodes and flattens back to one row per
    record with a roundtrip check against the carried conv_id. The
    encoder/decoder pair is the same code the OTLP/JSON file
    receiver (sources/otlp_json.read_otlp_json) ingests with."""
    from opentelemetry_collector_spark.sources import otlp_json as oj

    env = oj.encode_envelope(_parsed(spark, sf_dir))
    flat = oj.flatten_envelope(
        env, res_id_alias="res_conv", carry=["conv_id"]
    )
    return flat.select(
        "conv_id",
        "scope_name",
        "turn_idx",
        "ts_unix_nano",
        "severity_number",
        "severity_text",
        "body_text",
        "event_name",
        (F.col("res_conv") == F.col("conv_id")).alias("roundtrip_ok"),
    )


def q_nested_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested Value model (P5/P6 completion, pcommon/value.go:114-130):
    per-turn attribute bag with str/int/double/bool/slice/map-typed
    values (functions/values.py variant struct), mutated with the P2
    verbs (put env, remove status), rendered as canonical nested JSON
    (AsRaw, sorted keys, value.go:405-412) plus the AsString rendering
    of the nested map value — byte-identical in both engines."""
    from opentelemetry_collector_spark.functions import values as V

    df = _parsed(spark, sf_dir)
    status = F.coalesce(F.col("status_code"), F.lit(0))
    lat = F.coalesce(F.col("latency_ms"), F.lit(0.0)) / F.lit(2.0)
    bag = F.create_map(
        F.lit("msg"), V.vstr(F.coalesce(F.col("msg"), F.lit(""))),
        F.lit("status"), V.vint(status),
        F.lit("latency_s"), V.vdouble(lat),
        F.lit("ok"), V.vbool(status < 400),
        F.lit("tags"), V.vslice([
            V.vstr(F.coalesce(F.col("tool_parsed"), F.lit("none"))),
            V.vstr(F.col("event_kind")),
        ]),
        F.lit("ctx"), V.vmap([
            ("conv", V.vstr(F.col("conv_id"))),
            ("turn", V.vint(F.col("turn_idx"))),
        ]),
    )
    bag = V.vmap_put(bag, "env", V.vstr(F.lit("prod")))
    bag = V.vmap_remove(bag, "status")
    return df.select(
        "conv_id", "turn_idx",
        V.vmap_as_raw_json(bag).alias("attrs_json"),
        V.value_as_string(F.element_at(bag, F.lit("ctx"))).alias("ctx_str"),
    )


def q_proto_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-record OTLP protobuf wire size as scan-speed column math
    (pdata SizeProto law — functions/protosize.py). The bytes axis the
    reference's queue/batch layers account with, without serializing."""
    from opentelemetry_collector_spark.functions import protosize

    df = _parsed(spark, sf_dir)
    sev_text = (
        F.when(F.col("severity_num") == 17, "ERROR")
        .when(F.col("severity_num") == 13, "WARN")
        .when(F.col("severity_num") == 9, "INFO")
        .otherwise("")
    )
    size = protosize.log_record_proto_size(
        F.col("ts"), F.col("severity_num"), sev_text,
        F.col("text"), F.col("event_kind"),
        attrs=[
            ("msg", F.col("msg")),
            ("status", F.col("status_code").cast("string")),
            ("tool", F.col("tool_parsed")),
        ],
    )
    return df.select("conv_id", "turn_idx", size.alias("proto_bytes"))


def q_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition lineage grid (A6 / the north rule's checkpoint-table
    contract): rows + payload bytes per (route, deterministic conv_id
    partition) — exactly the aggregation plans/pipeline.run_pipeline
    commits to the ``lineage`` warehouse table, value-oracled here
    because the partitioner is md5-based (engine-independent)."""
    from opentelemetry_collector_spark.plans import lineage as lineage_ops

    routed = route_ops.route_stage(_parsed(spark, sf_dir).filter(F.col("parse_ok")))
    return lineage_ops.logical_lineage(routed)


def q_rollup_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution rollup (the hypertable continuous-aggregate
    shape): (route, day, hour) plus every coarser grain in ONE grouping-
    sets aggregation — value-oracled against DuckDB ROLLUP."""
    from opentelemetry_collector_spark.operators import aggregate as agg_ops

    routed = route_ops.route_stage(
        _parsed(spark, sf_dir).filter(F.col("parse_ok"))
    )
    return agg_ops.rollup_accounting(routed)


def q_multi_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-route fan-out (R3, connector/logs_router.go:48-69 routing a
    record to a SUBSET of pipelines): every record goes to its tool
    sink; WARN-and-worse records (severity >= 13, i.e. 4xx/5xx) ALSO fan
    to an audit sink — exactly-once per (record, matched sink) via
    explode_routes. Per-sink row/byte accounting value-oracled."""
    df = _parsed(spark, sf_dir).filter(F.col("parse_ok"))
    multi = F.filter(
        F.array(
            route_ops.route_expr(),
            F.when(F.col("severity_num") >= 13, F.lit("sink_audit")),
        ),
        lambda x: x.isNotNull(),
    )
    exploded = route_ops.explode_routes(df, multi)
    return exploded.groupBy("route").agg(
        F.count(F.lit(1)).alias("row_count"),
        F.sum(F.octet_length("text")).alias("bytes_sum"),
    )


def q_streaming_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming in the driver contract — now FULLY
    value-oracled (r5): the emitted window SET is a deterministic
    function of the data (append-mode emission = windows whose end ≤
    the final watermark, max event time − 2h), so the oracle computes
    the same hourly aggregation with the same HAVING cut and the value
    hash must match bit-for-bit (verified stable across repeated
    runs; batch/stream equality additionally pinned by
    tests/test_streaming.py). The transcripts flow through the
    identical parse→enrich→route stages under readStream with
    Trigger.AvailableNow; watermarked tumbling-window accounting lands
    in a parquet sink read back lazily."""
    import atexit
    import shutil
    import tempfile

    from opentelemetry_collector_spark.streaming import stream as ss

    base = tempfile.mkdtemp(prefix="otelcol_stream_q_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    try:
        src = f"{base}/src"
        out = f"{base}/out"
        derive_transcripts(spark, sf_dir).repartition(4).write.parquet(src)
        routed = ss.transform(
            ss.stream_transcripts(spark, src, max_files=2), spark
        )
        acct = ss.windowed_accounting(routed)
        q = (
            acct.writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", f"{base}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # Parquet sink + lazy read-back: the result never transits the
        # driver (the old memory sink forced a .collect() +
        # createDataFrame round-trip — the only collect-of-data in any
        # contract path). Each invocation gets its OWN tempdir, so a
        # late collect of run 1's handle can never alias run 2's rows.
        # Schema passed explicitly: inference-proof even for an empty
        # window set.
        return spark.read.schema(acct.schema).parquet(out)
    finally:
        # drop the per-invocation source copy + stream checkpoint now;
        # the parquet OUTPUT must outlive this call (the returned
        # DataFrame reads it lazily) and is removed by the atexit hook
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(f"{base}/ckpt", ignore_errors=True)


def q_union_sinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-sink union (R5): two routes targeting one physical table
    union rather than double-write (graph.go:213-248 node dedup)."""
    routed = route_ops.route_stage(_parsed(spark, sf_dir).filter(F.col("parse_ok")))
    web = routed.filter(F.col("route") == "sink_search").unionByName(
        routed.filter(F.col("route") == "sink_browser")
    )
    return web.groupBy("tool").agg(
        F.count(F.lit(1)).alias("row_count"),
        F.countDistinct("conv_id").cast("int").alias("n_convs"),
    )


def q_turn_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable turn-order window + no-loss/no-dup density check."""
    from opentelemetry_collector_spark.operators import windows
    df = windows.stabilize_turn_order(_transcripts(spark, sf_dir))
    return df.select("conv_id", "turn_idx", "turn_rank", "is_dense")


def q_conv_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from opentelemetry_collector_spark.operators import windows
    return windows.conversation_stats(_transcripts(spark, sf_dir))


def q_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from opentelemetry_collector_spark.operators import windows
    return windows.sliding_window_counts(_transcripts(spark, sf_dir))


def q_window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    from opentelemetry_collector_spark.operators import windows
    return windows.session_window_stats(_transcripts(spark, sf_dir))


def q_top_convs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from opentelemetry_collector_spark.operators import windows
    return windows.top_conversations(_transcripts(spark, sf_dir), 10)


def q_top_convs_per_tool(spark: SparkSession, sf_dir: str) -> DataFrame:
    from opentelemetry_collector_spark.operators import windows
    return windows.top_conversations_per_group(
        _transcripts(spark, sf_dir), group_col="tool", k=3
    )


def q_metadata_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    # multi-shard batch accounting over (role, tool) metadata keys (A2)
    return agg_ops.grouped_item_counts(_transcripts(spark, sf_dir), ["role", "tool"])


# --- training-data pipeline queries (documents / embeddings) ----------------

def _docs_aug(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dup-injected corpus (twin of sqltext.DOCS_AUG_SQL)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = docs.select(
        F.col("doc_id").alias("id"), F.lower(F.trim("text")).alias("text")
    )
    near = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select(
            (F.col("doc_id") + 1000000).alias("id"),
            F.regexp_replace(F.lower(F.trim("text")), "^[^ ]+", "zz").alias("text"),
        )
    )
    exact = (
        docs.filter(F.col("doc_id") % 7 == 0)
        .select(
            (F.col("doc_id") + 2000000).alias("id"),
            F.lower(F.trim("text")).alias("text"),
        )
    )
    return base.unionByName(near).unionByName(exact)


def _emb_aug(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = emb.select(F.col("vec_id").alias("id"), "label", dbl.alias("v"))
    copies = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("id"), "label", dbl.alias("v")
    )
    return base.unionByName(copies)


# MinHash candidate pairs over _docs_aug, computed ONCE per (session,
# sf_dir) and persisted: dedup_groups, dedup_survivors and
# corpus_curation all consume the identical pair frame, so regenerating
# the MinHash pass (~2.3s at sf0.1) three times in a suite run was pure
# waste (VERDICT r3 item 7). The memo holds a persisted DataFrame;
# keyed by applicationId so a fresh session never sees a stale handle.
_PAIRS_MEMO: dict[tuple[str, str], DataFrame] = {}


def _shared_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from opentelemetry_collector_spark.operators import dedup

    key = (spark.sparkContext.applicationId, sf_dir)
    df = _PAIRS_MEMO.get(key)
    if df is None:
        df = dedup.minhash_lsh_pairs(_docs_aug(spark, sf_dir), id_col="id")
        df = df.persist()
        _PAIRS_MEMO[key] = df
    return df


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from opentelemetry_collector_spark.operators import dedup
    return dedup.exact_dedup(_docs_aug(spark, sf_dir), id_col="id")


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from opentelemetry_collector_spark.operators import dedup
    return dedup.minhash_lsh_pairs(_docs_aug(spark, sf_dir), id_col="id")


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from opentelemetry_collector_spark.operators import dedup
    return dedup.ngram_jaccard_pairs(_docs_aug(spark, sf_dir), id_col="id")


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-training-data pipeline end to end, value-oracled as ONE
    composed plan: augmented corpus → MinHash candidate pairs →
    connected-components keep-one dedup → token/quality/language
    scoring → quality gate → per-language corpus stats. Exactly the
    curation job a 100 TB text corpus runs nightly; every stage is the
    already-oracled operator, composed."""
    from opentelemetry_collector_spark.operators import dedup, textstats

    docs = _docs_aug(spark, sf_dir)
    pairs = _shared_pairs(spark, sf_dir)
    kept = dedup.dedup_survivors(docs, pairs, id_col="id")
    scored = textstats.lang_id(
        textstats.quality_score(textstats.token_count(kept))
    )
    good = scored.filter(F.col("quality") >= 0.5)
    return good.groupBy("lang_guess").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(
            F.sum(F.col("quality").cast("decimal(10,6)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("avg_quality"),
    )


def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: exact connected components over the MinHash
    candidate-pair graph (min-label propagation to fixpoint; grp = min
    id in the component). Value-oracled against a DuckDB recursive CTE
    computing min-reachable over the identical pair set — the keep-one
    half of dedup that a pair list alone cannot answer."""
    from opentelemetry_collector_spark.operators import dedup
    return dedup.connected_components(_shared_pairs(spark, sf_dir))


def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-one dedup end-to-end: the corpus minus every non-
    representative member of a duplicate component (broadcast anti-join
    against the component losers)."""
    from opentelemetry_collector_spark.operators import dedup
    docs = _docs_aug(spark, sf_dir)
    pairs = _shared_pairs(spark, sf_dir)
    return dedup.dedup_survivors(docs, pairs, id_col="id").select("id")


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from opentelemetry_collector_spark.operators import dedup
    return dedup.simhash_pairs(_docs_aug(spark, sf_dir), id_col="id")


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from opentelemetry_collector_spark.operators import dedup
    return dedup.embedding_neardup_pairs(
        _emb_aug(spark, sf_dir), id_col="id", vec_col="v", cell_col="label"
    )


def q_kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-means coarse quantizer (IVF cell function): the
    full iterative centroid math is value-oracled — id-ordered seeds,
    exact decimal sums, rounded tie-broken argmin (similarity.kmeans_cells
    ↔ sqltext.kmeans_cells_cte)."""
    from opentelemetry_collector_spark.operators import similarity
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out, _ = similarity.kmeans_cells(emb, k=8, iters=1)
    return out.select("vec_id", F.col("cell").cast("int").alias("cell"))


def q_kmeans_cells_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k-means SCALE path: centroids trained on a deterministic
    hash sample (the train_cap rows smallest by (md5(id), id)) — the
    per-iteration shuffle is bounded by the cap instead of scaling with
    the corpus — then one full-corpus assignment. Value-oracled with a
    cap below corpus size so the sampled math itself is checked
    cross-engine."""
    from opentelemetry_collector_spark.operators import similarity
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out, _ = similarity.kmeans_cells(emb, k=8, iters=1, train_cap=200)
    return out.select("vec_id", F.col("cell").cast("int").alias("cell"))


def q_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over COMPUTED k-means cells (not the pre-existing label)
    — a real coarse quantizer end-to-end. The assignment df feeds both
    join sides, so it is persisted once (tiny: ids + cells + vectors)
    instead of re-evaluating the argmin fold per side."""
    from opentelemetry_collector_spark.operators import similarity
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out, _ = similarity.kmeans_cells(emb, k=8, iters=1)
    from opentelemetry_collector_spark.operators.dedup import _persist
    out = _persist(out)
    return similarity.ivf_topk(
        out, out.filter(F.col("vec_id") < 10), cell_col="cell"
    )


def q_ann_ivf_probe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF (probes=2): each query searches its two nearest
    k-means cells — the recall/cost knob one level up from the
    single-probe `ann_ivf_kmeans`. Fully value-oracled: probe selection
    uses the same rounded-distance + index tie-break as the cell
    assignment, so DuckDB ranks the identical two cells."""
    from opentelemetry_collector_spark.operators import similarity
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out, cents = similarity.kmeans_cells(emb, k=8, iters=1)
    from opentelemetry_collector_spark.operators.dedup import _persist
    out = _persist(out)
    return similarity.ivf_topk_probed(
        out, out.filter(F.col("vec_id") < 10), cents, probes=2
    )


def q_dedup_embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup with the COMPUTED k-means cell as the coarse
    cell function (the scale-path wiring of dedup ⇄ quantizer): cells
    from similarity.kmeans_cells over the augmented corpus, then the
    cell-local cosine join. Fully value-oracled including the iterative
    centroid math."""
    from opentelemetry_collector_spark.operators import dedup, similarity
    out, _ = similarity.kmeans_cells(
        _emb_aug(spark, sf_dir), k=8, iters=1, id_col="id", vec_col="v"
    )
    out = dedup._persist(out)
    return dedup.embedding_neardup_pairs(
        out, id_col="id", vec_col="v", cell_col="cell"
    )


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from opentelemetry_collector_spark.operators import similarity
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return similarity.brute_force_topk(emb, emb.filter(F.col("vec_id") < 10))


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from opentelemetry_collector_spark.operators import similarity
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return similarity.ivf_topk(emb, emb.filter(F.col("vec_id") < 10))


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN (random-hyperplane cells — the trainless
    alternative to the k-means IVF): deterministic md5-derived
    hyperplanes are injected as literals into BOTH engines, the bucket
    id is pure fold arithmetic, and the rank is the bounded two-level
    form. n_planes=6 → 64 cosine-direction buckets. dim=64 is passed
    explicitly (the testdata embedding width) so no driver probe job
    runs."""
    from opentelemetry_collector_spark.operators import similarity
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return similarity.lsh_topk(
        emb, emb.filter(F.col("vec_id") < 10), n_planes=6, dim=64
    )


def _lsh_planes_64_6() -> list[list[float]]:
    """The hyperplane constants q_ann_lsh uses (dim 64, 6 planes)."""
    from opentelemetry_collector_spark.operators import similarity

    return similarity.lsh_planes(64, 6)


def _lsh_bucket_sql(vec_sql: str, planes: list[list[float]]) -> str:
    """DuckDB twin of similarity.lsh_bucket_expr over the same literal
    hyperplanes."""
    return " + ".join(
        f"CAST(list_dot_product({vec_sql}, [{', '.join(repr(x) for x in plane)}])"
        f" >= 0 AS INT) * {1 << p}"
        for p, plane in enumerate(planes)
    )


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization (similarity.quantize_int8)
    — the 4× storage cut a 100 TB embedding corpus takes before
    indexing: scale = max|x|/127, q = round(x/scale) as tinyint. The
    quantized array is projected as a canonical CSV string (the driver
    canonicalizer cannot hash array columns); scale rounded to 6dp on
    both engines. Scales and every quantized component value-oracled."""
    from opentelemetry_collector_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qz = similarity.quantize_int8(emb)
    return qz.select(
        "vec_id",
        F.round("q_scale", 6).alias("q_scale"),
        F.array_join(F.col("q_vec").cast("array<int>").cast("array<string>"), ",")
        .alias("q_vec_csv"),
    )


def q_ann_quantized_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of cosine search over the INT8-quantized corpus vs the
    float corpus — the measured cost of the 4× storage cut. Cosine is
    invariant to the per-vector scale, so the int8 search runs directly
    on the quantized arrays (no dequantization); recall < 1.0 comes
    only from rounding the components. Fully value-oracled."""
    from opentelemetry_collector_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    from opentelemetry_collector_spark.operators.dedup import _persist
    qz = _persist(similarity.quantize_int8(emb))
    exact = similarity.brute_force_topk(
        emb, emb.filter(F.col("vec_id") < 10)
    ).select("query_id", F.col("nbr_id").alias("e_nbr"))
    quant = similarity.brute_force_topk(
        qz, qz.filter(F.col("vec_id") < 10), vec_col="q_vec",
    ).select("query_id", F.col("nbr_id").alias("q_nbr"))
    hits = exact.join(
        quant,
        (exact["query_id"] == quant["query_id"])
        & (F.col("e_nbr") == F.col("q_nbr")),
    ).groupBy(exact["query_id"].alias("query_id")).agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return (
        exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("k"))
        .join(hits, "query_id", "left")
        .select(
            "query_id", "k",
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            F.round(F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("k"), 4)
            .alias("recall"),
        )
    )


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IVF probe against the exact brute-force top-k,
    per query — the measured value of the IVF recall/cost knob (probe=1
    cell). Pure composition of the two ANN plans + an inner join; the
    whole metric is value-oracled."""
    from opentelemetry_collector_spark.operators import similarity
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(emb, queries).select(
        "query_id", F.col("nbr_id").alias("e_nbr")
    )
    ivf = similarity.ivf_topk(emb, queries).select(
        "query_id", F.col("nbr_id").alias("i_nbr")
    )
    hits = exact.join(
        ivf,
        (exact["query_id"] == ivf["query_id"]) & (F.col("e_nbr") == F.col("i_nbr")),
    ).groupBy(exact["query_id"].alias("query_id")).agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return (
        exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("k"))
        .join(hits, "query_id", "left")
        .select(
            "query_id", "k",
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            F.round(F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("k"), 4)
            .alias("recall"),
        )
    )


def q_latency_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit-bucket histogram over latency_ms per tool — the
    metrics-style histogram aggregation (explicit bounds, closed-open
    buckets) applied to the log-derived latency attribute."""
    bounds = [0, 10, 50, 100, 500, 1000, 5000]
    df = _parsed(spark, sf_dir).filter(F.col("latency_ms").isNotNull())
    bucket = F.lit(f">={bounds[-1]}")
    for lo, hi in zip(reversed(bounds[:-1]), reversed(bounds[1:])):
        bucket = F.when(
            F.col("latency_ms") < hi, F.lit(f"[{lo},{hi})")
        ).otherwise(bucket)
    bucket = F.when(F.col("latency_ms") < bounds[0], F.lit("<0")).otherwise(bucket)
    return (
        df.groupBy(F.col("tool"), bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("latency_ms"), 4).alias("avg_ms"),
        )
    )


def q_text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consolidated per-document text analysis — token counting,
    quality scoring, language ID and all three fingerprints in ONE
    scan-speed pass (the four operators compose via withColumns, so
    one query slot value-oracles all of them; replaces the former
    token_count / quality_score / lang_id / fingerprint entries to fit
    the driver's verification window)."""
    from opentelemetry_collector_spark.operators import textstats
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = textstats.fingerprint(
        textstats.lang_id(textstats.quality_score(textstats.token_count(docs)))
    )
    return d.select(
        "doc_id", "n_tokens", "n_subwords_est", "n_chars_norm",
        "avg_word_len", "punct_ratio", "stopword_ratio", "quality",
        "lang", "lang_guess", "lang_guess_hits",
        "fp_exact", "fp_bag", "fp_roll",
    )


def q_debug_exporter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consolidated debug exporter (S5): the zap-style sampler (first 2
    per hour window then every 3rd) with BOTH rendered verbosities on
    every kept record — normal one-liner and detailed otlptext block —
    so one query slot value-oracles sampling + both marshalers
    (replaces the former debug_normal / debug_detailed / debug_sampled
    entries to fit the driver's verification window)."""
    from opentelemetry_collector_spark.operators import debugfmt

    sampled = debugfmt.sample_per_second(
        _parsed(spark, sf_dir), sampling_initial=2, sampling_thereafter=3,
        granularity="hour",
    )
    return sampled.select(
        "conv_id", "turn_idx", "severity_num",
        debugfmt.line_expr().alias("line"),
        debugfmt.block_expr().alias("block"),
    )


def q_proto_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OTLP protobuf wire round trip (S1/S2 wire story,
    pdata/plog/pb.go:8-25): encode parsed turns into canonical LogsData
    proto bytes (sources/otlp_proto.encode_logs_proto), decode with the
    generic wire walker, flatten back to records. The oracle is the
    identity computation from the raw transcripts, so a value-hash
    match proves decode(encode(x)) == x record-for-record;
    byte-level canonical form is pinned by golden-vector tests."""
    from opentelemetry_collector_spark.sources import otlp_proto as opb

    env = opb.encode_logs_proto(_parsed(spark, sf_dir))
    flat = opb.decode_logs_proto(env, carry=["conv_id"])
    return flat.select(
        "conv_id",
        "scope_name",
        "turn_idx",
        "ts_unix_nano",
        "severity_number",
        "severity_text",
        "body_text",
        "event_name",
        (F.col("res_conv") == F.col("conv_id")).alias("roundtrip_ok"),
    )


def q_exp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential-bucket histogram (base-2, scale 2) of latency_ms per
    tool — the OTLP ExponentialHistogram data-point aggregation
    (pmetric/generated_metric.go:96-193) over the log-derived latency;
    one partial-aggregated shuffle, bucket math shared character-level
    with the DuckDB twin (operators/exphist.py)."""
    from opentelemetry_collector_spark.operators import exphist

    d = _parsed(spark, sf_dir).select(
        F.col("tool_parsed").alias("tool"), "latency_ms"
    )
    return exphist.exponential_histogram(d, "latency_ms", scale=2)


def q_exp_histogram_downscale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential-histogram downscale (the OTLP merge primitive):
    aggregate at scale 3, downscale to scale 1 with exact integer
    index shifts. Scale-1 boundaries nest inside scale-3 boundaries,
    so the result is BIT-IDENTICAL to aggregating directly at scale 1 —
    which is exactly what the oracle computes, proving the downscale
    arithmetic cross-engine."""
    from opentelemetry_collector_spark.operators import exphist

    d = _parsed(spark, sf_dir).select(
        F.col("tool_parsed").alias("tool"), "latency_ms"
    )
    h3 = exphist.exponential_histogram(d, "latency_ms", scale=3)
    return exphist.downscale(h3, from_scale=3, to_scale=1)


def q_metric_gauge_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gauge last-value aggregation per tool stream
    (pmetric/generated_metric.go:104-133 Gauge): the latency point with
    the greatest (ts, conv_id, turn_idx) wins — one max_by partial
    aggregation, no window sort (operators/metrics.py)."""
    from opentelemetry_collector_spark.operators import metrics

    d = (
        _parsed(spark, sf_dir)
        .filter(F.col("tool_parsed").isNotNull())
        .select(
            F.col("tool_parsed").alias("tool"),
            "ts", "conv_id", "turn_idx", "latency_ms",
        )
    )
    return metrics.gauge_last(
        d, "latency_ms", ts_col="ts",
        tiebreak_cols=("conv_id", "turn_idx"), stream_cols=("tool",),
    )


def q_metric_temporality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sum temporality conversion both ways
    (pmetric/aggregation_temporality.go:17-20): per-turn byte deltas →
    CUMULATIVE (running sum per conversation stream), then a modulo-
    20000 wrap plants deterministic counter RESETS and the
    cumulative→delta conversion must apply the OTLP reset rule (on a
    drop, delta = the new value — producer restarted from 0). Windows
    partitioned by the stream key: per-stream state stays in its
    partition at any scale (operators/metrics.py)."""
    from opentelemetry_collector_spark.operators import metrics

    d = _parsed(spark, sf_dir).select("conv_id", "turn_idx", "bytes")
    cum = metrics.delta_to_cumulative(
        d, "bytes", order_cols=("turn_idx",), stream_cols=("conv_id",)
    )
    mod = cum.withColumn("cum_mod", F.col("cumulative") % F.lit(20000))
    out = metrics.cumulative_to_delta(
        mod, "cum_mod", order_cols=("turn_idx",), stream_cols=("conv_id",),
        out_col="delta_out",
    )
    return out.select(
        "conv_id", "turn_idx",
        F.coalesce(F.col("bytes"), F.lit(0)).alias("delta_in"),
        "cumulative", "cum_mod", "delta_out",
    )


def q_metric_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SummaryDataPoint per tool (pmetric/generated_metric.go:221-239,
    generated_summarydatapointvalueatquantile.go:50-60): count, sum and
    exact interpolated p50/p90/p99 of latency — one partial-aggregated
    shuffle; quantile definition shared with the DuckDB twin
    (operators/metrics.py summary_points/summary_points_sql)."""
    from opentelemetry_collector_spark.operators import metrics

    d = (
        _parsed(spark, sf_dir)
        .filter(F.col("tool_parsed").isNotNull())
        .select(F.col("tool_parsed").alias("tool"), "latency_ms")
    )
    return metrics.summary_points(
        d, "latency_ms", stream_cols=("tool",), quantiles=(0.5, 0.9, 0.99)
    )


def q_exp_histogram_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential-histogram MERGE (the aggregation-temporality merge
    primitive, operators/exphist.merge_histograms): split the turns on
    event parity, aggregate each half at a DIFFERENT scale (3 and 2),
    merge (downscale finer → coarser, union, sum buckets). Because the
    halves partition the data and downscaled buckets nest exactly, the
    merged histogram is BIT-IDENTICAL to aggregating everything
    directly at scale 2 — which is what the oracle computes, proving
    the merge arithmetic cross-engine."""
    from opentelemetry_collector_spark.operators import exphist

    d = _parsed(spark, sf_dir).select(
        F.col("tool_parsed").alias("tool"), "latency_ms",
        (F.col("turn_idx") % 2 == 0).alias("_even"),
    )
    h_even = exphist.exponential_histogram(
        d.filter(F.col("_even")), "latency_ms", scale=3
    )
    h_odd = exphist.exponential_histogram(
        d.filter(~F.col("_even")), "latency_ms", scale=2
    )
    merged, scale = exphist.merge_histograms(h_even, h_odd, 3, 2)
    assert scale == 2
    return merged


def q_exp_histogram_exemplars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential-histogram buckets WITH exemplars — the
    metrics↔traces link (pmetric/generated_exemplar.go:56-129): each
    (tool, bucket) keeps its max-latency observation's value +
    trace/span ids + timestamp, so a hot bucket points at a
    representative span. Count and exemplar ride ONE partial-aggregated
    shuffle (operators/exphist.histogram_exemplars)."""
    from opentelemetry_collector_spark.operators import exphist, traces

    d = _parsed(spark, sf_dir)
    return exphist.histogram_exemplars(
        d.select(
            F.col("tool_parsed").alias("tool"),
            "latency_ms",
            F.md5(F.col("conv_id")).alias("_tid"),
            traces.span_id_expr(F.col("conv_id"), F.col("turn_idx"))
            .alias("_sid"),
            (F.unix_timestamp("ts").cast("bigint") * F.lit(1_000_000_000))
            .alias("_tsn"),
        ),
        "latency_ms",
        trace_id_col=F.col("_tid"),
        span_id_col=F.col("_sid"),
        ts_ns_col=F.col("_tsn"),
        scale=2,
    )


def q_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traces signal: one span per turn (trace = conversation, parent =
    previous turn) with deterministic md5 IDs, ptrace-shaped columns
    (trace/v1 Span; operators/traces.py). Pure column math; the Span
    WIRE codec (canonical proto bytes) is golden-vector- and
    roundtrip-tested in tests/test_otlp_proto.py."""
    from opentelemetry_collector_spark.operators import traces

    return traces.derive_spans(_parsed(spark, sf_dir))


def q_span_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span events (ptrace SpanEvent; generated_spanevent.go:14-35):
    tool.call at span start, tool.result at span end, exception for
    error turns — one row per event, flat scalar columns (operators/
    traces.derive_span_events). Column math + explode; no shuffle."""
    from opentelemetry_collector_spark.operators import traces

    return traces.derive_span_events(_parsed(spark, sf_dir))


def q_span_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span links (ptrace SpanLink; generated_spanlink.go:54-86): each
    result turn links to the most recent call turn in its conversation
    — one ignore-nulls running-last window per conversation stream
    (operators/traces.derive_span_links)."""
    from opentelemetry_collector_spark.operators import traces

    return traces.derive_span_links(_parsed(spark, sf_dir))


def q_profile_dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profiles signal, interned dictionary (pprofile
    ProfilesDictionary; generated_profilesdictionary.go:51-83): the
    flat string/function/location view with dense deterministic
    indices, computed by a distributed two-phase dense rank
    (operators/profiles.dense_index) — never a one-task global sort."""
    from opentelemetry_collector_spark.operators import profiles

    t = profiles.dictionary_tables(_parsed(spark, sf_dir))
    return (
        t["strings"]
        .join(
            t["functions"],
            t["strings"]["strindex"] == t["functions"]["name_strindex"],
        )
        .join(t["locations"], "function_idx")
        .select(
            "strindex", "s", "function_idx", "name_strindex", "location_idx"
        )
    )


def q_profile_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profiles signal, dictionary round trip (pprofile Sample/Stack
    model; dictionary_helpers.go:20-77 resolution pass): build the
    interned dictionary+samples from the turns, then RESOLVE every
    sample back through stack → location → function → string. The
    oracle computes the tool paths directly, so a value match proves
    the whole normalize/denormalize cycle — per-conversation flame
    stacks, leaf-first."""
    from opentelemetry_collector_spark.operators import profiles

    t = profiles.dictionary_tables(_parsed(spark, sf_dir))
    return profiles.resolve_samples(t)


_MIX_RATES = {"en": 0.8, "fr": 0.5, "de": 0.5, "zh": 0.25}
_MIX_TARGETS = {"en": 0.5, "fr": 0.15, "de": 0.15, "es": 0.1, "zh": 0.1}
_MIX_WEIGHTS = {"en": 0.6, "fr": 1.0, "de": 1.25, "zh": 2.5}


def q_mix_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-weight APPLICATION (operators/mixing.resample_to_mix):
    up/down-sample each language to its weight via deterministic
    repetition — floor(w) copies per doc plus a hash-drawn fractional
    copy (md5 chars 7-12, independent of the sampling window), so the
    expected copy count is exactly w and both engines replicate the
    SAME rows. es absent from the weight map → dropped."""
    from opentelemetry_collector_spark.operators import mixing

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return mixing.resample_to_mix(
        docs.select("doc_id", "source", "lang", "n_chars"),
        _MIX_WEIGHTS, strat_col="lang", key_col="doc_id",
    )


def q_mix_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling for training-mix assembly
    (operators/mixing.stratified_sample): per-language keep rates via
    an md5-fraction threshold — same rows survive on any partition
    layout or engine (es absent from the rate map → dropped, the
    allowlist semantics). One codegen'd scan, no shuffle."""
    from opentelemetry_collector_spark.operators import mixing

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return mixing.stratified_sample(
        docs, _MIX_RATES, strat_col="lang", key_col="doc_id"
    ).select("doc_id", "source", "lang", "n_chars")


def q_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-weight computation (operators/mixing.mixture_weights):
    per-language corpus share by chars + the up/down-sampling factor to
    hit a target mix — one partial-aggregated groupBy, mix-table-sized
    result."""
    from opentelemetry_collector_spark.operators import mixing

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return mixing.mixture_weights(
        docs, _MIX_TARGETS, strat_col="lang", size_col="n_chars"
    )


def q_metrics_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OTLP/JSON metrics envelope round trip (pmetric/json.go analog):
    a last-latency Gauge and a monotonic cumulative calls-per-tool Sum
    encoded as one ExportMetricsServiceRequest document (protobuf-JSON
    mapping: asInt as string, enums as ints) and decoded back with
    from_json. Oracle = the direct per-tool aggregates, so a value
    match proves decode(encode(points)) == points, flags included."""
    from opentelemetry_collector_spark.operators import metrics
    from opentelemetry_collector_spark.sources import otlp_metrics_json as omj

    d = _parsed(spark, sf_dir).filter(F.col("tool_parsed").isNotNull())
    ns = lambda c: F.unix_timestamp(c).cast("bigint") * F.lit(1_000_000_000)  # noqa: E731
    gauge = metrics.gauge_last(
        d.select(F.col("tool_parsed").alias("tool"), "ts", "conv_id",
                 "turn_idx", "latency_ms"),
        "latency_ms", ts_col="ts", tiebreak_cols=("conv_id", "turn_idx"),
        stream_cols=("tool",),
    ).select("tool", "last_value", ns(F.col("last_ts")).alias(
        "last_ts_unix_nano"))
    sums = d.groupBy(F.col("tool_parsed").alias("tool")).agg(
        F.count(F.lit(1)).alias("total"),
        ns(F.max("ts")).alias("ts_unix_nano"),
    )
    env = omj.encode_metrics_json(
        gauge, sums, gauge_name="latency_last", gauge_unit="ms",
        sum_name="calls_total", sum_unit="1",
    )
    return omj.decode_metrics_json(env)


def q_profiles_proto_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OTLP profiles protobuf wire round trip (the 4th signal's wire
    story; field layout from the reference's generated marshalers —
    sources/otlp_profiles_proto.py docstring): one
    ExportProfilesServiceRequest per conversation with its
    request-local dictionary, decoded by resolving every sample back
    through stack → location → line → function → string. The oracle is
    the DIRECT tool-path derivation (shared with `profile_samples`),
    so a value-hash match proves decode(encode(turns)) reproduces
    every resolved sample."""
    from opentelemetry_collector_spark.sources import otlp_profiles_proto as opp

    env = opp.encode_profiles_proto(_parsed(spark, sf_dir))
    return opp.decode_profiles_proto(env)


def q_metrics_proto_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OTLP metrics protobuf wire round trip (pdata/pmetric/pb.go
    analog; field layout from the reference's generated marshalers —
    see sources/otlp_proto.py metrics section): aggregate the scale-2
    exponential histogram, encode one MetricsData proto per tool
    (dense bucket arrays, sint32 zigzag scale/offset, fixed64 counts),
    decode with the generic wire walker and re-sparsify. The oracle is
    the direct exp_histogram aggregation, so a value-hash match proves
    decode(encode(hist)) == hist bucket-for-bucket, bounds included
    (re-derived from idx+scale with the shared round-6 math)."""
    from opentelemetry_collector_spark.operators import exphist
    from opentelemetry_collector_spark.sources import otlp_proto as opb

    d = _parsed(spark, sf_dir).select(
        F.col("tool_parsed").alias("tool"), "latency_ms"
    )
    hist = exphist.exponential_histogram(d, "latency_ms", scale=2)
    env = opb.encode_metrics_proto(hist, "latency_ms", "ms", scale=2)
    back = opb.decode_metrics_proto(env, group_col="tool")
    lo, hi = exphist.bucket_bounds(2)
    return back.select(
        "tool", "sign", "idx", "n", lo.alias("lo"), hi.alias("hi")
    )


def q_trace_envelope_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traces JSON envelope round trip (ptrace/json.go:17-53): derive
    spans WITH their SpanEvent/SpanLink arrays, encode one
    ExportTraceServiceRequest document per conversation
    (sources/otlp_trace_json.encode_trace_envelope), decode with
    from_json and flatten back. The oracle is the identity span
    derivation plus directly computed per-span event/link counts, so a
    value-hash match proves decode(encode(x)) == x span-for-span —
    including omitted defaults (parentSpanId on root spans, UNSET
    status, absent events/links arrays)."""
    from opentelemetry_collector_spark.operators import traces
    from opentelemetry_collector_spark.sources import otlp_trace_json as otj

    parsed = _parsed(spark, sf_dir)
    spans = traces.derive_spans(parsed)
    env = otj.encode_trace_envelope(
        spans,
        events=traces.derive_span_events(parsed),
        links=traces.derive_span_links(parsed),
    )
    flat = otj.decode_trace_envelope(env, carry=["conv_id"])
    return flat.select(
        "conv_id",
        "turn_idx",
        "trace_id",
        "span_id",
        "parent_span_id",
        "name",
        "kind",
        "start_unix_nano",
        "end_unix_nano",
        "status_code",
        F.size("events").alias("n_events"),
        F.size("links").alias("n_links"),
        (F.col("res_conv") == F.col("conv_id")).alias("roundtrip_ok"),
    )


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition signals (Gopher/C4 curation rules):
    duplicate-2-gram fraction + top-word share per document, with an
    integer-exact drop flag. Scan-speed HOF pass + two partial-agg
    shuffles; see textstats.repetition_stats."""
    from opentelemetry_collector_spark.operators import textstats
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textstats.repetition_stats(docs, id_col="doc_id")


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination over the dup-injected corpus: the
    held-out "eval suite" is every 13th base document; its distinct
    shingle set is broadcast against the corpus (minus the eval docs
    themselves) and any document sharing a shingle is reported with
    its overlap count. The near/exact dup copies of eval docs (+1M/+2M
    ids) are the planted contamination the query must find."""
    from opentelemetry_collector_spark.operators import dedup
    corpus = _docs_aug(spark, sf_dir).filter(
        ~((F.col("id") < 1000000) & (F.col("id") % 13 == 3))
    )
    bench = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % 13 == 3)
        .select("text")
    )
    return dedup.contamination_overlap(corpus, bench, id_col="id")


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over a corpus with deterministically planted PII
    (every 11th doc gets an email + IPv4 + phone appended — the same
    injection the oracle applies), so the redaction regexes are
    actually exercised, not vacuously green."""
    from opentelemetry_collector_spark.operators import textstats
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    spiced = docs.select(
        F.col("doc_id").alias("id"),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(F.lower(F.trim("text")), F.lit(_PII_SPICE)),
        )
        .otherwise(F.lower(F.trim("text")))
        .alias("text"),
    )
    return textstats.redact_pii(spiced, id_col="id")


def q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-50 shingle document frequencies (boilerplate
    discovery). TakeOrderedAndProject shape — see dedup.top_shingles."""
    from opentelemetry_collector_spark.operators import dedup
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.top_shingles(docs, k=50)


_PII_SPICE = " contact ann.lee+x@mail.example.org or 10.0.42.7 tel +14155550123"


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window chunking (32-token chunks, 4-token
    overlap) — scan-speed HOF pass + explode; see
    packing.chunk_documents."""
    from opentelemetry_collector_spark.operators import packing
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return packing.chunk_documents(
        docs, id_col="doc_id", chunk_tokens=32, overlap=4
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-split sequence-packing accounting at a 256-token
    budget, computed as a distributed prefix sum (id-range shards +
    broadcast base offsets — no global single-task window); see
    packing.pack_sequences. ``shards=8`` is explicit: the default
    derives shards from row count (rows/4M, so test-scale data would
    collapse to one shard) and the plan shape under test is the
    sharded one — output is boundary-invariant either way."""
    from opentelemetry_collector_spark.operators import packing, textstats
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = textstats.token_count(docs).select("doc_id", "n_tokens")
    return packing.pack_sequences(d, id_col="doc_id", budget=256, shards=8)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry ORDER IS THE VERIFICATION SCHEDULE: the driver checks
    the first 50 entries against the DuckDB oracles each round, so
    entries are ranked by verification need (round-3 verdict item 1) —

    1. entries with no driver-green row yet (new or changed this
       round, or never inside a previous round's window), then
    2. everything else changed/renamed recently, then
    3. the long-stable core (green in BOTH r2 and r3, untouched
       since) — these sit past position 50, where skipping costs the
       least because their last driver rows still describe the
       current code.

    The former debug_normal/debug_detailed/debug_sampled and
    token_count/quality_score/lang_id/fingerprint entries are
    consolidated into debug_exporter and text_metrics (same operators,
    all columns, one slot each) so the whole contract fits the window
    with only the double-green core past it.

    r5 ranking: the 16 new rows (metric gauge/temporality/summary,
    span events/links, trace/metrics/profiles wire round trips in both
    JSON and proto, exp-histogram merge + exemplars, profile
    dictionary/samples, training-mix sampling/weights/resample) lead,
    then the rows whose code or oracle changed this round
    (embedding_quantize, pack_sequences, streaming_accounting — now
    value-oracled, zero rows-only entries remain —
    proto_roundtrip/debug/ann_lsh via their changed operators); every
    past-window entry was driver-green in r4 or earlier AND is
    untouched since.
    """
    return {
        # -- new in r5 (never driver-verified) --
        "metric_gauge_last": q_metric_gauge_last,
        "metric_temporality": q_metric_temporality,
        "metric_summary": q_metric_summary,
        "span_events": q_span_events,
        "span_links": q_span_links,
        "trace_envelope_roundtrip": q_trace_envelope_roundtrip,
        "metrics_proto_roundtrip": q_metrics_proto_roundtrip,
        "profile_dictionary": q_profile_dictionary,
        "profile_samples": q_profile_samples,
        "profiles_proto_roundtrip": q_profiles_proto_roundtrip,
        "mix_stratified_sample": q_mix_stratified_sample,
        "mix_weights": q_mix_weights,
        "mix_resample": q_mix_resample,
        "metrics_json_roundtrip": q_metrics_json_roundtrip,
        "exp_histogram_merge": q_exp_histogram_merge,
        "exp_histogram_exemplars": q_exp_histogram_exemplars,
        # -- never driver-verified (r3 window miss) or changed in r4 --
        "embedding_quantize": q_embedding_quantize,
        "ann_quantized_recall": q_ann_quantized_recall,
        "repetition": q_repetition,
        "decontaminate": q_decontaminate,
        "redact_pii": q_redact_pii,
        "top_ngrams": q_top_ngrams,
        "chunk_docs": q_chunk_docs,
        "pack_sequences": q_pack_sequences,
        # changed in r5 (parquet sink replaced the memory sink; now
        # fully value-oracled — the emitted window set is deterministic)
        "streaming_accounting": q_streaming_accounting,
        # -- new / consolidated in r4 --
        "text_metrics": q_text_metrics,
        "debug_exporter": q_debug_exporter,
        "proto_roundtrip": q_proto_roundtrip,
        "exp_histogram": q_exp_histogram,
        "exp_histogram_downscale": q_exp_histogram_downscale,
        "spans": q_spans,
        # -- last driver row predates r3 or code changed in r4 --
        "dedup_embedding_kmeans": q_dedup_embedding_kmeans,
        "corpus_curation": q_corpus_curation,
        "dedup_groups": q_dedup_groups,
        "dedup_survivors": q_dedup_survivors,
        "ann_lsh": q_ann_lsh,
        # -- r3-green, re-checked while the window allows --
        "dedup_exact": q_dedup_exact,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_simhash": q_dedup_simhash,
        "dedup_embedding": q_dedup_embedding,
        "ann_topk": q_ann_topk,
        "ann_ivf": q_ann_ivf,
        "ann_recall": q_ann_recall,
        "ann_ivf_kmeans": q_ann_ivf_kmeans,
        "ann_ivf_probe2": q_ann_ivf_probe2,
        "kmeans_cells": q_kmeans_cells,
        "kmeans_cells_sampled": q_kmeans_cells_sampled,
        "latency_histogram": q_latency_histogram,
        "attr_ops": q_attr_ops,
        "attrs_json": q_attrs_json,
        "render_asstring": q_render_asstring,
        "parse_errors": q_parse_errors,
        "otlp_json": q_otlp_json,
        "otlp_envelope": q_otlp_envelope,
        "nested_attrs": q_nested_attrs,
        "proto_size": q_proto_size,
        "lineage": q_lineage,
        "top_convs_per_tool": q_top_convs_per_tool,
        "multi_route": q_multi_route,
        "rollup_accounting": q_rollup_accounting,
        "union_sinks": q_union_sinks,
        "turn_order": q_turn_order,
        "conv_stats": q_conv_stats,
        "window_sliding": q_window_sliding,
        "window_session": q_window_session,
        # -- past the 50-entry window: green in BOTH r2 and r3 and
        #    untouched since; their last driver rows describe this code
        "top_convs": q_top_convs,
        "metadata_shards": q_metadata_shards,
        "transcripts": q_transcripts,
        "parse": q_parse,
        "enrich": q_enrich,
        "filter_strict": q_filter_strict,
        "filter_regex": q_filter_regex,
        "sample": q_sample,
        "route": q_route,
        "sink_counts": q_sink_counts,
        "agg_hourly": q_agg_hourly,
        "severity_hist": q_severity_hist,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect-compatible; shares fragments with the Spark job)
# ---------------------------------------------------------------------------

def oracle_sql() -> dict[str, str]:
    t = sqltext.transcripts_cte("events")
    p = sqltext.parsed_cte("events")
    parsed_cols = ", ".join(_PARSED_COLS)
    mh_pairs = f"""
            WITH docs AS ({sqltext.DOCS_AUG_SQL}),
            sh AS (
              SELECT id, {sqltext.SHINGLES_EXPR} AS sh
              FROM (SELECT id, {sqltext.WORDS_EXPR} AS w, text FROM docs)
            ),
            hs AS (
              SELECT id, list_transform(sh, s -> {sqltext.SHINGLE_HASH_EXPR}) AS hs
              FROM sh
            ),
            sig AS (
              SELECT id, {sqltext.minhash_sig_sql_list(12)} AS mh FROM hs
            ),
            banded AS (
              SELECT id, CAST(b AS INT) AS band,
                     array_to_string(list_slice(mh, b*3 + 1, b*3 + 3), '|') AS key
              FROM sig, (SELECT unnest(generate_series(0, 3)) AS b)
            )
            SELECT a.id AS id_a, b.id AS id_b, count(*) AS matching_bands
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.key = b.key AND a.id < b.id
            GROUP BY 1, 2
        """
    # min-reachable-id connected components over the MinHash pair graph
    # as a recursive CTE (grp = min id in the component); ends with
    # ``grouped(id, grp)`` — append the consuming SELECT
    cc_groups = f"""
            WITH RECURSIVE pairs AS (
              SELECT * FROM ({mh_pairs}) t0
            ),
            edges AS (
              SELECT id_a AS src, id_b AS dst FROM pairs
              UNION ALL
              SELECT id_b AS src, id_a AS dst FROM pairs
            ),
            nodes AS (SELECT DISTINCT src AS id FROM edges),
            reach(id, root) AS (
              SELECT id, id FROM nodes
              UNION
              SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.id
            ),
            grouped AS (SELECT id, min(root) AS grp FROM reach GROUP BY id)
        """
    return {
        "transcripts": f"{t} SELECT * FROM transcripts",
        "parse": f"{p} SELECT {parsed_cols} FROM parsed",
        "enrich": f"""
            {p},
            tool_lookup AS ({sqltext.TOOL_LOOKUP_SQL}),
            role_lookup AS ({sqltext.ROLE_LOOKUP_SQL})
            SELECT p.conv_id, p.turn_idx, p.tool, p.role,
                   t.tool_category, t.tool_owner, t.is_privileged,
                   r.role_kind, r.billing_class,
                   (t.tool_category IS NULL OR r.role_kind IS NULL) AS enrich_miss
            FROM parsed p
            LEFT JOIN tool_lookup t ON p.tool = t.tool
            LEFT JOIN role_lookup r ON p.role = r.role
        """,
        "filter_strict": f"""
            {p} SELECT conv_id, turn_idx, tool, status_code, text
            FROM parsed WHERE tool IN ('python', 'editor') AND parse_ok
        """,
        "filter_regex": f"""
            {p} SELECT conv_id, turn_idx, text, status_code, latency_ms
            FROM parsed
            WHERE regexp_matches(text, 'status=50[0-9] ')
               OR regexp_matches(text, 'latency_ms=4[0-9][0-9][0-9] ')
        """,
        "sample": f"""
            {t} SELECT conv_id, turn_idx, role, text, tool, ts
            FROM transcripts WHERE substring(md5(conv_id), 1, 2) < '29'
        """,
        "route": f"""
            {p} SELECT conv_id, turn_idx, tool, role,
                   {sqltext.ROUTE_CASE_SQL} AS route
            FROM parsed
        """,
        "sink_counts": f"""
            {p} SELECT {sqltext.ROUTE_CASE_SQL} AS route,
                   count(*) AS row_count
            FROM parsed WHERE parse_ok GROUP BY 1
        """,
        "agg_hourly": f"""
            {p}
            SELECT {sqltext.ROUTE_CASE_SQL} AS route,
                   date_trunc('hour', ts) AS window_start,
                   conv_id, tool,
                   count(*) AS turn_count,
                   CAST(count(DISTINCT role) AS INT) AS distinct_roles,
                   CAST(sum(length(text)) AS BIGINT) AS bytes_sum
            FROM parsed WHERE parse_ok GROUP BY 1, 2, 3, 4
        """,
        "severity_hist": f"""
            {p} SELECT severity_num, count(*) AS n FROM parsed GROUP BY 1
        """,
        "metadata_shards": f"""
            {t} SELECT lower(role) AS role, lower(tool) AS tool,
                   count(*) AS item_count
            FROM transcripts GROUP BY 1, 2
        """,
        "attr_ops": f"""
            {p}
            SELECT conv_id, turn_idx,
                   'prod' AS attr_env,
                   CAST(status_code AS VARCHAR) AS attr_status,
                   regexp_replace(msg, 'k[0-9]+$', 'K') AS attr_msg,
                   tool_parsed AS attr_tool,
                   CAST(1 + (status_code IS NOT NULL)::INT
                          + (msg IS NOT NULL)::INT
                          + (tool_parsed IS NOT NULL)::INT AS INT) AS n_attrs
            FROM parsed
        """,
        "attrs_json": f"""
            {p}
            SELECT conv_id, turn_idx,
                   '{{' || concat_ws(',',
                     '"msg":"' || msg || '"',
                     '"status":"' || CAST(status_code AS VARCHAR) || '"',
                     '"tool":"' || tool_parsed || '"') || '}}' AS attrs_json
            FROM parsed
        """,
        "debug_exporter": f"""
            {p},
            ranked AS (
              SELECT *,
                     row_number() OVER (
                       PARTITION BY date_trunc('hour', ts)
                       ORDER BY conv_id, turn_idx) AS rn
              FROM parsed
            )
            SELECT conv_id, turn_idx, severity_num,
              concat_ws(' ', text,
                'seq=' || CAST(seq AS VARCHAR),
                'event_kind=' || nullif(event_kind, ''),
                'status=' || CAST(status_code AS VARCHAR),
                'latency_ms=' || (CASE
                   WHEN latency_ms IS NULL THEN NULL
                   WHEN latency_ms = floor(latency_ms)
                     THEN CAST(CAST(latency_ms AS BIGINT) AS VARCHAR)
                   ELSE CAST(latency_ms AS VARCHAR) END),
                'bytes=' || CAST(bytes AS VARCHAR),
                'msg=' || msg,
                'tool=' || tool_parsed) AS line,
              concat_ws(chr(10),
                'LogRecord',
                'Timestamp: ' || strftime(ts, '%Y-%m-%d %H:%M:%S'),
                'SeverityText: ' ||
                  CASE WHEN severity_num = 17 THEN 'ERROR'
                       WHEN severity_num = 13 THEN 'WARN'
                       WHEN severity_num = 9 THEN 'INFO' ELSE '' END,
                'SeverityNumber: ' ||
                  CASE WHEN severity_num = 17 THEN 'Error'
                       WHEN severity_num = 13 THEN 'Warn'
                       WHEN severity_num = 9 THEN 'Info'
                       ELSE 'Unspecified' END ||
                  '(' || CAST(severity_num AS VARCHAR) || ')',
                CASE WHEN nullif(event_kind, '') IS NOT NULL
                     THEN 'EventName: ' || event_kind END,
                'Body: Str(' || text || ')',
                'Attributes:',
                '     -> msg: Str(' || msg || ')',
                '     -> status: Str(' || CAST(status_code AS VARCHAR) || ')',
                '     -> tool: Str(' || tool_parsed || ')'
              ) AS block
            FROM ranked
            WHERE rn <= 2 OR (rn - 2) % 3 = 0
        """,
        "render_asstring": f"""
            {p}
            SELECT conv_id, turn_idx,
                   CASE WHEN latency_ms IS NULL THEN NULL
                        WHEN latency_ms = floor(latency_ms)
                          THEN CAST(CAST(latency_ms AS BIGINT) AS VARCHAR)
                        ELSE CAST(latency_ms AS VARCHAR) END AS lat_str,
                   CASE WHEN latency_ms IS NULL THEN NULL
                        WHEN latency_ms / 2 = floor(latency_ms / 2)
                          THEN CAST(CAST(latency_ms / 2 AS BIGINT) AS VARCHAR)
                        ELSE CAST(latency_ms / 2 AS VARCHAR) END AS lat_half_str,
                   CASE WHEN parse_ok THEN 'true' ELSE 'false' END AS ok_str,
                   to_base64(unhex(md5(text))) AS digest_b64
            FROM parsed
        """,
        "parse_errors": f"""
            WITH clean AS ({sqltext.transcripts_sql("events")}),
            transcripts AS (
              SELECT conv_id, turn_idx, role,
                     CASE WHEN turn_idx % 13 = 0
                          THEN regexp_replace(text, ' status=', ' st=')
                          ELSE text END AS text,
                     tool, ts
              FROM clean
            )
            SELECT conv_id, turn_idx, severity_num,
                   CASE WHEN seq IS NULL AND status_code IS NULL THEN 'no_seq_no_status'
                        WHEN seq IS NULL THEN 'no_seq'
                        ELSE 'no_status' END AS reason
            FROM ({sqltext.PARSED_SQL})
            WHERE NOT parse_ok
        """,
        "otlp_json": f"""
            {p},
            spiced AS (
              SELECT conv_id, turn_idx, severity_num, event_kind,
                     CASE WHEN turn_idx % 7 = 0
                          THEN text || {sqltext.JSON_SPICE_SQL}
                          ELSE text END AS text,
                     ts
              FROM parsed
            ),
            wire AS (
              SELECT conv_id, turn_idx, text,
                     '{{"timeUnixNano":"' ||
                     CAST(CAST(floor(epoch(ts)) AS BIGINT) * 1000000000 AS VARCHAR) ||
                     '","severityNumber":' || CAST(severity_num AS VARCHAR) ||
                     ',"severityText":"' ||
                     (CASE WHEN severity_num = 17 THEN 'ERROR'
                           WHEN severity_num = 13 THEN 'WARN'
                           WHEN severity_num = 9 THEN 'INFO' ELSE '' END) ||
                     '","body":{{"stringValue":"' ||
                     {sqltext.json_esc_sql("text")} ||
                     '"}},"eventName":"' ||
                     {sqltext.json_esc_sql("event_kind")} ||
                     '"}}' AS j
              FROM spiced
            )
            SELECT conv_id, turn_idx,
                   CAST(json_extract_string(j, '$.timeUnixNano') AS BIGINT) AS ts_unix_nano,
                   CAST(json_extract(j, '$.severityNumber') AS INT) AS severity_number,
                   json_extract_string(j, '$.severityText') AS severity_text,
                   json_extract_string(j, '$.body.stringValue') AS body_text,
                   json_extract_string(j, '$.eventName') AS event_name,
                   (json_extract_string(j, '$.body.stringValue') = text) AS roundtrip_ok
            FROM wire
        """,
        "otlp_envelope": ("""
            [P],
            recjson AS (
              SELECT conv_id, turn_idx // 512 AS b,
                     COALESCE(tool_parsed, 'none') AS scope_name,
                     turn_idx,
                     '{"timeUnixNano":"' ||
                     CAST(CAST(floor(epoch(ts)) AS BIGINT) * 1000000000 AS VARCHAR) ||
                     '","severityNumber":' || CAST(severity_num AS VARCHAR) ||
                     ',"severityText":"' ||
                     (CASE WHEN severity_num = 17 THEN 'ERROR'
                           WHEN severity_num = 13 THEN 'WARN'
                           WHEN severity_num = 9 THEN 'INFO' ELSE '' END) ||
                     '","body":{"stringValue":"' || [ESCTEXT] ||
                     '"},"eventName":"' || [ESCKIND] ||
                     '","attributes":[{"key":"turn.idx","value":{"intValue":"' ||
                     CAST(turn_idx AS VARCHAR) || '"}}]}' AS rec
              FROM parsed
            ),
            scopejson AS (
              SELECT conv_id, b, scope_name,
                     '{"scope":{"name":"' || [ESCSCOPE] ||
                     '"},"logRecords":[' ||
                     string_agg(rec, ',' ORDER BY turn_idx) || ']}' AS scope_json
              FROM recjson GROUP BY conv_id, b, scope_name
            ),
            env AS (
              SELECT conv_id,
                     '{"resourceLogs":[{"resource":{"attributes":[{"key":"conv.id","value":{"stringValue":"'
                     || [ESCCONV] || '"}}]},"scopeLogs":[' ||
                     string_agg(scope_json, ',' ORDER BY scope_name) ||
                     ']}]}' AS wire
              FROM scopejson GROUP BY conv_id, b
            ),
            dec AS (
              SELECT conv_id, json_transform(wire, '[STRUCT]') AS d FROM env
            ),
            u1 AS (SELECT conv_id, UNNEST(d.resourceLogs) AS rl FROM dec),
            u2 AS (SELECT conv_id,
                          rl.resource.attributes[1].value.stringValue AS res_conv,
                          UNNEST(rl.scopeLogs) AS sl FROM u1),
            u3 AS (SELECT conv_id, res_conv, sl.scope.name AS scope_name,
                          UNNEST(sl.logRecords) AS lr FROM u2)
            SELECT conv_id, scope_name,
                   CAST(lr.attributes[1].value.intValue AS INT) AS turn_idx,
                   CAST(lr.timeUnixNano AS BIGINT) AS ts_unix_nano,
                   lr.severityNumber AS severity_number,
                   lr.severityText AS severity_text,
                   lr.body.stringValue AS body_text,
                   lr.eventName AS event_name,
                   (res_conv = conv_id) AS roundtrip_ok
            FROM u3
        """
        .replace("[P]", p)
        .replace("[ESCTEXT]", sqltext.json_esc_sql("text"))
        .replace("[ESCKIND]", sqltext.json_esc_sql("event_kind"))
        .replace("[ESCSCOPE]", sqltext.json_esc_sql("scope_name"))
        .replace("[ESCCONV]", sqltext.json_esc_sql("conv_id"))
        .replace("[STRUCT]", (
            '{"resourceLogs":[{"resource":{"attributes":[{"key":"VARCHAR",'
            '"value":{"stringValue":"VARCHAR"}}]},"scopeLogs":[{"scope":'
            '{"name":"VARCHAR"},"logRecords":[{"timeUnixNano":"VARCHAR",'
            '"severityNumber":"INTEGER","severityText":"VARCHAR","body":'
            '{"stringValue":"VARCHAR"},"eventName":"VARCHAR","attributes":'
            '[{"key":"VARCHAR","value":{"intValue":"VARCHAR"}}]}]}]}]}'
        ))),
        # proto round trip: decode(encode(x)) == x, so the oracle is the
        # identity computation from the raw transcripts — a value-hash
        # match proves the wire pass is lossless record-for-record
        # (canonical BYTES are pinned by golden vectors in
        # tests/test_otlp_proto.py; DuckDB has no protobuf codec to
        # cross-compute them)
        "proto_roundtrip": f"""
            {p}
            SELECT conv_id,
                   COALESCE(tool_parsed, 'none') AS scope_name,
                   turn_idx,
                   CAST(floor(epoch(ts)) AS BIGINT) * 1000000000 AS ts_unix_nano,
                   severity_num AS severity_number,
                   CASE WHEN severity_num = 17 THEN 'ERROR'
                        WHEN severity_num = 13 THEN 'WARN'
                        WHEN severity_num = 9 THEN 'INFO' ELSE '' END AS severity_text,
                   text AS body_text,
                   COALESCE(event_kind, '') AS event_name,
                   TRUE AS roundtrip_ok
            FROM parsed
        """,
        "exp_histogram": f"{p}" + exphist_mod.exponential_histogram_sql(
            "(SELECT tool_parsed AS tool, latency_ms FROM parsed)",
            "latency_ms", scale=2, lead=",",
        ),
        # downscaled scale-3 histogram == direct scale-1 histogram (the
        # nesting property) — so the oracle just aggregates at scale 1
        "exp_histogram_downscale": f"{p}"
        + exphist_mod.exponential_histogram_sql(
            "(SELECT tool_parsed AS tool, latency_ms FROM parsed)",
            "latency_ms", scale=1, lead=",",
        ),
        "metric_gauge_last": f"""
            {p},
            pts AS (
              SELECT tool_parsed AS tool, ts, conv_id, turn_idx, latency_ms,
                     row_number() OVER (
                       PARTITION BY tool_parsed
                       ORDER BY ts DESC, conv_id DESC, turn_idx DESC
                     ) AS rn
              FROM parsed
              WHERE tool_parsed IS NOT NULL AND latency_ms IS NOT NULL
            )
            SELECT tool,
                   max(CASE WHEN rn = 1 THEN latency_ms END) AS last_value,
                   max(ts) AS last_ts,
                   count(*) AS point_count
            FROM pts
            GROUP BY tool
        """,
        "metric_temporality": f"""
            {p},
            -- delta -> cumulative: running sum per stream (CAST: DuckDB's
            -- windowed sum(BIGINT) widens to HUGEIT->float64 in the driver)
            c AS (
              SELECT conv_id, turn_idx,
                     COALESCE(bytes, 0) AS delta_in,
                     CAST(sum(COALESCE(bytes, 0)) OVER (
                       PARTITION BY conv_id ORDER BY turn_idx
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS BIGINT) AS cumulative
              FROM parsed
            ),
            m AS (
              SELECT *, cumulative % 20000 AS cum_mod FROM c
            )
            -- cumulative -> delta with the OTLP counter-reset rule
            SELECT conv_id, turn_idx, delta_in, cumulative, cum_mod,
                   CASE WHEN lag(cum_mod) OVER w IS NULL
                          OR cum_mod < lag(cum_mod) OVER w
                        THEN cum_mod
                        ELSE cum_mod - lag(cum_mod) OVER w END AS delta_out
            FROM m
            WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
        """,
        "metric_summary": f"{p}" + metrics_mod.summary_points_sql(
            "(SELECT tool_parsed AS tool, latency_ms FROM parsed "
            "WHERE tool_parsed IS NOT NULL)",
            "latency_ms", stream_cols=("tool",), quantiles=(0.5, 0.9, 0.99),
        ),
        # merged(scale-3 half, scale-2 half) == direct scale-2 over all
        # (halves partition the rows; downscaled buckets nest exactly)
        "exp_histogram_merge": f"{p}"
        + exphist_mod.exponential_histogram_sql(
            "(SELECT tool_parsed AS tool, latency_ms FROM parsed)",
            "latency_ms", scale=2, lead=",",
        ),
        # exemplar = the bucket's max-(value, tid, sid, ts) observation
        # (struct-max in Spark == this DESC ordering), count in the same
        # partition — mirrors histogram_exemplars' single aggregation
        "exp_histogram_exemplars": f"""
            {p},
            pts AS (
              SELECT tool_parsed AS tool, latency_ms AS v,
                     md5(conv_id) AS tid,
                     substring(md5(conv_id || ':' ||
                       CAST(turn_idx AS VARCHAR)), 1, 16) AS sid,
                     CAST(floor(epoch(ts)) AS BIGINT) * 1000000000 AS tsn,
                     CASE WHEN latency_ms > 0 THEN 1
                          WHEN latency_ms < 0 THEN -1 ELSE 0 END AS sign,
                     CASE WHEN latency_ms > 0 THEN
                            CAST(ceil(round(log2(latency_ms) * 4.0, 9))
                                 AS BIGINT) - 1
                          WHEN latency_ms < 0 THEN
                            CAST(ceil(round(log2(-latency_ms) * 4.0, 9))
                                 AS BIGINT) - 1
                          ELSE NULL END AS idx
              FROM parsed WHERE latency_ms IS NOT NULL
            ),
            rk AS (
              SELECT *,
                     row_number() OVER (
                       PARTITION BY tool, sign, idx
                       ORDER BY v DESC, tid DESC, sid DESC, tsn DESC
                     ) AS rn,
                     count(*) OVER (PARTITION BY tool, sign, idx) AS n
              FROM pts
            )
            SELECT tool, sign, idx, n,
                   CASE WHEN idx IS NOT NULL
                        THEN round(pow(2.0, idx * 0.25), 6) END AS lo,
                   CASE WHEN idx IS NOT NULL
                        THEN round(pow(2.0, (idx + 1) * 0.25), 6) END AS hi,
                   v AS exemplar_value,
                   tid AS exemplar_trace_id,
                   sid AS exemplar_span_id,
                   tsn AS exemplar_ts_unix_nano
            FROM rk WHERE rn = 1
        """,
        "spans": traces_mod.spans_oracle_sql(p),
        "span_events": traces_mod.span_events_oracle_sql(p),
        "span_links": traces_mod.span_links_oracle_sql(p),
        "profile_dictionary": profiles_mod.dictionary_oracle_sql(p),
        # identity oracle: the direct tool-path derivation — what the
        # dictionary normalize/denormalize cycle must reproduce
        "profile_samples": profiles_mod.samples_oracle_sql(p),
        # same identity oracle: the WIRE round trip resolves to the
        # same sample rows the in-engine dictionary cycle produces
        "profiles_proto_roundtrip": profiles_mod.samples_oracle_sql(p),
        "mix_stratified_sample": mixing_mod.stratified_sample_sql(
            "documents", _MIX_RATES, strat_col="lang", key_col="doc_id",
            cols="doc_id, source, lang, n_chars",
        ),
        "mix_weights": mixing_mod.mixture_weights_sql(
            "documents", _MIX_TARGETS, strat_col="lang", size_col="n_chars",
        ),
        "mix_resample": mixing_mod.resample_to_mix_sql(
            "documents", _MIX_WEIGHTS, strat_col="lang", key_col="doc_id",
            cols="doc_id, source, lang, n_chars",
        ),
        # the streaming window set is deterministic: append-mode emits
        # exactly the windows whose end <= final watermark (max event
        # time - 2h), so the batch twin with the same HAVING cut is an
        # exact value oracle (bit-stable across repeated stream runs)
        "streaming_accounting": f"""
            {p},
            base AS (
              SELECT {sqltext.ROUTE_CASE_SQL} AS route,
                     date_trunc('hour', ts) AS window_start,
                     date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
                     conv_id, tool, ts, text
              FROM parsed WHERE parse_ok
            )
            SELECT window_start, window_end, route, conv_id, tool,
                   count(*) AS turn_count,
                   CAST(sum(length(text)) AS BIGINT) AS bytes_sum
            FROM base
            GROUP BY 1, 2, 3, 4, 5
            HAVING window_end <= (SELECT max(ts) - INTERVAL 2 HOUR
                                  FROM base)
        """,
        # identity oracle: the direct per-tool gauge/sum aggregates the
        # JSON envelope round trip must reproduce (flags included)
        "metrics_json_roundtrip": f"""
            {p},
            g AS (
              SELECT tool_parsed AS tool, ts, latency_ms,
                     row_number() OVER (
                       PARTITION BY tool_parsed
                       ORDER BY ts DESC, conv_id DESC, turn_idx DESC
                     ) AS rn
              FROM parsed
              WHERE tool_parsed IS NOT NULL AND latency_ms IS NOT NULL
            ),
            ga AS (
              SELECT tool,
                     max(CASE WHEN rn = 1 THEN latency_ms END) AS as_double,
                     CAST(floor(epoch(max(ts))) AS BIGINT) * 1000000000
                       AS ts_unix_nano
              FROM g GROUP BY tool
            ),
            sa AS (
              SELECT tool_parsed AS tool,
                     count(*) AS as_int,
                     CAST(floor(epoch(max(ts))) AS BIGINT) * 1000000000
                       AS ts_unix_nano
              FROM parsed WHERE tool_parsed IS NOT NULL
              GROUP BY tool_parsed
            )
            SELECT 'latency_last' AS metric_name, 'ms' AS unit,
                   'gauge' AS mtype, tool, as_double,
                   CAST(NULL AS BIGINT) AS as_int, ts_unix_nano,
                   0 AS temporality, FALSE AS monotonic
            FROM ga
            UNION ALL
            SELECT 'calls_total', '1', 'sum', tool,
                   CAST(NULL AS DOUBLE), as_int, ts_unix_nano,
                   2, TRUE
            FROM sa
        """,
        # identity oracle: the direct scale-2 histogram (a value-hash
        # match proves decode(encode(hist)) == hist bucket-for-bucket)
        "metrics_proto_roundtrip": f"{p}"
        + exphist_mod.exponential_histogram_sql(
            "(SELECT tool_parsed AS tool, latency_ms FROM parsed)",
            "latency_ms", scale=2, lead=",",
        ),
        # identity oracle: the direct span derivation + per-span
        # event/link counts + roundtrip_ok=TRUE (a value-hash match
        # proves decode(encode(spans+events+links)) == spans, arrays
        # restored — omitted defaults included)
        "trace_envelope_roundtrip": traces_mod.spans_events_links_oracle_sql(p),
        "nested_attrs": f"""
            {p},
            vals AS (
              SELECT conv_id, turn_idx,
                     COALESCE(status_code, 0) AS status,
                     COALESCE(latency_ms, 0) / 2.0 AS lat,
                     COALESCE(msg, '') AS msg0,
                     COALESCE(tool_parsed, 'none') AS tool0,
                     event_kind
              FROM parsed
            ),
            rendered AS (
              SELECT conv_id, turn_idx,
                     '{{"conv":"' || {sqltext.json_esc_sql("conv_id")} ||
                     '","turn":' || CAST(turn_idx AS VARCHAR) || '}}' AS ctx_json,
                     CASE WHEN lat = floor(lat)
                          THEN CAST(CAST(floor(lat) AS BIGINT) AS VARCHAR)
                          ELSE CAST(lat AS VARCHAR) END AS lat_json,
                     '"' || {sqltext.json_esc_sql("msg0")} || '"' AS msg_json,
                     CASE WHEN status < 400 THEN 'true' ELSE 'false' END AS ok_json,
                     '["' || {sqltext.json_esc_sql("tool0")} || '","' ||
                     {sqltext.json_esc_sql("event_kind")} || '"]' AS tags_json
              FROM vals
            )
            SELECT conv_id, turn_idx,
                   '{{"ctx":' || ctx_json ||
                   ',"env":"prod","latency_s":' || lat_json ||
                   ',"msg":' || msg_json ||
                   ',"ok":' || ok_json ||
                   ',"tags":' || tags_json || '}}' AS attrs_json,
                   ctx_json AS ctx_str
            FROM rendered
        """,
        "proto_size": f"""
            {p}
            SELECT conv_id, turn_idx, {protosize.log_record_proto_size_sql(
                "(CASE WHEN severity_num = 17 THEN 'ERROR' "
                "WHEN severity_num = 13 THEN 'WARN' "
                "WHEN severity_num = 9 THEN 'INFO' ELSE '' END)",
                [(3, "msg"), (6, "CAST(status_code AS VARCHAR)"), (4, "tool_parsed")],
            )} AS proto_bytes
            FROM parsed
        """,
        "lineage": f"""
            {p}
            SELECT {sqltext.ROUTE_CASE_SQL} AS route,
                   CAST(CAST(concat('0x', substr(md5(conv_id), 1, 8)) AS BIGINT)
                        % 32 AS INT) AS part_id,
                   count(*) AS "rows",
                   CAST(sum(strlen(text)) AS BIGINT) AS bytes
            FROM parsed WHERE parse_ok GROUP BY 1, 2
        """,
        "top_convs_per_tool": f"""
            {t}
            SELECT tool, conv_id, n_turns, CAST(rank AS INT) AS rank FROM (
              SELECT tool, conv_id, count(*) AS n_turns,
                     row_number() OVER (
                       PARTITION BY tool
                       ORDER BY count(*) DESC, conv_id ASC) AS rank
              FROM transcripts GROUP BY tool, conv_id
            ) WHERE rank <= 3
        """,
        "rollup_accounting": f"""
            {p},
            routed AS (
              SELECT {sqltext.ROUTE_CASE_SQL} AS route,
                     CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                     date_trunc('hour', ts) AS hour,
                     text
              FROM parsed WHERE parse_ok
            )
            SELECT route, day, hour, count(*) AS n_rows,
                   CAST(sum(strlen(text)) AS BIGINT) AS bytes_sum
            FROM routed GROUP BY ROLLUP (route, day, hour)
        """,
        "multi_route": f"""
            {p},
            fanned AS (
              SELECT {sqltext.ROUTE_CASE_SQL} AS route, text
              FROM parsed WHERE parse_ok
              UNION ALL
              SELECT 'sink_audit' AS route, text
              FROM parsed WHERE parse_ok AND severity_num >= 13
            )
            SELECT route, count(*) AS row_count,
                   CAST(sum(strlen(text)) AS BIGINT) AS bytes_sum
            FROM fanned GROUP BY route
        """,
        "union_sinks": f"""
            {p}
            SELECT tool, count(*) AS row_count,
                   CAST(count(DISTINCT conv_id) AS INT) AS n_convs
            FROM parsed
            WHERE parse_ok AND tool IN ('search', 'browser')
            GROUP BY tool
        """,
        "turn_order": f"""
            {t}
            SELECT conv_id, turn_idx,
                   CAST(row_number() OVER (
                     PARTITION BY conv_id ORDER BY turn_idx) - 1 AS INT) AS turn_rank,
                   (CAST(row_number() OVER (
                     PARTITION BY conv_id ORDER BY turn_idx) - 1 AS INT)
                    = turn_idx) AS is_dense
            FROM transcripts
        """,
        "conv_stats": f"""
            {t}
            SELECT conv_id,
                   count(*) AS n_turns,
                   CAST(count(DISTINCT tool) AS INT) AS n_tools,
                   CAST(count(DISTINCT role) AS INT) AS n_roles,
                   min(ts) AS first_ts,
                   max(ts) AS last_ts,
                   CAST(sum(length(text)) AS BIGINT) AS bytes_sum
            FROM transcripts GROUP BY 1
        """,
        "window_sliding": f"""
            {t},
            arms AS (
              SELECT tool,
                     CAST(to_timestamp(floor(epoch(ts) / 1800) * 1800)
                          AS TIMESTAMP) AS g
              FROM transcripts
            ),
            starts AS (
              SELECT tool, g AS window_start FROM arms
              UNION ALL
              SELECT tool, g - INTERVAL 30 MINUTE AS window_start FROM arms
            )
            SELECT window_start,
                   window_start + INTERVAL 1 HOUR AS window_end,
                   tool, count(*) AS turn_count
            FROM starts GROUP BY 1, 2, 3
        """,
        "window_session": f"""
            {t},
            ordered AS (
              SELECT conv_id, ts, turn_idx,
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                          THEN 1 ELSE 0 END AS new_s
              FROM transcripts
              WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
            ),
            sess AS (
              SELECT *, sum(new_s) OVER (
                PARTITION BY conv_id ORDER BY ts, turn_idx
                ROWS UNBOUNDED PRECEDING) AS sid
              FROM ordered
            )
            SELECT conv_id, min(ts) AS session_start,
                   count(*) AS n_turns,
                   min(turn_idx) AS first_turn, max(turn_idx) AS last_turn
            FROM sess GROUP BY conv_id, sid
        """,
        "top_convs": f"""
            {t},
            counts AS (
              SELECT conv_id, count(*) AS n_turns
              FROM transcripts GROUP BY 1
            )
            SELECT conv_id, n_turns, rank FROM (
              SELECT conv_id, n_turns,
                     CAST(row_number() OVER (
                       ORDER BY n_turns DESC, conv_id ASC) AS INT) AS rank
              FROM counts
            ) WHERE rank <= 10
        """,
        "dedup_exact": f"""
            WITH docs AS ({sqltext.DOCS_AUG_SQL})
            SELECT md5(text) AS fp, min(id) AS keep_id, count(*) AS n_copies
            FROM docs GROUP BY 1
        """,
        "dedup_minhash_lsh": mh_pairs,
        "dedup_groups": cc_groups + "SELECT id, grp FROM grouped",
        "corpus_curation": cc_groups + f""",
            docs3 AS ({sqltext.DOCS_AUG_SQL}),
            kept AS (
              SELECT d.id, d.text FROM docs3 d
              LEFT JOIN grouped g ON g.id = d.id AND g.id != g.grp
              WHERE g.id IS NULL
            ),
            feat0 AS (
              SELECT id, text, {sqltext.WORDS_EXPR} AS w,
                     CAST(length(lower(trim(text))) AS INT) AS n_chars,
                     length(regexp_replace(lower(trim(text)), '[a-z0-9 ]', '', 'g')) AS punct
              FROM kept
            ),
            feat AS (
              SELECT id, CAST(len(w) AS INT) AS n_tokens,
                     round(least(1.0, CAST(len(w) AS DOUBLE) / 64.0) *
                           (1.0 - round(CAST(punct AS DOUBLE) / n_chars, 6)),
                           6) AS quality,
                     len(list_filter(w, x -> x IN ('the', 'of', 'and'))) AS h_en,
                     len(list_filter(w, x -> x IN ('el', 'la', 'de'))) AS h_es,
                     len(list_filter(w, x -> x IN ('der', 'die', 'und'))) AS h_de,
                     len(list_filter(w, x -> x IN ('le', 'la', 'et'))) AS h_fr,
                     len(list_filter(w, x -> x IN ('的', '是', '了'))) AS h_zh
              FROM feat0
            ),
            langed AS (
              SELECT id, n_tokens, quality,
                     CASE WHEN m = 0 THEN 'und'
                          WHEN h_en = m THEN 'en' WHEN h_es = m THEN 'es'
                          WHEN h_de = m THEN 'de' WHEN h_fr = m THEN 'fr'
                          ELSE 'zh' END AS lang_guess
              FROM (SELECT *, greatest(h_en, h_es, h_de, h_fr, h_zh) AS m
                    FROM feat)
            )
            SELECT lang_guess, count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                   round(CAST(sum(CAST(quality AS DECIMAL(10,6))) AS DOUBLE)
                         / count(*), 4) AS avg_quality
            FROM langed WHERE quality >= 0.5 GROUP BY lang_guess
        """,
        "dedup_survivors": cc_groups + f""",
            docs2 AS ({sqltext.DOCS_AUG_SQL})
            SELECT d.id FROM docs2 d
            LEFT JOIN grouped g ON g.id = d.id AND g.id != g.grp
            WHERE g.id IS NULL
        """,
        "dedup_ngram_jaccard": f"""
            WITH docs AS ({sqltext.DOCS_AUG_SQL}),
            sh AS (
              SELECT id, {sqltext.SHINGLES_EXPR} AS sh
              FROM (SELECT id, {sqltext.WORDS_EXPR} AS w, text FROM docs)
            ),
            posting AS (
              SELECT id, len(sh) AS n_sh, unnest(sh) AS s FROM sh
            ),
            hot AS (
              SELECT s FROM posting GROUP BY s HAVING count(*) > 1000
            ),
            posting2 AS (
              SELECT * FROM posting WHERE s NOT IN (SELECT s FROM hot)
            ),
            inter AS (
              SELECT a.id AS id_a, b.id AS id_b,
                     a.n_sh AS na, b.n_sh AS nb, count(*) AS inter
              FROM posting2 a JOIN posting2 b ON a.s = b.s AND a.id < b.id
              GROUP BY 1, 2, 3, 4
            )
            SELECT id_a, id_b, jaccard FROM (
              SELECT id_a, id_b,
                     round(inter / (na + nb - inter), 6) AS jaccard
              FROM inter
            ) WHERE jaccard >= 0.8
        """,
        "dedup_simhash": f"""
            WITH docs AS ({sqltext.DOCS_AUG_SQL}),
            words AS (SELECT id, {sqltext.WORDS_EXPR} AS w FROM docs),
            sig AS ({sqltext.SIMHASH_SIG_SQL}),
            banded AS (
              SELECT id, sh, CAST(b AS INT) AS band,
                     substring(sh, b*16 + 1, 16) AS key
              FROM sig, (SELECT unnest(generate_series(0, 3)) AS b)
            )
            SELECT DISTINCT id_a, id_b, hamming FROM (
              SELECT a.id AS id_a, b.id AS id_b,
                     CAST(list_sum(list_transform(generate_series(1, 64), i ->
                       CASE WHEN substring(a.sh, i, 1) != substring(b.sh, i, 1)
                            THEN 1 ELSE 0 END)) AS INT) AS hamming
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.key = b.key AND a.id < b.id
            ) WHERE hamming <= 3
        """,
        "dedup_embedding": f"""
            WITH emb AS ({sqltext.EMB_AUG_SQL})
            SELECT id_a, id_b, cos FROM (
              SELECT a.id AS id_a, b.id AS id_b,
                     round(list_dot_product(a.v, b.v) /
                           (sqrt(list_dot_product(a.v, a.v)) *
                            sqrt(list_dot_product(b.v, b.v))), 4) AS cos
              FROM emb a JOIN emb b ON a.label = b.label AND a.id < b.id
            ) WHERE cos >= 0.99
        """,
        "kmeans_cells": sqltext.kmeans_cells_cte()
        + "SELECT vec_id, cell FROM kcells",
        "kmeans_cells_sampled": sqltext.kmeans_cells_cte(train_cap=200)
        + "SELECT vec_id, cell FROM kcells",
        "dedup_embedding_kmeans": sqltext.kmeans_cells_cte(
            emb_sql=f"SELECT id AS vec_id, v FROM ({sqltext.EMB_AUG_SQL})"
        )
        + """,
            cellv AS (
              SELECT e.vec_id AS id, kc.cell, e.v
              FROM emb e JOIN kcells kc USING (vec_id)
            )
            SELECT id_a, id_b, cos FROM (
              SELECT a.id AS id_a, b.id AS id_b,
                     round(list_dot_product(a.v, b.v) /
                           (sqrt(list_dot_product(a.v, a.v)) *
                            sqrt(list_dot_product(b.v, b.v))), 4) AS cos
              FROM cellv a JOIN cellv b ON a.cell = b.cell AND a.id < b.id
            ) WHERE cos >= 0.99
        """,
        "ann_ivf_kmeans": sqltext.kmeans_cells_cte()
        + """,
            q AS (
              SELECT e.vec_id AS query_id, kc.cell AS qcell,
                     CAST(e.embedding AS DOUBLE[]) AS qv
              FROM embeddings e JOIN kcells kc USING (vec_id)
              WHERE e.vec_id < 10
            ),
            c AS (
              SELECT e.vec_id AS nbr_id, kc.cell AS cell,
                     CAST(e.embedding AS DOUBLE[]) AS cv
              FROM embeddings e JOIN kcells kc USING (vec_id)
            ),
            scored AS (
              SELECT query_id, nbr_id,
                     round(list_dot_product(qv, cv) /
                           (sqrt(list_dot_product(qv, qv)) *
                            sqrt(list_dot_product(cv, cv))), 4) AS cos
              FROM c JOIN q ON cell = qcell AND query_id != nbr_id
            ),
            ranked AS (
              SELECT *, CAST(row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS INT) AS rank
              FROM scored
            )
            SELECT query_id, rank, nbr_id, cos FROM ranked WHERE rank <= 5
        """,
        "embedding_quantize": """
            WITH v AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                     list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                             x -> abs(x))) / 127.0 AS q_scale
            FROM embeddings
            )
            SELECT vec_id, round(q_scale, 6) AS q_scale,
                   array_to_string(
                     CASE WHEN q_scale = 0
                          THEN list_transform(v, x -> CAST(0 AS INT))
                          ELSE list_transform(v, x -> CAST(CAST(
                                 round(x / q_scale, 0) AS TINYINT) AS INT)) END,
                     ',') AS q_vec_csv
            FROM v
        """,
        "ann_quantized_recall": """
            WITH base AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                     list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                             x -> abs(x))) / 127.0 AS q_scale
              FROM embeddings
            ),
            qz AS (
              SELECT vec_id,
                     CASE WHEN q_scale = 0
                          THEN list_transform(v, x -> CAST(0 AS DOUBLE))
                          ELSE list_transform(v, x ->
                                 CAST(CAST(round(x / q_scale, 0) AS TINYINT)
                                      AS DOUBLE)) END AS qv
              FROM base
            ),
            exact AS (
              SELECT query_id, nbr_id FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
                       row_number() OVER (PARTITION BY q.vec_id ORDER BY
                         round(list_dot_product(q.v, c.v) /
                               (sqrt(list_dot_product(q.v, q.v)) *
                                sqrt(list_dot_product(c.v, c.v))), 4) DESC,
                         c.vec_id ASC) AS rn
                FROM base c JOIN base q
                  ON q.vec_id < 10 AND q.vec_id != c.vec_id
              ) WHERE rn <= 5
            ),
            quant AS (
              SELECT query_id, nbr_id FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
                       row_number() OVER (PARTITION BY q.vec_id ORDER BY
                         round(list_dot_product(q.qv, c.qv) /
                               (sqrt(list_dot_product(q.qv, q.qv)) *
                                sqrt(list_dot_product(c.qv, c.qv))), 4) DESC,
                         c.vec_id ASC) AS rn
                FROM qz c JOIN qz q
                  ON q.vec_id < 10 AND q.vec_id != c.vec_id
              ) WHERE rn <= 5
            ),
            hits AS (
              SELECT e.query_id, count(*) AS n_hits
              FROM exact e JOIN quant t
                ON e.query_id = t.query_id AND e.nbr_id = t.nbr_id
              GROUP BY e.query_id
            )
            SELECT k.query_id, k.k,
                   COALESCE(h.n_hits, 0) AS n_hits,
                   round(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / k.k, 4)
                     AS recall
            FROM (SELECT query_id, count(*) AS k FROM exact GROUP BY query_id) k
            LEFT JOIN hits h ON h.query_id = k.query_id
        """,
        "ann_lsh": f"""
            WITH b AS (
              SELECT vec_id, v,
                     {_lsh_bucket_sql("v", _lsh_planes_64_6())} AS bkt
              FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings)
            ),
            scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
                     round(list_dot_product(q.v, c.v) /
                           (sqrt(list_dot_product(q.v, q.v)) *
                            sqrt(list_dot_product(c.v, c.v))), 4) AS cos
              FROM b c JOIN b q
                ON c.bkt = q.bkt AND q.vec_id < 10 AND q.vec_id != c.vec_id
            ),
            ranked AS (
              SELECT *, CAST(row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS INT) AS rank
              FROM scored
            )
            SELECT query_id, rank, nbr_id, cos FROM ranked WHERE rank <= 5
        """,
        "ann_ivf_probe2": sqltext.kmeans_cells_cte()
        + """,
            qprobe AS (
              SELECT vec_id AS query_id, cell AS qcell FROM (
                SELECT vec_id, cell,
                       row_number() OVER (
                         PARTITION BY vec_id ORDER BY d2, cell) AS rn
                FROM d1
              ) WHERE rn <= 2 AND vec_id < 10
            ),
            q AS (
              SELECT p.query_id, p.qcell, CAST(e.embedding AS DOUBLE[]) AS qv
              FROM qprobe p JOIN embeddings e ON e.vec_id = p.query_id
            ),
            c AS (
              SELECT e.vec_id AS nbr_id, kc.cell AS cell,
                     CAST(e.embedding AS DOUBLE[]) AS cv
              FROM embeddings e JOIN kcells kc USING (vec_id)
            ),
            scored AS (
              SELECT query_id, nbr_id,
                     round(list_dot_product(qv, cv) /
                           (sqrt(list_dot_product(qv, qv)) *
                            sqrt(list_dot_product(cv, cv))), 4) AS cos
              FROM c JOIN q ON cell = qcell AND query_id != nbr_id
            ),
            ranked AS (
              SELECT *, CAST(row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS INT) AS rank
              FROM scored
            )
            SELECT query_id, rank, nbr_id, cos FROM ranked WHERE rank <= 5
        """,
        "ann_recall": """
            WITH q AS (
              SELECT vec_id AS query_id, label AS qcell,
                     CAST(embedding AS DOUBLE[]) AS qv
              FROM embeddings WHERE vec_id < 10
            ),
            c AS (
              SELECT vec_id AS nbr_id, label AS cell,
                     CAST(embedding AS DOUBLE[]) AS cv
              FROM embeddings
            ),
            exact AS (
              SELECT query_id, nbr_id FROM (
                SELECT query_id, nbr_id, row_number() OVER (
                  PARTITION BY query_id ORDER BY
                    round(list_dot_product(qv, cv) /
                          (sqrt(list_dot_product(qv, qv)) *
                           sqrt(list_dot_product(cv, cv))), 4) DESC,
                    nbr_id ASC) AS rank
                FROM c, q WHERE query_id != nbr_id
              ) WHERE rank <= 5
            ),
            ivf AS (
              SELECT query_id, nbr_id FROM (
                SELECT query_id, nbr_id, row_number() OVER (
                  PARTITION BY query_id ORDER BY
                    round(list_dot_product(qv, cv) /
                          (sqrt(list_dot_product(qv, qv)) *
                           sqrt(list_dot_product(cv, cv))), 4) DESC,
                    nbr_id ASC) AS rank
                FROM c JOIN q ON cell = qcell AND query_id != nbr_id
              ) WHERE rank <= 5
            ),
            hits AS (
              SELECT e.query_id, count(*) AS n_hits
              FROM exact e JOIN ivf i
                ON e.query_id = i.query_id AND e.nbr_id = i.nbr_id
              GROUP BY 1
            )
            SELECT ks.query_id, ks.k,
                   COALESCE(h.n_hits, 0) AS n_hits,
                   round(COALESCE(h.n_hits, 0) / ks.k, 4) AS recall
            FROM (SELECT query_id, count(*) AS k FROM exact GROUP BY 1) ks
            LEFT JOIN hits h USING (query_id)
        """,
        "latency_histogram": f"""
            {p}
            SELECT tool,
                   CASE WHEN latency_ms < 0 THEN '<0'
                        WHEN latency_ms < 10 THEN '[0,10)'
                        WHEN latency_ms < 50 THEN '[10,50)'
                        WHEN latency_ms < 100 THEN '[50,100)'
                        WHEN latency_ms < 500 THEN '[100,500)'
                        WHEN latency_ms < 1000 THEN '[500,1000)'
                        WHEN latency_ms < 5000 THEN '[1000,5000)'
                        ELSE '>=5000' END AS bucket,
                   count(*) AS n,
                   round(avg(latency_ms), 4) AS avg_ms
            FROM parsed WHERE latency_ms IS NOT NULL
            GROUP BY 1, 2
        """,
        "ann_topk": """
            WITH q AS (
              SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
              FROM embeddings WHERE vec_id < 10
            ),
            c AS (
              SELECT vec_id AS nbr_id, CAST(embedding AS DOUBLE[]) AS cv
              FROM embeddings
            ),
            scored AS (
              SELECT query_id, nbr_id,
                     round(list_dot_product(qv, cv) /
                           (sqrt(list_dot_product(qv, qv)) *
                            sqrt(list_dot_product(cv, cv))), 4) AS cos
              FROM c, q WHERE query_id != nbr_id
            ),
            ranked AS (
              SELECT *, CAST(row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS INT) AS rank
              FROM scored
            )
            SELECT query_id, rank, nbr_id, cos FROM ranked WHERE rank <= 5
        """,
        "ann_ivf": """
            WITH q AS (
              SELECT vec_id AS query_id, label AS qcell,
                     CAST(embedding AS DOUBLE[]) AS qv
              FROM embeddings WHERE vec_id < 10
            ),
            c AS (
              SELECT vec_id AS nbr_id, label AS cell,
                     CAST(embedding AS DOUBLE[]) AS cv
              FROM embeddings
            ),
            scored AS (
              SELECT query_id, nbr_id,
                     round(list_dot_product(qv, cv) /
                           (sqrt(list_dot_product(qv, qv)) *
                            sqrt(list_dot_product(cv, cv))), 4) AS cos
              FROM c JOIN q ON cell = qcell AND query_id != nbr_id
            ),
            ranked AS (
              SELECT *, CAST(row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS INT) AS rank
              FROM scored
            )
            SELECT query_id, rank, nbr_id, cos FROM ranked WHERE rank <= 5
        """,
        "text_metrics": f"""
            WITH tm_base AS (
              SELECT doc_id, lang, text, {sqltext.WORDS_EXPR} AS w
              FROM documents
            ),
            tm_feat AS (
              SELECT doc_id, lang, text, w,
                     CAST(length(lower(trim(text))) AS INT) AS n_chars_norm,
                     CAST(len(w) AS INT) AS n_tokens,
                     length(regexp_replace(lower(trim(text)), '[a-z0-9 ]', '', 'g')) AS punct,
                     len(list_filter(w, x -> x IN
                       ('the', 'a', 'of', 'and', 'to', 'in', 'is'))) AS stop_hits,
                     len(list_filter(w, x -> x IN ('the', 'of', 'and'))) AS h_en,
                     len(list_filter(w, x -> x IN ('el', 'la', 'de'))) AS h_es,
                     len(list_filter(w, x -> x IN ('der', 'die', 'und'))) AS h_de,
                     len(list_filter(w, x -> x IN ('le', 'la', 'et'))) AS h_fr,
                     len(list_filter(w, x -> x IN ('的', '是', '了'))) AS h_zh
              FROM tm_base
            ),
            tm_m AS (
              SELECT *, greatest(h_en, h_es, h_de, h_fr, h_zh) AS m
              FROM tm_feat
            )
            SELECT doc_id,
                   n_tokens,
                   CAST(ceil(length(lower(trim(text))) / 4.0) AS BIGINT) AS n_subwords_est,
                   n_chars_norm,
                   round(CAST(n_chars_norm AS DOUBLE) / n_tokens, 6) AS avg_word_len,
                   round(CAST(punct AS DOUBLE) / n_chars_norm, 6) AS punct_ratio,
                   round(CAST(stop_hits AS DOUBLE) / n_tokens, 6) AS stopword_ratio,
                   round(least(1.0, CAST(n_tokens AS DOUBLE) / 64.0) *
                         (1.0 - round(CAST(punct AS DOUBLE) / n_chars_norm, 6)), 6) AS quality,
                   lang,
                   CASE WHEN m = 0 THEN 'und'
                        WHEN h_en = m THEN 'en' WHEN h_es = m THEN 'es'
                        WHEN h_de = m THEN 'de' WHEN h_fr = m THEN 'fr'
                        ELSE 'zh' END AS lang_guess,
                   CAST(m AS INT) AS lang_guess_hits,
                   md5(lower(trim(text))) AS fp_exact,
                   md5(array_to_string(list_sort(list_distinct(w)), ' ')) AS fp_bag,
                   list_reduce(
                     list_prepend(CAST(0 AS BIGINT),
                       list_transform(w, x ->
                         CAST(concat('0x', substring(md5(x), 1, 8)) AS BIGINT)
                           % 2147483647)),
                     (acc, x) -> (acc * 1000003 + x) % 2147483647) AS fp_roll
            FROM tm_m
        """,
        "repetition": f"""
            WITH g AS (
              SELECT doc_id, w,
                     list_transform(generate_series(0, greatest(len(w) - 2, 0)),
                                    i -> concat_ws(' ', w[i+1], w[i+2])) AS grams
              FROM (SELECT doc_id, {sqltext.WORDS_EXPR} AS w FROM documents)
            ),
            gg AS (
              SELECT doc_id, CAST(len(w) AS INT) AS n_words,
                     len(grams) AS n_2grams,
                     len(list_distinct(grams)) AS n_uniq, w
              FROM g
            ),
            wc AS (
              SELECT doc_id, n_words, n_2grams, n_uniq, word, count(*) AS c
              FROM (SELECT doc_id, n_words, n_2grams, n_uniq,
                           unnest(w) AS word FROM gg)
              GROUP BY 1, 2, 3, 4, 5
            ),
            top AS (
              SELECT doc_id, n_words, n_2grams, n_uniq, max(c) AS top_word_n
              FROM wc GROUP BY 1, 2, 3, 4
            )
            SELECT doc_id, n_words,
                   round(CAST(n_2grams - n_uniq AS DOUBLE) / n_2grams, 6)
                     AS dup_2gram_frac,
                   round(CAST(top_word_n AS DOUBLE) / n_words, 6)
                     AS top_word_frac,
                   CAST((n_2grams - n_uniq) * 5 >= n_2grams
                        OR top_word_n * 5 >= n_words * 2 AS INT)
                     AS flag_repetitive
            FROM top
        """,
        "decontaminate": f"""
            WITH docs AS ({sqltext.DOCS_AUG_SQL}),
            corpus AS (
              SELECT * FROM docs WHERE NOT (id < 1000000 AND id % 13 = 3)
            ),
            bench AS (
              SELECT lower(trim(text)) AS text FROM documents
              WHERE doc_id % 13 = 3
            ),
            bsh AS (
              SELECT DISTINCT unnest(sh) AS s
              FROM (SELECT {sqltext.SHINGLES_EXPR} AS sh
                    FROM (SELECT {sqltext.WORDS_EXPR} AS w, text FROM bench))
            ),
            csh AS (
              SELECT id, CAST(len(sh) AS INT) AS n_shingles, unnest(sh) AS s
              FROM (SELECT id, {sqltext.SHINGLES_EXPR} AS sh
                    FROM (SELECT id, {sqltext.WORDS_EXPR} AS w, text FROM corpus))
            )
            SELECT id, n_shingles, count(*) AS n_overlap,
                   CAST(count(*) * 2 >= n_shingles AS INT) AS flag_contaminated
            FROM csh JOIN bsh USING (s)
            GROUP BY id, n_shingles
        """,
        "redact_pii": f"""
            WITH spiced AS (
              SELECT doc_id AS id,
                     CASE WHEN doc_id % 11 = 0
                          THEN lower(trim(text)) || '{_PII_SPICE}'
                          ELSE lower(trim(text)) END AS text
              FROM documents
            ),
            -- counts mirror the operator: each category is counted on
            -- the PROGRESSIVELY-redacted string (just before its own
            -- replace), so a match an earlier pattern swallowed is not
            -- re-counted in a later category
            s1 AS (
              SELECT id, text,
                     CAST(len(regexp_extract_all(text, '{textstats_mod.PII_EMAIL}')) AS INT) AS n_emails,
                     regexp_replace(text, '{textstats_mod.PII_EMAIL}', '<email>', 'g') AS t1
              FROM spiced
            ),
            s2 AS (
              SELECT id, n_emails,
                     CAST(len(regexp_extract_all(t1, '{textstats_mod.PII_IP}')) AS INT) AS n_ips,
                     regexp_replace(t1, '{textstats_mod.PII_IP}', '<ip>', 'g') AS t2
              FROM s1
            )
            SELECT id,
                   regexp_replace(t2, '{textstats_mod.PII_PHONE}', '<phone>', 'g') AS redacted,
                   n_emails, n_ips,
                   CAST(len(regexp_extract_all(t2, '{textstats_mod.PII_PHONE}')) AS INT) AS n_phones
            FROM s2
        """,
        "top_ngrams": f"""
            WITH sh AS (
              SELECT {sqltext.SHINGLES_EXPR} AS sh
              FROM (SELECT {sqltext.WORDS_EXPR} AS w, text FROM documents)
            )
            SELECT gram, count(*) AS n
            FROM (SELECT unnest(sh) AS gram FROM sh)
            GROUP BY gram ORDER BY n DESC, gram LIMIT 50
        """,
        "chunk_docs": f"""
            WITH d AS (
              SELECT doc_id, {sqltext.WORDS_EXPR} AS w FROM documents
            ),
            c AS (
              SELECT doc_id, w,
                     greatest(CAST(ceil((len(w) - 4) / 28.0) AS BIGINT), 1)
                       AS n_chunks
              FROM d
            )
            SELECT doc_id, CAST(i AS INT) AS chunk_idx,
                   array_to_string(w[i*28 + 1 : i*28 + 32], ' ') AS chunk_text,
                   CAST(len(w[i*28 + 1 : i*28 + 32]) AS INT) AS n_chunk_tokens
            FROM c, UNNEST(generate_series(0, n_chunks - 1)) AS t(i)
        """,
        "pack_sequences": f"""
            WITH d AS (
              SELECT doc_id, CAST(len({sqltext.WORDS_EXPR}) AS BIGINT) AS n_tokens
              FROM documents
            ),
            s AS (
              -- DuckDB's windowed sum(BIGINT) widens to HUGEINT, which the
              -- driver fetches as float64; CAST back to BIGINT so the value
              -- hash matches Spark's bigint (values are bit-identical).
              SELECT doc_id, n_tokens,
                     CAST(sum(n_tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - n_tokens AS BIGINT) AS start_offset
              FROM d
            )
            SELECT doc_id, n_tokens, start_offset,
                   CAST(floor(start_offset / 256.0) AS BIGINT) AS seq_id,
                   CAST(CAST(floor((start_offset + n_tokens - 1) / 256.0) AS BIGINT)
                        > CAST(floor(start_offset / 256.0) AS BIGINT) AS INT)
                     AS straddles
            FROM s
        """,
    }
