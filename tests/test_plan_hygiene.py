"""Physical-plan hygiene: the shapes the 100 TB argument rests on,
asserted from explain() output so regressions are caught at test time
(the bench only shows them as slowdowns)."""

from __future__ import annotations

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_top_convs_plans_distributed_topk(spark, sf_dir):
    """top_conversations must plan TakeOrderedAndProject (distributed
    per-partition top-k) and NO WindowExec — the round-1 global-window
    scale-killer stays dead."""
    from opentelemetry_collector_spark.operators.windows import top_conversations
    from opentelemetry_collector_spark.sources import derive_transcripts

    plan = _plan(top_conversations(derive_transcripts(spark, sf_dir), 10))
    assert "TakeOrderedAndProject" in plan
    assert "WindowExec" not in plan and "Window " not in plan


def test_enrich_join_is_broadcast_in_flagship_plan(spark, sf_dir):
    from opentelemetry_collector_spark.operators import enrich as enrich_ops
    from opentelemetry_collector_spark.operators import parse as parse_ops
    from opentelemetry_collector_spark.sources import (
        derive_transcripts,
        role_lookup_df,
        tool_lookup_df,
    )

    df = enrich_ops.enrich_stage(
        parse_ops.parse_stage(derive_transcripts(spark, sf_dir)),
        tool_lookup_df(spark),
        role_lookup_df(spark),
    )
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_proto_size_stays_in_codegen(spark, sf_dir):
    """The proto sizer must be pure codegen'd column math — no
    BatchEvalPython / ArrowEvalPython anywhere in its plan."""
    import __spark_entry__ as m

    plan = _plan(m.q_proto_size(spark, sf_dir))
    # the sizer itself adds no Python eval node and no aggregation —
    # it rides the projection over the (derived-transcripts) scan. AQE
    # wraps the plan so codegen spans aren't printed until execution;
    # absence of EvalPython is the property that matters.
    assert "EvalPython" not in plan
    assert "Scan parquet" in plan


def test_ann_rank_is_two_level_bounded(spark, sf_dir):
    """The ANN per-query rank must be the two-level salted form: a local
    window partitioned by (query_id, salt bucket) with a k-filter before
    the final per-query window — never ONE unbounded per-query sort.
    Asserted for both the brute-force baseline and the IVF probe."""
    from pyspark.sql import functions as F

    from opentelemetry_collector_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3)
    for df in (
        similarity.brute_force_topk(emb, q),
        similarity.ivf_topk(emb, q),
    ):
        plan = _plan(df)
        # two window levels, the first partitioned by the salt bucket
        assert plan.count("windowspecdefinition") >= 2, plan[:2000]
        assert "_b" in plan, "local window lost its salt bucket key"
        assert "_lr" in plan, "local k-filter missing"


def test_kmeans_train_sample_plans_bounded_topk(spark, sf_dir):
    """The k-means training sample must plan TakeOrderedAndProject
    (bounded per-partition top-k merge) — not a global sort — so the
    centroid iterations are capped by train_cap, not corpus size."""
    from pyspark.sql import functions as F

    from opentelemetry_collector_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    plan = _plan(similarity._train_sample(emb, "vec_id", vec, 200))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no global SortExec


def test_rollup_is_one_pass_with_partial_agg(spark, sf_dir):
    """The multi-grain rollup must plan ONE Expand + two-phase hash
    aggregate — all grains in a single pass over the data, not one job
    per grain."""
    import __spark_entry__ as m

    plan = _plan(m.queries()["rollup_accounting"](spark, sf_dir))
    assert "Expand" in plan
    assert "partial_count" in plan or "partial" in plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    """Projection pruning must reach the parquet scan: a 2-column query
    over documents reads exactly (doc_id, text) — not the full schema.
    The property that keeps a 100 TB scan from reading bytes the query
    never touches."""
    from opentelemetry_collector_spark.operators import textstats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = textstats.token_count(docs).select("doc_id", "n_tokens", "n_subwords_est")
    plan = _plan(q)
    scan = next(ln for ln in plan.splitlines() if "ReadSchema" in ln)
    schema = scan.split("ReadSchema:")[1]
    assert "doc_id" in schema and "text" in schema
    assert "lang" not in schema and "source" not in schema  # unused cols


def test_lineage_aggregation_is_partial(spark, sf_dir):
    """logical_lineage must plan a two-phase hash aggregate (map-side
    partial_count/partial_sum before the shuffle)."""
    import __spark_entry__ as m

    plan = _plan(m.q_lineage(spark, sf_dir))
    assert "HashAggregate" in plan
    assert "partial_count" in plan or "partial" in plan


def test_decontaminate_broadcasts_benchmark_side(spark, sf_dir):
    """The decontamination probe must be a map-side broadcast hash join
    (the eval-suite shingle set is tiny next to a 100 TB corpus) — a
    shuffled sort-merge join here would re-shuffle the whole corpus on
    shingle strings."""
    import __spark_entry__ as m

    plan = _plan(m.queries()["decontaminate"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_top_ngrams_plans_distributed_topk(spark, sf_dir):
    """Corpus-wide top-k shingle frequencies must plan
    TakeOrderedAndProject (per-partition top-k + driver merge), never a
    global sort of every distinct shingle."""
    import __spark_entry__ as m

    plan = _plan(m.queries()["top_ngrams"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    # executed plans print sort nodes as "Sort [" — "SortExec" never
    # appears in toString(), so match the printed form
    assert "Sort " not in plan


def test_pack_sequences_window_is_shard_partitioned(spark, sf_dir):
    """The packing prefix sum must run inside shard-partitioned window
    partitions — an unpartitioned running sum would put the whole
    corpus in one task."""
    import __spark_entry__ as m

    plan = _plan(m.queries()["pack_sequences"](spark, sf_dir))
    assert "windowspecdefinition(_shard" in plan


def test_repetition_aggregations_are_partial(spark, sf_dir):
    """The top-word mode must map-side combine both aggregation levels
    (per-(doc, word) count and per-doc max)."""
    import __spark_entry__ as m

    plan = _plan(m.queries()["repetition"](spark, sf_dir))
    assert "partial_count" in plan
    assert "partial_max" in plan


def test_gauge_last_is_partial_agg_no_window(spark, sf_dir):
    """gauge_last must plan a partial-aggregated max_by (map-side
    combine) and NO WindowExec — last-value aggregation never sorts the
    stream."""
    import __spark_entry__ as m

    plan = _plan(m.q_metric_gauge_last(spark, str(sf_dir)))
    assert "partial_max_by" in plan or "partial_" in plan, plan
    assert "WindowExec" not in plan


def test_temporality_windows_partition_by_stream(spark, sf_dir):
    """Both temporality conversions must plan windows PARTITIONED by
    the stream key (conv_id) — per-stream state stays in its partition;
    a global (unpartitioned) window would single-task at scale."""
    import __spark_entry__ as m

    import re

    plan = _plan(m.q_metric_temporality(spark, str(sf_dir)))
    # every window spec must be partitioned by a stream key — conv_id
    # for the conversions, user_id for the upstream transcript
    # derivation; a spec with NO stream key is a global single-task sort
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan
    for s in specs:
        assert "conv_id" in s or "user_id" in s, (s, plan[:500])


def test_profile_dictionary_joins_are_small_side(spark, sf_dir):
    """The profile resolution path joins samples against dictionary
    tables; the dictionary sides are tiny and must come in as broadcast
    (or stay sub-shuffle-size) — assert no CartesianProduct and that
    the resolve plan still runs whole-stage codegen."""
    import __spark_entry__ as m

    df = m.q_profile_samples(spark, str(sf_dir))
    df.collect()  # finalize the adaptive plan (AQE re-plans at runtime)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # dictionary sides come in broadcast


def test_span_links_window_partitioned_by_conv(spark, sf_dir):
    import re

    import __spark_entry__ as m

    plan = _plan(m.q_span_links(spark, str(sf_dir)))
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    # link resolution windows partition by conv_id; the upstream
    # transcript derivation's own window partitions by user_id — no
    # spec may be stream-key-free (global single-task sort)
    assert specs and all(
        "conv_id" in s or "user_id" in s for s in specs
    ), plan[:800]


def test_accounting_plan_reads_only_what_it_aggregates(spark, sf_dir, jobs_of):
    """parse → good side of quarantine_split → enrich → route →
    hourly_sink_accounting: the aggregate reads no lookup column, so
    Catalyst removes both enrich joins (each lookup is unique on its
    key), and the parse_ok filter scans the seq and status regexes once
    each per row."""
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

    good, _ = parse_ops.quarantine_split(
        parse_ops.parse_stage(derive_transcripts(spark, sf_dir))
    )
    agg = agg_ops.hourly_sink_accounting(
        route_ops.route_stage(
            enrich_ops.enrich_stage(good, tool_lookup_df(spark), role_lookup_df(spark))
        )
    )
    opt = agg._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in opt, opt
    assert opt.count(sqltext.RE_SEQ) == 1, opt
    assert opt.count(sqltext.RE_STATUS) == 1, opt
    n = jobs_of(
        "accounting-plan", lambda: agg.write.format("noop").mode("overwrite").save()
    )
    assert n == 3
