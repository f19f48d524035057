"""Bucket/cell cardinality guards on the dedup candidate joins.

A degenerate corpus (many near-identical docs hashing to one band key /
one cell) makes the within-bucket self-join quadratic; the caps bound
candidate counts and must (a) fire on degenerate input, (b) never fire
at oracle scale (sf0.01 corpora — the oracle parity suite covers that
side). Mirrors the posting-list cap the n-gram path always had
(ngram_jaccard_pairs, dedup.NGRAM_MAX_POSTING).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from opentelemetry_collector_spark.operators import aggregate as agg_ops
from opentelemetry_collector_spark.operators import dedup


def _degenerate_docs(spark, n=40):
    # identical text ⇒ every doc shares every LSH/SimHash band bucket
    return spark.range(n).select(
        F.col("id").cast("string").alias("doc_id"),
        F.lit("the same templated document body repeated verbatim").alias("text"),
    )


def test_lsh_cap_bounds_candidates(spark):
    docs = _degenerate_docs(spark)
    uncapped = dedup.minhash_lsh_pairs(docs, max_bucket=0)  # 0 = disabled
    assert uncapped.count() == 40 * 39 // 2
    capped = dedup.minhash_lsh_pairs(docs, max_bucket=10)
    assert capped.count() == 0
    dedup.release_cached()


def test_simhash_cap_bounds_candidates(spark):
    docs = _degenerate_docs(spark)
    uncapped = dedup.simhash_pairs(docs, max_bucket=0)
    assert uncapped.count() == 40 * 39 // 2
    capped = dedup.simhash_pairs(docs, max_bucket=10)
    assert capped.count() == 0
    dedup.release_cached()


def test_embedding_cell_cap(spark):
    rows = [(str(i), "hot", [1.0, 0.0, 0.0]) for i in range(30)] + [
        ("a", "cold", [0.0, 1.0, 0.0]),
        ("b", "cold", [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id string, label string, embedding array<float>")
    pairs = dedup.embedding_neardup_pairs(df, max_cell=10)
    # hot cell dropped entirely; cold cell (2 members) survives the cap
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {("a", "b")}
    dedup.release_cached()


def test_ivf_degenerate_cell_exact_and_cappable(spark):
    """All vectors in ONE cell (the worst hot-cell case): the two-level
    rank must still give exactly the brute-force answer (the probe sees
    the whole corpus), and max_cell must be able to shed the cell."""
    from opentelemetry_collector_spark.operators import similarity

    rows = [
        (i, "hot", [float((i * 7 + d * 3) % 11), float((i + d) % 5), 1.0])
        for i in range(60)
        for d in [0]
    ]
    df = spark.createDataFrame(rows, "vec_id int, label string, embedding array<float>")
    q = df.filter(F.col("vec_id") < 4)
    ivf = similarity.ivf_topk(df, q, k=3, fanout=8)
    bf = similarity.brute_force_topk(df, q, k=3, fanout=8)
    assert sorted(map(tuple, ivf.collect())) == sorted(map(tuple, bf.collect()))

    capped = similarity.ivf_topk(df, q, k=3, max_cell=10)
    assert capped.count() == 0  # hot cell shed, logged by _cap_buckets
    dedup.release_cached()


def test_connected_components_chain_and_forest(spark):
    """Min-label propagation must reach the true component minimum
    across a multi-hop chain (diameter > 1 forces several rounds) and
    keep disjoint components apart; survivors keep exactly the min-id
    representative plus untouched nodes."""
    pairs = spark.createDataFrame(
        [(2, 3), (3, 4), (4, 5), (10, 11), (20, 21), (21, 22)],
        "id_a bigint, id_b bigint",
    )
    got = {r["id"]: r["grp"] for r in dedup.connected_components(pairs).collect()}
    assert got == {2: 2, 3: 2, 4: 2, 5: 2, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}

    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in [1, 2, 3, 4, 5, 10, 11, 20, 21, 22]],
        "doc_id bigint, text string",
    )
    kept = sorted(
        r["doc_id"] for r in dedup.dedup_survivors(docs, pairs).collect()
    )
    assert kept == [1, 2, 10, 20]  # 1 untouched; 2/10/20 are representatives
    dedup.release_cached()


def test_connected_components_nonconvergence_is_surfaced(spark):
    """A diameter larger than max_iters must be machine-readable: stats
    reports converged=False, strict raises, and a converged run reports
    converged=True — silently returning an upper-bound grouping (which
    under-deduplicates downstream) is not allowed."""
    import pytest

    # 12-node path: diameter 11, round-0 fusion + 1 round cannot finish
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a bigint, id_b bigint"
    )
    stats: dict = {}
    dedup.connected_components(pairs, max_iters=1, stats=stats).collect()
    assert stats == {"converged": False, "rounds": 1}
    with pytest.raises(RuntimeError, match="no fixpoint"):
        dedup.connected_components(pairs, max_iters=1, strict=True).collect()
    stats = {}
    got = {
        r["id"]: r["grp"]
        for r in dedup.connected_components(pairs, stats=stats).collect()
    }
    assert stats["converged"] is True and 1 <= stats["rounds"] <= 25
    assert got == {i: 0 for i in range(13)}
    # lineage truncation: each round is localCheckpoint-ed, so the
    # result's plan is a flat scan over an RDD block, NOT a 12-deep
    # join tree (which grows geometrically in compile cost — the
    # pre-fix behavior was 115s/round and driver OOM on this graph)
    plan = dedup.connected_components(pairs)._jdf.queryExecution().toString()
    assert "ExistingRDD" in plan or "LogicalRDD" in plan
    assert plan.count("Join") <= 1
    dedup.release_cached()


def test_two_level_topk_equals_single_window_with_ties(spark):
    """_topk_per_query must be bit-identical to the plain single-window
    rank under heavy ties (the exactness argument depends on identical
    tie-breaking at both levels). Deterministic pseudo-random scores
    with a small value domain force collisions."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from opentelemetry_collector_spark.operators.similarity import _topk_per_query

    scored = (
        spark.range(3000)
        .select(
            (F.col("id") % 7).alias("query_id"),
            F.col("id").alias("nbr_id"),
            # 5-value score domain → massive ties
            (F.pmod(F.xxhash64("id"), F.lit(5)) / 10.0).alias("cos"),
        )
    )
    got = _topk_per_query(scored, k=4, fanout=8).collect()
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("nbr_id"))
    want = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 4)
        .select("query_id", "rank", "nbr_id", "cos")
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_release_cached_empties_registry(spark):
    docs = _degenerate_docs(spark, n=5)
    dedup.minhash_lsh_pairs(docs).count()
    assert dedup.release_cached() >= 1
    assert dedup.release_cached() == 0


def test_role_bit_nulls_match_count_distinct(spark):
    df = spark.createDataFrame(
        [("c1", None, "t", "x", 1), ("c1", None, "t", "x", 2),
         ("c2", "user", "t", "x", 1), ("c2", None, "t", "x", 2)],
        "conv_id string, role string, tool string, text string, turn_idx int",
    ).withColumn("ts", F.to_timestamp(F.lit("2025-01-01 00:00:00"))).withColumn(
        "route", F.lit("sink_default")
    )
    fast = {
        r.conv_id: r.distinct_roles
        for r in agg_ops.hourly_sink_accounting(df).collect()
    }
    # the exact reference: countDistinct over the same group-by
    exact = {
        r.conv_id: r.n
        for r in df.groupBy(
            "route", F.date_trunc("hour", F.col("ts")), "conv_id", "tool"
        ).agg(F.countDistinct("role").alias("n")).collect()
    }
    assert fast == exact == {"c1": 0, "c2": 1}


def test_connected_components_hard_graph(spark):
    """Cycles, bridges, and a clique — compared against a pure-Python
    union-find ground truth."""
    edges = [
        (1, 2), (2, 3), (3, 1),          # cycle
        (3, 50), (50, 4),                # bridge out of the cycle
        (100, 101), (101, 102), (100, 102), (102, 103),  # clique + tail
        (7, 8),
    ]
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        parent[find(a)] = find(b)

    for a, b in edges:
        union(a, b)
    truth = {n: min(m for m in parent if find(m) == find(n)) for n in parent}

    pairs = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    got = {r["id"]: r["grp"] for r in dedup.connected_components(pairs).collect()}
    assert got == truth
    dedup.release_cached()


def test_connected_components_string_ids(spark):
    """Non-numeric ids: the fixpoint detector must not rely on
    F.sum(label) (NULL for strings — it would 'converge' after one
    round); a multi-hop chain of string ids must still reach the
    lexicographic component minimum."""
    pairs = spark.createDataFrame(
        [("doc_b", "doc_c"), ("doc_c", "doc_d"), ("doc_d", "doc_e"),
         ("doc_e", "doc_f"), ("zzz_1", "zzz_2")],
        "id_a string, id_b string",
    )
    got = {r["id"]: r["grp"] for r in dedup.connected_components(pairs).collect()}
    assert got == {
        "doc_b": "doc_b", "doc_c": "doc_b", "doc_d": "doc_b",
        "doc_e": "doc_b", "doc_f": "doc_b",
        "zzz_1": "zzz_1", "zzz_2": "zzz_1",
    }
    dedup.release_cached()
