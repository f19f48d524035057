"""The dedup and similarity signature kernels against their DuckDB
oracles on adversarial edge texts (empty, multi-space, short, unicode),
the half-away rounding the vectorized kernels share with both engines,
and NULL inputs: a NULL text or vector must score NULL, never pair."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_spark import sqltext
from opentelemetry_collector_spark.operators import dedup

EDGE_TEXTS = [
    "",
    " ",
    "one",
    "two words",
    "exactly three words",
    "now four whole words",
    "  leading and   multi  space  ",
    "UPPER Case MiXeD",
    "unicode héllo wörld ünïcode",
    "repeat repeat repeat repeat repeat",
    "\u00df",  # ß
    "\u01c5",  # ǅ
]

# Lower-casing differs between Java (Spark), Python and DuckDB for these
# code points, so the signatures of single-character texts differ from
# DuckDB's. Open on ROADMAP; the xfails are strict so a fix shows up.
CASE_FOLD_DIVERGENCE = "lower() differs between Java/Python and DuckDB for this code point"
DIVERGENT = [
    ("minhash", "\u1c89"),
    ("minhash", "\u0130"),  # İ
    ("minhash", "\u03a3\u0391\u03a3"),  # ΣΑΣ, final sigma
    ("simhash", "\u0130"),
    ("simhash", "\u03a3\u0391\u03a3"),
]


def _spark_sigs(spark, texts: list[str]) -> dict[str, dict]:
    df = spark.createDataFrame(list(enumerate(texts)), "id int, text string")
    rows = df.select(
        "id",
        dedup.minhash_signature(F.col("text")).alias("minhash"),
        dedup.simhash_signature_arrow()(F.col("text")).alias("simhash"),
    ).collect()
    return {texts[r["id"]]: {"minhash": list(r["minhash"]), "simhash": r["simhash"]}
            for r in rows}


def _duck_sigs(texts: list[str]) -> dict[str, dict]:
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (id INTEGER, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", list(enumerate(texts)))
    rows = con.execute(f"""
        WITH words AS (SELECT id, {sqltext.WORDS_EXPR} AS w FROM docs),
        sh AS (SELECT id, {sqltext.SHINGLES_EXPR} AS sh FROM words),
        hs AS (
          SELECT id, list_transform(sh, s -> {sqltext.SHINGLE_HASH_EXPR}) AS hs
          FROM sh
        ),
        mh AS (SELECT id, {sqltext.minhash_sig_sql_list(dedup.MINHASH_N)} AS mh FROM hs),
        sig AS ({sqltext.SIMHASH_SIG_SQL})
        SELECT mh.id, mh.mh, sig.sh FROM mh JOIN sig ON mh.id = sig.id
    """).fetchall()
    return {texts[i]: {"minhash": list(mh), "simhash": sh} for i, mh, sh in rows}


def test_signatures_equal_duckdb_on_edge_texts(spark):
    ours = _spark_sigs(spark, EDGE_TEXTS)
    theirs = _duck_sigs(EDGE_TEXTS)
    assert len(ours) == len(EDGE_TEXTS)
    for t in EDGE_TEXTS:
        assert ours[t] == theirs[t], repr(t)


@pytest.mark.parametrize(
    "algo,text",
    [pytest.param(a, t, marks=pytest.mark.xfail(strict=True, reason=CASE_FOLD_DIVERGENCE),
                  id=f"{a}-U+{ord(t[0]):04X}")
     for a, t in DIVERGENT],
)
def test_signature_case_fold_divergence(spark, algo, text):
    assert _spark_sigs(spark, [text])[text][algo] == _duck_sigs([text])[text][algo]


def test_simhash_pairs_skip_null_text(spark):
    """A NULL text has no signature, so it pairs with nothing — not with
    another NULL, not with an empty doc. Two empty docs still pair."""
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, ""), (4, ""), (5, "some other words here")],
        "doc_id int, text string",
    )
    pairs = {tuple(r) for r in dedup.simhash_pairs(df).collect()}
    dedup.release_cached()
    assert pairs == {(3, 4, 0)}


def test_minhash_pairs_skip_null_text(spark):
    """As for SimHash: a NULL text has no MinHash signature and pairs with
    nothing. Two empty docs still agree on every band."""
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, ""), (4, ""), (5, "some other words here")],
        "doc_id int, text string",
    )
    pairs = {tuple(r) for r in dedup.minhash_lsh_pairs(df).collect()}
    dedup.release_cached()
    assert pairs == {(3, 4, dedup.LSH_BANDS)}


def test_minhash_signature_of_null_text_is_null_in_both_engines(spark):
    (row,) = spark.createDataFrame([(None,)], "text string").select(
        dedup.minhash_signature(F.col("text")).alias("mh")
    ).collect()
    (duck,) = duckdb.sql(f"""
        WITH words AS (SELECT {sqltext.WORDS_EXPR} AS w FROM (SELECT NULL::VARCHAR AS text)),
        sh AS (SELECT {sqltext.SHINGLES_EXPR} AS sh FROM words),
        hs AS (SELECT list_transform(sh, s -> {sqltext.SHINGLE_HASH_EXPR}) AS hs FROM sh)
        SELECT {sqltext.minhash_sig_sql_list(dedup.MINHASH_N)} FROM hs
    """).fetchone()
    assert row["mh"] is None and duck is None


def _null_vectors(spark):
    return spark.createDataFrame(
        [(1, 0, [1.0, 0.0]), (2, 0, None), (3, 0, [1.0, 0.0]), (4, 0, [0.9, 0.1])],
        "vec_id int, label int, embedding array<double>",
    )


def test_embedding_pairs_null_vector_scores_null(spark):
    pairs = {
        tuple(r)
        for r in dedup.embedding_neardup_pairs(_null_vectors(spark), threshold=0.5).collect()
    }
    dedup.release_cached()
    assert pairs == {(1, 3, 1.0), (1, 4, 0.9939), (3, 4, 0.9939)}


def test_brute_force_topk_null_vector_ranks_last(spark):
    from opentelemetry_collector_spark.operators import similarity

    emb = _null_vectors(spark)
    top = similarity.brute_force_topk(emb, emb.filter(F.col("vec_id") == 1)).collect()
    assert sorted((r["rank"], r["nbr_id"], r["cos"]) for r in top) == [
        (1, 3, 1.0), (2, 4, 0.9939), (3, 2, None),
    ]


def test_round_half_away_matches_spark_and_duckdb(spark):
    """The Arrow kernels' rounding must match F.round (HALF_UP) and
    DuckDB round at exact dyadic halves — np.round (half-to-even) does
    not: np.round(0.03125, 4) = 0.0312 vs 0.0313 in both engines."""
    import numpy as np

    from opentelemetry_collector_spark.operators.similarity import _round_half_away

    vals = [0.03125, -0.03125, 0.0625, 1.5 / 16, 0.12345, -0.65625, 0.28125]
    ours = _round_half_away(np.array(vals), 4).tolist()
    spark_r = [
        r["r"]
        for r in spark.createDataFrame([(v,) for v in vals], "v double")
        .select(F.round("v", 4).alias("r"))
        .collect()
    ]
    duck_r = [
        duckdb.sql(f"SELECT round(CAST({v!r} AS DOUBLE), 4)").fetchone()[0]
        for v in vals
    ]
    assert ours == spark_r == duck_r
    # the banker's-rounding result would differ at the dyadic halves:
    assert ours[0] == 0.0313 and ours[1] == -0.0313


def test_kmeans_cells_null_vector_gets_null_cell(spark):
    """A NULL vector is left out of k-means training and gets a NULL
    cell, in Spark and in the DuckDB oracle alike."""
    from opentelemetry_collector_spark.operators import similarity

    vecs = [(1, None), (2, [1.0, 0.0]), (3, [0.0, 1.0]), (4, [1.0, 1.0])]
    emb = spark.createDataFrame(vecs, "vec_id int, embedding array<double>")
    out, _ = similarity.kmeans_cells(emb, k=2, iters=1)
    ours = {r["vec_id"]: r["cell"] for r in out.collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE vecs (vec_id INTEGER, v DOUBLE[])")
    con.executemany("INSERT INTO vecs VALUES (?, ?)", vecs)
    theirs = dict(con.execute(
        sqltext.kmeans_cells_cte(k=2, dim=2, emb_sql="SELECT vec_id, v FROM vecs")
        + "SELECT vec_id, cell FROM kcells"
    ).fetchall())
    con.close()
    assert ours == theirs == {1: None, 2: 0, 3: 1, 4: 0}
