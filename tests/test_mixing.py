"""Training-mix operators (operators/mixing.py): deterministic
stratified sampling + mixture-weight rebalancing."""

from pyspark.sql import functions as F

from opentelemetry_collector_spark.operators import mixing


def _docs(spark):
    rows = [(i, "en" if i % 2 == 0 else "zh", 100 + i) for i in range(200)]
    return spark.createDataFrame(rows, "doc_id bigint, lang string, n_chars bigint")


def test_rate_threshold_edges():
    assert mixing.rate_threshold(0.0) == "000000"
    assert mixing.rate_threshold(1.0) == "g"      # > 'ffffff': keep all
    assert mixing.rate_threshold(0.5) == "800000"
    assert mixing.rate_threshold(0.25) == "400000"


def test_stratified_sample_deterministic_and_rate_shaped(spark):
    df = _docs(spark)
    out = mixing.stratified_sample(
        df, {"en": 1.0, "zh": 0.25}, strat_col="lang", key_col="doc_id"
    )
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(r["doc_id"] for r in out.collect())  # re-run: same rows
    assert a == b
    by_lang = {
        r["lang"]: r["n"]
        for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert by_lang["en"] == 100          # rate 1.0 keeps every row
    assert 10 <= by_lang.get("zh", 0) <= 45   # ~25 of 100, hash-spread
    # default rate 0: an unlisted stratum is dropped entirely
    none = mixing.stratified_sample(
        df, {"en": 0.5}, strat_col="lang", key_col="doc_id"
    )
    assert none.filter(F.col("lang") == "zh").count() == 0


def test_mixture_weights_shares_and_factors(spark):
    df = spark.createDataFrame(
        [(1, "en", 600), (2, "en", 200), (3, "zh", 200)],
        "doc_id bigint, lang string, n_chars bigint",
    )
    out = {
        r["lang"]: r
        for r in mixing.mixture_weights(
            df, {"en": 0.5, "zh": 0.5}, strat_col="lang", size_col="n_chars"
        ).collect()
    }
    assert out["en"]["share"] == 0.8 and out["zh"]["share"] == 0.2
    assert out["en"]["weight"] == 0.625      # down-sample en: 0.5/0.8
    assert out["zh"]["weight"] == 2.5        # up-sample zh:   0.5/0.2
    assert out["en"]["doc_count"] == 2 and out["en"]["size_sum"] == 800


def test_resample_to_mix_copy_counts(spark):
    """floor(w) copies per row plus a deterministic fractional extra;
    weight 0 / unlisted strata drop; re-running replicates the SAME
    rows (no RNG state)."""
    df = _docs(spark)  # 100 en + 100 zh
    out = mixing.resample_to_mix(
        df, {"en": 2.0, "zh": 0.5}, strat_col="lang", key_col="doc_id"
    )
    per_doc = {
        (r["doc_id"], r["copy"]) for r in out.collect()
    }
    assert per_doc == {
        (r["doc_id"], r["copy"]) for r in out.collect()
    }  # deterministic
    from pyspark.sql import functions as F

    counts = {
        r["lang"]: r["n"]
        for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert counts["en"] == 200                 # exactly 2 copies each
    assert 25 <= counts.get("zh", 0) <= 80     # ~50 fractional survivors
    # every en doc has copies 1 AND 2
    en_copies = [c for (d, c) in per_doc if d % 2 == 0]
    assert sorted(set(en_copies)) == [1, 2]
    # unlisted stratum drops entirely
    none = mixing.resample_to_mix(
        df, {"en": 1.0}, strat_col="lang", key_col="doc_id"
    )
    assert none.filter(F.col("lang") == "zh").count() == 0


def test_quoted_stratum_names_match_duckdb(spark, tmp_path):
    """A stratum named o'brien must not end the SQL literal: all three
    DuckDB twins agree with Spark on it."""
    import duckdb

    from tests.parity import compare

    rows = [(i, ["o'brien", "en", "it's"][i % 3], 100 + i) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string, n_chars bigint")
    path = str(tmp_path / "docs")
    df.write.parquet(path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW docs AS SELECT * FROM read_parquet('{path}/*.parquet')")
    rates = {"o'brien": 0.5, "en": 1.0, "it's": 0.25}
    compare(
        mixing.stratified_sample(df, rates),
        con, mixing.stratified_sample_sql("docs", rates), "stratified_sample",
    )
    targets = {"o'brien": 0.6, "it's": 0.4}
    compare(
        mixing.mixture_weights(df, targets),
        con, mixing.mixture_weights_sql("docs", targets), "mixture_weights",
    )
    weights = {"o'brien": 1.5, "en": 0.5}
    compare(
        mixing.resample_to_mix(df, weights),
        con, mixing.resample_to_mix_sql("docs", weights), "resample_to_mix",
    )
    assert mixing.stratified_sample(df, rates).filter(F.col("lang") == "o'brien").count() > 0
    con.close()
