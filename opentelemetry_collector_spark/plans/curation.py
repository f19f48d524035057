"""End-to-end corpus curation: the nightly job a pretraining corpus
runs, composed entirely from the already-oracled operators —

  held-out eval split → near-dup dedup (MinHash/LSH + keep-one) →
  benchmark decontamination → repetition gate → quality gate →
  PII redaction → curated table,

with per-stage removal accounting. Cost model: ONE aggregate action
over the flagged frame (conditional sums attribute every removal to
the first stage that claimed it) plus the observed sink write; the
flagged frame is persisted so the two actions share the join work.
At 100 TB each stage is the same bucketed/broadcast plan its
standalone oracle query runs — composition adds joins on the doc id,
nothing quadratic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

# The held-out eval split: documents with doc_id ≡ 3 (mod 13), about 8%.
HELDOUT_MOD = 13
HELDOUT_REM = 3
CURATED_TABLE = "curated_documents"


def curate_corpus(
    spark: SparkSession,
    docs: DataFrame,
    catalog,
    quality_min: float = 0.5,
) -> dict:
    """Run the full curation pipeline over ``docs`` (doc_id, text,
    ...), write survivors to CURATED_TABLE via ``catalog`` and return the
    per-stage accounting dict. Stages cascade: a document removed by
    decontamination is not re-counted by the repetition or quality
    gates. Input hygiene: NULL text is coalesced to '' (degenerate
    text is then claimed by a gate — repetition's top-word signal —
    instead of vanishing NULL-filtered, so the docs_in = Σremoved +
    docs_out identity always closes), same-id rows are collapsed
    before dedup (the
    residual formula attributes them to dup_removed; same-id rows with
    differing text are corrupt input and an arbitrary one survives),
    and the held-out split uses pmod so negative ids split uniformly
    too. PII redaction runs only on survivors — dropped docs never pay
    the regex passes — and its count rides the sink write's
    Observation. Every persisted intermediate is released in a finally
    (exceptions in a long-lived session must not leak cached blocks).

    The returned accounting includes ``cc_converged`` — False means the
    component fixpoint was not reached and dup_removed is a LOWER bound
    (split components keep one representative per fragment)."""
    from opentelemetry_collector_spark.operators import dedup, textstats

    docs = docs.select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text")
    )
    heldout = F.pmod(F.col("doc_id"), F.lit(HELDOUT_MOD)) == HELDOUT_REM
    bench = docs.filter(heldout).select("text")
    train = docs.filter(~heldout).dropDuplicates(["doc_id"])

    cc_stats: dict = {}
    try:
        pairs = dedup.minhash_lsh_pairs(train)
        kept = dedup.dedup_survivors(train, pairs, stats=cc_stats)

        scored = textstats.lang_id(textstats.quality_score(kept))
        rep = textstats.repetition_stats(kept, id_col="doc_id").select(
            "doc_id", "flag_repetitive"
        )
        cont = (
            dedup.contamination_overlap(kept, bench)
            .filter(F.col("flag_contaminated") == 1)
            .select("doc_id")
            .withColumn("_cont", F.lit(1))
        )
        combined = dedup._persist(
            scored.join(rep, "doc_id")
            .join(cont, "doc_id", "left")
            .withColumn("_cont", F.coalesce("_cont", F.lit(0)))
        )

        # NULL quality (empty text: 0/0 ratios) counts as low quality
        lowq = F.coalesce(F.col("quality") < quality_min, F.lit(True))
        not_cont = F.col("_cont") == 0
        not_rep = F.col("flag_repetitive") == 0
        keep = not_cont & not_rep & ~lowq

        row0 = docs.agg(
            F.count(F.lit(1)).alias("n_in"),
            F.coalesce(F.sum(heldout.cast("int")), F.lit(0)).alias("n_heldout"),
        ).first()
        row1 = combined.agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.coalesce(F.sum("_cont"), F.lit(0)).alias("n_cont"),
            F.coalesce(
                F.sum((not_cont & ~not_rep).cast("int")), F.lit(0)
            ).alias("n_rep"),
            F.coalesce(
                F.sum((not_cont & not_rep & lowq).cast("int")), F.lit(0)
            ).alias("n_lowq"),
        ).first()

        survivors = combined.filter(keep)
        red = textstats.redact_pii(
            survivors.select("doc_id", "text"), id_col="doc_id"
        )
        obs = Observation("curated")
        npii = F.col("n_emails") + F.col("n_ips") + F.col("n_phones")
        out = (
            survivors.select("doc_id", "n_tokens", "quality", "lang_guess")
            .join(red, "doc_id")
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum(npii), F.lit(0)).alias("n_pii"),
            )
            .select(
                "doc_id",
                F.col("redacted").alias("text"),
                "n_tokens",
                "quality",
                "lang_guess",
            )
        )
        catalog.overwrite(CURATED_TABLE, out)
        metrics = obs.get
    finally:
        dedup.release_cached()

    n_in, n_heldout = int(row0["n_in"]), int(row0["n_heldout"])
    n_kept = int(row1["n_kept"])
    return {
        "docs_in": n_in,
        "heldout_removed": n_heldout,
        "dup_removed": n_in - n_heldout - n_kept,
        "contaminated_removed": int(row1["n_cont"]),
        "repetitive_removed": int(row1["n_rep"]),
        "low_quality_removed": int(row1["n_lowq"]),
        "pii_redactions": int(metrics["n_pii"]),
        "docs_out": int(metrics["n"]),
        "quality_min": quality_min,
        "table": CURATED_TABLE,
        "cc_converged": bool(cc_stats.get("converged", False)),
        "cc_rounds": int(cc_stats.get("rounds", 0)),
    }
