"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.

Scale design (the whole point of each variant):

* exact          — one shuffle on a 16-byte hash; trivially scales.
* n-gram Jaccard — exact pairwise similarity but ONLY on candidate
  pairs that share a shingle (inverted-index join), never all-pairs.
  At 100 TB the shingle join is the bottleneck → cap per-shingle
  posting lists (hot shingles are stopword-ish and useless anyway).
* MinHash+LSH    — the scale path: H hash functions → B bands of R
  rows; candidates = same band key. Cost is linear in corpus size +
  bucket joins; banding thresholds tuned via (1/B)^(1/R).
* SimHash        — constant-size signature from a vectorized md5
  kernel (no explode, no shuffle until the band join).
* embedding      — cosine near-dup within a coarse cell (here: label;
  at scale: k-means centroid assignment broadcast) — never all-pairs.

All hashing is md5-based so the DuckDB oracle reproduces results
bit-for-bit; no RNG anywhere.

Every candidate-generation path bounds its bucket cardinality: the
n-gram inverted index caps posting lists (``NGRAM_MAX_POSTING``), and the
LSH / SimHash band joins and the embedding cell join cap bucket/cell
membership (``max_bucket`` / ``max_cell``) — a degenerate key (empty or
templated docs hashing to one band key, a hot k-means cell) is
quadratic *within its bucket*, so at web scale one bad key can
dominate the whole job. Dropped buckets are counted and logged, never
silent (a doc in a >cap bucket is stopword-ish/templated and carries
no dedup signal — same argument as the posting cap).

The pair functions persist their banded/posting intermediates so the
self-join computes signatures once, not per side; because they return
lazy DataFrames there is no in-function release point. Cached handles
are tracked module-wide — long-lived sessions should call
:func:`release_cached` after materializing results (tests/bench do).
"""

from __future__ import annotations

import logging

import pandas as pd  # noqa: F401 — resolves pandas_udf type hints
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

logger = logging.getLogger(__name__)

_PERSISTED: list[DataFrame] = []


def _persist(df: DataFrame) -> DataFrame:
    """persist + register for release_cached()."""
    df = df.persist()
    _PERSISTED.append(df)
    return df


def release_cached() -> int:
    """Unpersist every intermediate cached by the pair functions in this
    process; returns how many were released. Call after materializing
    pair results in a long-lived session (the cached blocks are otherwise
    held until session end)."""
    n = 0
    while _PERSISTED:
        _PERSISTED.pop().unpersist()
        n += 1
    return n


def _cap_buckets(
    keyed: DataFrame, key_cols: list[str], max_bucket: int, what: str
) -> DataFrame:
    """Drop bucket keys whose membership exceeds ``max_bucket`` (the
    posting-list cap generalized to band/cell joins). The hot-key set is
    tiny by construction (keys with >max_bucket members), so it
    broadcast-anti-joins against the full keyed set — no shuffle added.
    Logged, never silent."""
    if max_bucket is None or max_bucket <= 0:
        return keyed
    hot = (
        keyed.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > max_bucket)
        .persist()
    )
    n_hot = hot.count()  # one pass over the (persisted) keyed set
    if n_hot:
        total = hot.agg(F.sum("n")).collect()[0][0]
        logger.warning(
            "%s: dropped %d bucket key(s) over cap %d (%d member rows) — "
            "degenerate keys carry no dedup signal", what, n_hot, max_bucket, total
        )
        _PERSISTED.append(hot)  # referenced by the returned lazy plan
        return keyed.join(F.broadcast(hot.select(*key_cols)), key_cols, "left_anti")
    hot.unpersist()
    return keyed

from opentelemetry_collector_spark.operators.textstats import (
    bind_once,
    grams_col,
    norm_text,
)
from opentelemetry_collector_spark.sqltext import MINHASH_COEFFS, MINHASH_P

# MinHash/LSH defaults: 12 signatures = 4 bands × 3 rows → s-curve
# threshold ≈ (1/4)^(1/3) ≈ 0.63 Jaccard.
MINHASH_N = 12
LSH_BANDS = 4
LSH_ROWS = 3
# 64-bit SimHash in 4 bands of 16 bits: 65536 keys per band keeps bucket
# occupancy ~n/65536 per band, so the candidate-pair verify stays linear.
# (A 32-bit/8-bit-band variant has only 256 keys per band — buckets of
# n/256 docs each make the verify quadratic in corpus size.)
SIMHASH_BITS = 64
SIMHASH_BANDS = 4
# Hamming distance ≤ 3 bits of 64 is a near-dup; 4 bands guarantee
# such a pair shares a band (pigeonhole).
SIMHASH_MAX_HAMMING = 3
# Word-shingle width of every shingle-based operator (sqltext.SHINGLES_EXPR).
SHINGLE_K = 3
# n-gram Jaccard: a pair is a near-dup at 0.8; a shingle in more than
# 1000 documents is boilerplate and leaves the inverted index.
NGRAM_JACCARD_MIN = 0.8
NGRAM_MAX_POSTING = 1000


def shingles_col(c: Column) -> Column:
    """Distinct SHINGLE_K-word shingles as an array column (no
    explode). A NULL text has none (NULL), so it has no MinHash
    signature and shares no shingle with any doc; sqltext.SHINGLES_EXPR
    does the same.

    The gram window itself lives in textstats.grams_col — the ONE
    source of the edge semantics (bound-once split, greatest(n−k, 0)
    start positions, NULL-skipping concat_ws) shared with
    repetition_stats and every DuckDB twin."""
    return F.when(c.isNotNull(), F.array_distinct(grams_col(c, SHINGLE_K)))


_SPACE_RUN = __import__("re").compile(" +")


def _norm_words(text: str) -> list[str]:
    """Python form of words_col(norm_text(c)) and sqltext.WORDS_EXPR:
    trim spaces, lower, split on runs of SPACES (not all whitespace —
    Spark's "[ ]+"), so an empty text yields one empty word exactly like
    Spark's split and DuckDB's string_split_regex."""
    return _SPACE_RUN.split(text.strip(" ").lower())


def simhash_signature_arrow(bits: int = SIMHASH_BITS):
    """SimHash bit-string in a vectorized pandas UDF (numpy + hashlib
    over Arrow batches). Bit[4i+k] of a word is bit k of the hex value
    of md5(word)[i]; per-doc bit counts are summed over ALL word
    occurrences (duplicates count) and thresholded at majority. The
    DuckDB oracle (sqltext.SIMHASH_SIG_SQL) computes the same bits in
    SQL. NULL text gives a NULL signature, so it joins no band."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    n_chars = bits // 4
    # hex char -> 4 bits, LSB-first per nibble
    lut = np.zeros((128, 4), dtype=np.int32)
    for ch in "0123456789abcdef":
        v = int(ch, 16)
        lut[ord(ch)] = [(v >> k) & 1 for k in range(4)]

    @pandas_udf("string")
    def sig(texts: pd.Series) -> pd.Series:
        import hashlib

        cache: dict[str, "np.ndarray"] = {}

        def word_bits(w: str) -> "np.ndarray":
            b = cache.get(w)
            if b is None:
                hx = hashlib.md5(w.encode("utf-8")).hexdigest()[:n_chars]
                b = lut[np.frombuffer(hx.encode(), dtype=np.uint8)].ravel()
                cache[w] = b
            return b

        def one(text: str | None) -> str | None:
            if text is None:
                return None
            words = _norm_words(text)
            counts = np.zeros(bits, dtype=np.int64)
            for w in words:
                counts += word_bits(w)
            hi = 2 * counts - len(words) > 0
            return "".join("1" if x else "0" for x in hi)

        return texts.map(one)

    return sig


def exact_dedup(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct normalized text
    with the kept (minimum) id and the duplicate count."""
    return (
        df.select(F.col(id_col), F.md5(norm_text(F.col("text"))).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingle_hash(s: Column) -> Column:
    """Shingle → 32-bit int: first 8 hex chars of md5 (twin of
    sqltext.SHINGLE_HASH_EXPR — conv() here equals DuckDB's 0x cast)."""
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint")


def minhash_signature(c: Column, n_hashes: int = MINHASH_N) -> Column:
    """Array of n minhashes: min over shingles of (a_i*h(s) + b_i) % P
    with ONE md5 per shingle (h folded to 32 bits, then the n-hash
    family derived by integer arithmetic — MINHASH_COEFFS shared with
    the oracle). Pure array fold: signature at scan speed, no shuffle,
    one digest per shingle instead of n. NULL for a NULL text."""
    coeffs = MINHASH_COEFFS[:n_hashes]

    def per_shingle(s: Column) -> Column:
        # bind h once, then derive the n-vector with int ops only
        return bind_once(
            shingle_hash(s),
            lambda h: F.array(
                *[(F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_P) for a, b in coeffs]
            ),
        )

    init = F.array_repeat(F.lit(MINHASH_P).cast("bigint"), n_hashes)
    return F.aggregate(
        shingles_col(c),
        init,
        lambda acc, s: F.zip_with(acc, per_shingle(s), lambda x, y: F.least(x, y)),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    max_bucket: int = 10_000,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash: docs agreeing on all
    LSH_ROWS minhashes of any of the LSH_BANDS bands share a bucket.
    Returns distinct (id_a < id_b) pairs with the number of matching
    bands. Band buckets
    larger than ``max_bucket`` are dropped (logged) before the self-join
    — see the module docstring's degenerate-key argument."""
    sig = df.select(
        F.col(id_col).alias("id"),
        minhash_signature(F.col("text"), LSH_BANDS * LSH_ROWS).alias("mh"),
    ).where(F.col("mh").isNotNull())  # concat_ws would key a NULL as ""
    banded = sig.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(LSH_BANDS - 1)),
                lambda b: F.struct(
                    b.cast("int").alias("band"),
                    F.concat_ws(
                        "|",
                        F.transform(
                            F.slice(F.col("mh"), b * LSH_ROWS + 1, LSH_ROWS),
                            lambda v: v.cast("string"),
                        ),
                    ).alias("key"),
                ),
            )
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    # self-join: persist so signatures are computed once, not per side
    # (banded is n_docs × bands tiny rows; MEMORY_AND_DISK spills at scale)
    banded = _persist(banded)
    banded = _cap_buckets(banded, ["band", "key"], max_bucket, "minhash_lsh_pairs")
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("matching_bands"))
    )
    return pairs


def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Pairs with exact n-gram Jaccard ≥ NGRAM_JACCARD_MIN, over
    candidates sharing ≥1 shingle (inverted-index join).
    NGRAM_MAX_POSTING drops degenerate hot shingles — at web scale a
    shingle shared by millions of docs carries no signal and would
    quadratically blow up the join."""
    sh = df.select(
        F.col(id_col).alias("id"),
        shingles_col(F.col("text")).alias("sh"),
    ).withColumn("n_sh", F.size("sh"))
    posting = _persist(sh.select("id", "n_sh", F.explode("sh").alias("s")))
    # drop hot shingles (posting-list cap)
    hot = (
        posting.groupBy("s").agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > NGRAM_MAX_POSTING)
        .select("s")
    )
    posting = posting.join(F.broadcast(hot), "s", "left_anti")
    a, b = posting.alias("a"), posting.alias("b")
    # Lossless size-ratio pruning (AllPairs/PPJoin length filter):
    # J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|), so any pair with size ratio
    # below the threshold cannot reach it — drop those candidates inside
    # the join. Cuts the candidate aggregation hard on template-heavy
    # corpora where many docs share shingles but differ in length.
    size_ok = (F.col("a.n_sh") >= NGRAM_JACCARD_MIN * F.col("b.n_sh")) & (
        F.col("b.n_sh") >= NGRAM_JACCARD_MIN * F.col("a.n_sh")
    )
    inter = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.id") < F.col("b.id"))
            & size_ok,
        )
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= NGRAM_JACCARD_MIN)
        .select("id_a", "id_b", "jaccard")
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    max_bucket: int = 10_000,
) -> DataFrame:
    """Near-dup pairs by SimHash: candidates share one of SIMHASH_BANDS
    signature bands (pigeonhole: hamming ≤ bands-1 guarantees a shared
    band), verified by exact Hamming distance ≤ SIMHASH_MAX_HAMMING.
    Band buckets larger than ``max_bucket`` are dropped (logged) before
    the self-join."""
    bits = SIMHASH_BITS
    bw = bits // SIMHASH_BANDS
    sig = df.select(
        F.col(id_col).alias("id"),
        simhash_signature_arrow(bits)(F.col("text")).alias("sh"),
    )
    # fold the bit-string into two 32-bit ints once, so the per-candidate
    # Hamming distance is bit_count(xor) — codegen integer ops instead of
    # 64 interpreted substring compares per candidate pair
    sig = sig.select(
        "id",
        F.conv(F.col("sh").substr(1, 32), 2, 10).cast("bigint").alias("h1"),
        F.conv(F.col("sh").substr(33, 32), 2, 10).cast("bigint").alias("h2"),
        "sh",
    )
    banded = sig.select(
        "id", "h1", "h2",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(SIMHASH_BANDS - 1)),
                lambda b: F.struct(
                    b.cast("int").alias("band"),
                    F.col("sh").substr(b * bw + 1, F.lit(bw)).alias("key"),
                ),
            )
        ).alias("bk"),
    ).select("id", "h1", "h2", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    banded = _persist(banded)  # compute signatures once, not per join side
    banded = _cap_buckets(banded, ["band", "key"], max_bucket, "simhash_pairs")
    a, b = banded.alias("a"), banded.alias("b")
    hamming = (
        F.bit_count(F.col("a.h1").bitwiseXOR(F.col("b.h1")))
        + F.bit_count(F.col("a.h2").bitwiseXOR(F.col("b.h2")))
    ).cast("int")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    threshold: float = 0.99,
    max_cell: int = 10_000,
) -> DataFrame:
    """Embedding-cosine near-dup within a coarse cell (label here, or
    the deterministic k-means assignment of similarity.kmeans_cells at
    scale) — the join is cell-local, never all-pairs. Cells larger than
    ``max_cell`` are dropped (logged): a hot cell is quadratic within
    itself, and at web scale one collapsed cell (all-zero embeddings,
    a template cluster) would dominate the job. A NULL vector scores a
    NULL cosine, so it pairs with nothing."""
    from opentelemetry_collector_spark.operators.similarity import (
        cosine_rounded_arrow,
    )

    v = df.select(
        F.col(id_col).alias("id"),
        F.col(cell_col).alias("cell"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    v = _persist(v)
    v = _cap_buckets(v, ["cell"], max_cell, "embedding_neardup_pairs")
    a, b = v.alias("a"), v.alias("b")
    cos = cosine_rounded_arrow(4)(F.col("a.v"), F.col("b.v"))
    return (
        a.join(b, (F.col("a.cell") == F.col("b.cell")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            cos.alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
    strict: bool = False,
    stats: dict | None = None,
) -> DataFrame:
    """Exact connected components over a duplicate-pair graph — the
    keep-one half of dedup: a (near-)dup PAIR list does not say which
    documents to drop; grouping pairs into clusters (and keeping, say,
    the min-id representative) does. Returns one row per node that
    appears in any pair: (id, grp) with grp = the minimum id reachable
    in the component — deterministic, engine-independent, so a DuckDB
    recursive CTE value-oracles it.

    Algorithm: min-label propagation to fixpoint. labels start as the
    node's own id; each round every node takes the min of its label and
    its neighbors' labels; converges in O(component diameter) rounds
    (duplicate clusters are near-cliques from banded candidate
    generation — diameter is small by construction, and the bucket caps
    upstream bound component size). Each round is one shuffle join +
    one aggregation on id — no driver-side graph, no collect. The sum
    of labels decreases monotonically, so convergence is detected by an
    aggregate equality — one extra scalar per round, no row-level diff.
    The reference has no graph operator (its dataflow IS a DAG of
    consumers); this is charter scope (LLM training-data dedup).

    **Lineage truncation, not just caching.** Every round's labels are
    eagerly ``localCheckpoint``-ed. A plain ``persist`` materializes the
    DATA but leaves the LOGICAL plan intact, and an iterative join
    doubles that plan every round — Catalyst re-analyzes the whole
    lineage before cache substitution kicks in, so analysis cost (and
    driver plan-tree memory) grows geometrically: measured on a
    diameter-12 path graph, rounds went 0.8s → 3s → 10s → 115s → driver
    OOM by round 9. With per-round checkpointing each round's plan is a
    flat scan-join-agg over a LogicalRDD: constant compile cost,
    constant driver memory, O(diameter) total work — the property that
    matters when a 100 TB dup graph needs 10+ rounds. The trade:
    ``localCheckpoint`` truncates lineage WITHOUT fault tolerance — a
    lost executor makes its blocks unrecoverable, so the failure mode
    is a loud job failure requiring a restart of the whole iteration,
    not a silent recompute. That is acceptable here (rounds are
    minutes, the fixpoint loop is restartable from the input edges);
    a long-running 100 TB run that cannot afford restarts should swap
    in reliable ``checkpoint()`` against the cluster's checkpoint dir
    (same call shape, durable blocks). Superseded rounds' blocks are
    released by the ContextCleaner as soon as the Python reference
    drops.

    Non-convergence is machine-readable, not just a log line: when the
    fixpoint is not reached within ``max_iters`` the labels are only an
    UPPER-BOUND grouping (a split component keeps one representative
    per fragment → downstream keep-one under-deduplicates). With
    ``strict=True`` that raises RuntimeError; either way, when a
    ``stats`` dict is passed it is filled with ``converged`` (bool) and
    ``rounds`` (int) so callers like curate_corpus can surface it in
    their accounting.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
    )
    edges = _persist(edges)
    # round 0 fused into the node extraction: label = min(self, nbrs).
    # Star-shaped dup clusters (the common case from banded candidate
    # generation) converge here; the loop then only confirms.
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("m"))
        .select(
            F.col("src").alias("id"),
            F.least(F.col("src"), F.col("m")).alias("label"),
        )
    )
    labels = _persist(labels)
    # fixpoint detection: numeric ids use the monotone label-sum trick
    # (labels only decrease, so equal sum ⟺ no change — one scalar per
    # round); non-numeric ids (F.sum would be NULL, making every round
    # "converged") count changed labels with a self-join instead.
    from pyspark.sql.types import NumericType

    numeric_ids = isinstance(labels.schema["label"].dataType, NumericType)

    def _converged(new_labels: DataFrame, old_labels: DataFrame,
                   prev: object) -> tuple[bool, object]:
        if numeric_ids:
            s = new_labels.agg(F.sum("label")).collect()[0][0]
            return s == prev, s
        changed = (
            new_labels.alias("n")
            .join(old_labels.alias("o"), F.col("n.id") == F.col("o.id"))
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        return changed == 0, None

    prev_sum = (
        labels.agg(F.sum("label")).collect()[0][0] if numeric_ids else None
    )
    converged = False
    rounds = 0
    for rounds in range(1, max_iters + 1):
        nbr_min = (
            edges.join(labels, edges["src"] == labels["id"])
            .groupBy(F.col("dst").alias("id2"))
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(nbr_min, labels["id"] == nbr_min["id2"], "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
        )
        # eager checkpoint = materialize AND truncate lineage (see
        # docstring: persist alone leaves a geometrically-growing plan).
        # The engine.reliableCheckpoint feature gate (alpha, default
        # off) swaps in reliable checkpoint() — durable blocks that
        # survive executor loss, for long 100 TB runs that cannot
        # afford a restart; requires spark.sparkContext.setCheckpointDir
        from opentelemetry_collector_spark.plans.featuregate import (
            global_registry,
        )

        if global_registry().is_enabled("engine.reliableCheckpoint"):
            new_labels = new_labels.checkpoint(eager=True)
        else:
            new_labels = new_labels.localCheckpoint(eager=True)
        done, prev_sum = _converged(new_labels, labels, prev_sum)
        labels.unpersist()  # no-op for checkpointed rounds, frees round 0
        labels = new_labels
        if done:
            converged = True
            break
    if stats is not None:
        stats["converged"] = converged
        stats["rounds"] = rounds
    if not converged:
        msg = (
            f"connected_components: no fixpoint after {max_iters} rounds "
            "(component diameter exceeds max_iters; labels are an "
            "upper-bound grouping and keep-one dedup would "
            "under-deduplicate)"
        )
        if strict:
            raise RuntimeError(msg)
        logger.warning(msg)
    return labels.select("id", F.col("label").alias("grp"))


def dedup_survivors(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    stats: dict | None = None,
) -> DataFrame:
    """Keep-one dedup: drop every document that belongs to a duplicate
    component but is not its min-id representative. One broadcast-able
    anti-join against the (tiny, component-bounded) non-representative
    set; documents in no pair pass through untouched. ``stats`` forwards
    to :func:`connected_components`. Exact keep-one semantics require a
    converged fixpoint: a run that hits ``max_iters`` logs a warning and
    may under-deduplicate."""
    groups = connected_components(pairs, stats=stats)
    losers = groups.filter(F.col("id") != F.col("grp")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def contamination_overlap(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share
    word-shingle content with a held-out evaluation set (the standard
    n-gram-overlap decontamination pass a pretraining corpus runs
    before training; same shingle definition as the dedup family).

    Returns one row per contaminated corpus document: ``n_shingles``
    (its distinct shingle count), ``n_overlap`` (how many of those
    appear anywhere in the benchmark set) and ``flag_contaminated`` —
    1 when ≥ half the document's shingles are benchmark content,
    decided in integer arithmetic so both engines agree exactly.

    Scale shape: the benchmark side of a real decontamination job is
    tiny (an eval suite, thousands of docs) against a 100 TB corpus —
    its distinct shingle set is explicitly ``broadcast`` so the probe
    is a map-side hash join on the corpus scan; the only shuffle is
    the per-document overlap count, a partial-aggregated groupBy on
    the id. Corpus shingles are computed once (bound-once HOF pass)
    and exploded straight into the join.
    """
    bench_sh = (
        bench.select(F.explode(shingles_col(F.col("text"))).alias("s"))
        .distinct()
    )
    sh = corpus.select(F.col(id_col), shingles_col(F.col("text")).alias("sh"))
    corpus_sh = sh.select(
        id_col, F.size("sh").alias("n_shingles"), F.explode("sh").alias("s")
    )
    hits = corpus_sh.join(F.broadcast(bench_sh), "s")
    return (
        hits.groupBy(id_col, "n_shingles")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .select(
            id_col,
            "n_shingles",
            "n_overlap",
            (F.col("n_overlap") * 2 >= F.col("n_shingles"))
            .cast("int")
            .alias("flag_contaminated"),
        )
    )


def top_shingles(df: DataFrame, k: int = 50) -> DataFrame:
    """Corpus-wide top-k shingle document frequencies (the n-gram
    frequency table curation uses for boilerplate discovery: shingles
    appearing in thousands of documents are templates/boilerplate, and
    this table is also where the LSH hot-bucket caps get their prior).

    Scale shape: explode → map-side partial count → one shuffle on the
    shingle key → TakeOrderedAndProject (per-partition top-k, merged on
    the driver — never a global sort). Ties at the cut are broken by
    the shingle string so the result SET is deterministic. Shingles are
    distinct per document (shingles_col), so counts are document
    frequencies, not raw occurrences."""
    grams = df.select(F.explode(shingles_col(F.col("text"))).alias("gram"))
    counts = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("n"))
    return counts.orderBy(F.col("n").desc(), F.col("gram")).limit(k)
