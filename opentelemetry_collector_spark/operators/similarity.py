"""Similarity search over embedding columns (array<float>).

* :func:`brute_force_topk` — exact cosine top-k, the correctness
  baseline. Cross join of queries × corpus; fine when the query set is
  small and broadcastable (the common "find neighbors for this batch"
  shape), unacceptable for all-pairs at scale.
* :func:`ivf_topk` — the scale path: an IVF-style coarse quantizer
  restricts the search to the query's cell. Here the cell assignment
  is the pre-existing ``label`` column; on a real corpus it is a
  k-means centroid id assigned by a broadcast argmin — either way the
  join is cell-co-partitioned instead of all-pairs, which is what
  makes 100 TB feasible. LSH bucketing (random hyperplanes) is the
  other standard cell function; see dedup.simhash for the banding
  machinery it would reuse.

Cosine scores and the k-means argmin run in vectorized pandas UDFs
(:func:`cosine_rounded_arrow`, :func:`assign_cells_arrow`): numpy over
Arrow batches, per-row work heavy enough to pay for the Python
crossing. The LSH bucket dot and the multi-probe distances stay Spark
array folds (``aggregate``/``zip_with``). Both forms sum in double
precision in sequential dimension order, the order of DuckDB's
``list_dot_product``/``list_sum``, for oracle parity.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — resolves pandas_udf type hints
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Neighbours kept per query by ivf_topk_probed.
PROBED_TOP_K = 5


def dot_expr(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def _round_half_away(arr, digits: int):
    """Round half away from zero — the semantics of DuckDB ``round`` and
    Spark ``F.round`` (HALF_UP). ``np.round`` is banker's rounding
    (half-to-even): np.round(0.03125, 4) = 0.0312 while both engines
    give 0.0313, so using it in the Arrow kernels silently diverges from
    the oracle at dyadic halves. floor(|x|·10^d+0.5)
    matches DuckDB exactly (both operate on the actual double); F.round
    agrees except at values whose shortest decimal repr reads as an
    exact half while the double is not (measure-zero for computed
    cosines/distances, and none of our inputs)."""
    import numpy as np

    scale = 10.0 ** digits
    return np.copysign(np.floor(np.abs(arr) * scale + 0.5), arr) / scale


def cosine_rounded_arrow(digits: int = 4):
    """round(cosine(a, b), digits) in a vectorized pandas UDF: dot/norm
    accumulators advance dim-by-dim in numpy float64, the sequential
    order of DuckDB's list_dot_product in the oracle, then
    cos = dot/(sqrt(na)*sqrt(nb)) rounded half-away-from-zero (matching
    DuckDB round, see _round_half_away). A NULL vector on either side
    gives a NULL cosine: such rows skip the kernel and come back as NaN,
    which the Arrow conversion writes as NULL."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        out = np.full(len(a), np.nan)
        ok = (a.notna() & b.notna()).to_numpy()
        if ok.any():
            va = np.array(a[ok].tolist(), dtype=np.float64)
            vb = np.array(b[ok].tolist(), dtype=np.float64)
            n = va.shape[0]
            dot = np.zeros(n); na = np.zeros(n); nb = np.zeros(n)
            for i in range(va.shape[1]):  # sequential over dims: oracle order
                dot += va[:, i] * vb[:, i]
                na += va[:, i] * va[:, i]
                nb += vb[:, i] * vb[:, i]
            out[ok] = _round_half_away(dot / (np.sqrt(na) * np.sqrt(nb)), digits)
        return pd.Series(out)

    return cos


def _topk_per_query(scored: DataFrame, k: int, fanout: int = 64) -> DataFrame:
    """Exact per-query top-k WITHOUT an unbounded single-task sort.

    A plain ``Window.partitionBy("query_id")`` funnels every candidate
    of a query into ONE task for the rank sort — at 10^9 candidates
    (a hot IVF cell, or brute force itself) that task is the job. Here
    the rank runs in two bounded levels:

    1. local: candidates are salted into ``fanout`` deterministic
       buckets (xxhash64 of the neighbor id — plan-stable, no
       nondeterministic expression in a partition key) and ranked per
       (query, bucket); each task sorts ~candidates/fanout rows and
       keeps k.
    2. merge: the final rank sees ≤ k·fanout rows per query.

    Exact by the standard argument: under one total order
    (cos desc, nbr_id asc), any global top-k row is a top-k row of its
    bucket, so level 1 never drops a winner; level 2 then reproduces
    the global order. Tie-breaking is identical at both levels, so the
    result is bit-identical to the single-window form (asserted against
    the oracle, which ranks globally)."""
    salt = F.pmod(F.xxhash64(F.col("nbr_id")), F.lit(fanout))
    local = Window.partitionBy("query_id", "_b").orderBy(
        F.desc("cos"), F.asc("nbr_id")
    )
    pruned = (
        scored.withColumn("_b", salt)
        .withColumn("_lr", F.row_number().over(local))
        .filter(F.col("_lr") <= k)
        .drop("_b", "_lr")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("nbr_id"))
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "nbr_id", "cos")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    fanout: int = 64,
) -> DataFrame:
    """Exact top-k by cosine; ties broken by neighbor id for full
    determinism. Queries are broadcast (small side by construction);
    the per-query rank is the bounded two-level form
    (:func:`_topk_per_query`), so no task ever sorts the whole corpus.
    A NULL vector scores a NULL cosine and ranks last."""
    c = corpus.select(
        F.col("vec_id").alias("nbr_id"), _as_double(F.col(vec_col)).alias("cv")
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    scored = c.join(F.broadcast(q), F.col("query_id") != F.col("nbr_id")).select(
        "query_id",
        "nbr_id",
        cosine_rounded_arrow(4)(F.col("qv"), F.col("cv")).alias("cos"),
    )
    return _topk_per_query(scored, k, fanout)


def _sq_dist_expr(vec: Column, centroid: list[float]) -> Column:
    """Squared L2 distance to a literal centroid (sequential fold —
    element order fixed, matching the oracle's list_sum)."""
    c = F.array(*[F.lit(float(x)) for x in centroid])
    return F.aggregate(
        F.zip_with(vec, c, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def probe_cells_expr(vec: Column, centroids: list[list[float]], probes: int) -> Column:
    """The ``probes`` nearest centroid ids in distance order — the IVF
    multi-probe knob (each extra probe trades compute for recall).
    Distances are rounded to 1e-6 with an index tie-break (array_sort
    over struct<d,j> orders by d then j), the same choice rule as
    :func:`assign_cells_arrow` and the oracle's kmeans_cells_cte."""
    scored = F.array(
        *[
            F.named_struct(
                F.lit("d"), F.round(_sq_dist_expr(vec, c), 6),
                F.lit("j"), F.lit(j),
            )
            for j, c in enumerate(centroids)
        ]
    )
    return F.transform(
        F.slice(F.array_sort(scored), 1, probes), lambda s: s["j"]
    )


def assign_cells_arrow(centroids: list[list[float]]):
    """Argmin centroid id in a vectorized pandas UDF (the broadcast
    k-means assignment: centroids ride the closure, no shuffle).
    Squared distances accumulate dim-by-dim in numpy float64 ops
    (vectorized across rows, sequential across dimensions), the
    list_sum order of the oracle's kmeans_cells_cte; distances are
    rounded to 1e-6 and ties go to the first minimal index, so the
    choice is reproducible across engines and summation ulp drift."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    cents = np.array(centroids, dtype=np.float64)  # (k, dim)

    @pandas_udf("int")
    def assign(vecs: pd.Series) -> pd.Series:
        out = pd.Series(pd.NA, index=vecs.index, dtype="Int32")  # NULL vector: NULL cell
        known = vecs.notna()
        if known.any():
            v = np.array(vecs[known].tolist(), dtype=np.float64)  # (n, dim)
            d = np.zeros((v.shape[0], cents.shape[0]), dtype=np.float64)
            for i in range(cents.shape[1]):  # sequential over dims: oracle order
                diff = v[:, i][:, None] - cents[None, :, i]
                d += diff * diff
            out[known] = np.argmin(_round_half_away(d, 6), axis=1)
        return out

    return assign


def _train_sample(
    df: DataFrame, id_col: str, vec: Column, train_cap: int | None
) -> DataFrame:
    """The k-means training set: the ``train_cap`` rows smallest by
    (md5(id), id) — a deterministic, engine-independent hash order, so
    the DuckDB oracle selects the identical sample. Plans as a bounded
    per-partition top-k merge (TakeOrderedAndProject), never a global
    sort; the cap, not the corpus, bounds every training iteration.
    NULL vectors are left out: they have no place to train."""
    train = df.select(F.col(id_col).alias("_id"), vec.alias("v")).filter(
        F.col("v").isNotNull()
    )
    if train_cap:
        train = (
            train.orderBy(
                F.md5(F.col("_id").cast("string")).asc(), F.col("_id").asc()
            )
            .limit(train_cap)
        )
    return train


def kmeans_cells(
    df: DataFrame,
    k: int = 8,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_cap: int | None = 65536,
) -> tuple[DataFrame, list[list[float]]]:
    """Deterministic Lloyd's k-means coarse quantizer for IVF / embedding
    dedup: seeds = the k vectors with smallest ids in the TRAINING set,
    then ``iters`` rounds of (assign → recompute centroids) over the
    training set, then a final assign of the FULL corpus. Returns
    (df + ``cell`` column, final centroids).

    Determinism (the whole design): no RNG (id-ordered seeds; the
    training sample is the ``train_cap`` rows smallest by
    (md5(id), id) — an engine-independent deterministic hash order, the
    same trick as the conversation sampler), exact centroid math
    (components cast to DECIMAL(20,8) — group-by sums are exact, so
    partition/order of the reduce cannot change the result; mean =
    exact-sum cast to double / count), and rounded+tie-broken
    assignment. The DuckDB oracle (sqltext.kmeans_cells_cte) reproduces
    every step in SQL — cell assignments are value-oracled, which an
    RNG k-means could never be. A NULL vector is not trained on and
    gets a NULL ``cell``. When the corpus is smaller than
    ``train_cap`` the sample IS the corpus, so small-scale results are
    identical to exact training.

    Scale shape: centroid TRAINING touches only the hash sample — the
    per-iteration posexplode/groupBy shuffles ≤ train_cap×dim rows,
    independent of corpus size (an uncapped iteration at dim=768 over
    10^9 vectors would shuffle a 768×-inflated corpus per round). The
    sample lands via a bounded per-partition top-k merge
    (TakeOrderedAndProject), never a global sort. The full corpus is
    touched exactly once, by the final scan-speed assignment; centroids
    live on the driver (k×dim doubles) and enter the plan as a
    broadcast numpy array (:func:`assign_cells_arrow`).
    ``train_cap=None`` disables sampling (exact mode at any size).
    """
    vec = _as_double(F.col(vec_col))

    train = _train_sample(df, id_col, vec, train_cap).persist()
    try:
        seeds = [
            [float(x) for x in r["v"]]
            for r in train.orderBy(F.col("_id").asc()).limit(k).collect()
        ]
        cents = seeds
        for _ in range(iters):
            assigned = train.select(
                assign_cells_arrow(cents)(F.col("v")).alias("cell"),
                F.posexplode(F.col("v")).alias("pos", "x"),
            )
            sums = (
                assigned.groupBy("cell", "pos")
                .agg(
                    F.sum(F.col("x").cast("decimal(20,8)")).alias("s"),
                    F.count(F.lit(1)).alias("n"),
                )
                .collect()
            )
            by_cell: dict[int, dict[int, float]] = {}
            for r in sums:
                by_cell.setdefault(r["cell"], {})[r["pos"]] = float(r["s"]) / r["n"]
            prev = cents
            cents = [
                [by_cell[j][p] for p in range(len(prev[0]))] if j in by_cell else prev[j]
                for j in range(k)
            ]
    finally:
        train.unpersist()
    out = df.withColumn("cell", assign_cells_arrow(cents)(vec))
    return out, cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    cell_col: str = "label",
    fanout: int = 64,
    max_cell: int | None = None,
) -> DataFrame:
    """IVF-style ANN: search only the query's coarse cell. Recall < 1.0
    by design; the probe count (here 1 cell) is the recall/cost knob.

    Scale shape: the per-query rank is the bounded two-level form
    (:func:`_topk_per_query`) — a degenerate hot cell (up to the whole
    corpus in one cell) costs fanout-way parallel local sorts, never a
    single-task global sort. ``max_cell`` additionally drops corpus
    cells larger than the cap before the probe (the dedup._cap_buckets
    pattern — logged, never silent); a cell that big carries little
    neighborhood signal and the drop is an explicit recall/cost choice,
    so it is OFF by default and the oracle runs uncapped."""
    c = corpus.select(
        F.col("vec_id").alias("nbr_id"),
        F.col(cell_col).alias("cell"),
        _as_double(F.col("embedding")).alias("cv"),
    )
    if max_cell:
        from opentelemetry_collector_spark.operators.dedup import _cap_buckets

        c = _cap_buckets(c, ["cell"], max_cell, "ivf_topk probe cells")
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col(cell_col).alias("qcell"),
        _as_double(F.col("embedding")).alias("qv"),
    )
    scored = c.join(
        F.broadcast(q),
        (F.col("cell") == F.col("qcell")) & (F.col("query_id") != F.col("nbr_id")),
    ).select(
        "query_id",
        "nbr_id",
        cosine_rounded_arrow(4)(F.col("qv"), F.col("cv")).alias("cos"),
    )
    return _topk_per_query(scored, k, fanout)


def ivf_topk_probed(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    probes: int = 2,
) -> DataFrame:
    """Multi-probe IVF: each query searches its ``probes`` nearest
    k-means cells (probe_cells_expr over the broadcast centroids) —
    the standard recall/cost knob one level up from single-probe
    :func:`ivf_topk`. Cells are disjoint, so the probed candidate sets
    union without duplicates; the rank is the same bounded two-level
    form, keeping the top ``PROBED_TOP_K``. ``corpus`` must carry
    ``cell`` (the argmin assignment); measured recall vs exact is the
    ``ann_recall`` pattern."""
    c = corpus.select(
        F.col("vec_id").alias("nbr_id"),
        F.col("cell"),
        _as_double(F.col("embedding")).alias("cv"),
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.explode(
            probe_cells_expr(_as_double(F.col("embedding")), centroids, probes)
        ).alias("qcell"),
        _as_double(F.col("embedding")).alias("qv"),
    )
    scored = c.join(
        F.broadcast(q),
        (F.col("cell") == F.col("qcell")) & (F.col("query_id") != F.col("nbr_id")),
    ).select(
        "query_id",
        "nbr_id",
        cosine_rounded_arrow(4)(F.col("qv"), F.col("cv")).alias("cos"),
    )
    return _topk_per_query(scored, PROBED_TOP_K)


def lsh_planes(dim: int, n_planes: int = 8) -> list[list[float]]:
    """Deterministic random hyperplanes for sign-LSH bucketing:
    components derive from md5 of (plane, dim-index), uniform in
    [-1, 1] — no RNG, so the same constants are injected as literals
    into both the Spark plan and the DuckDB oracle. The standard
    random-hyperplane family: P(same bit) = 1 - angle/pi, so a
    ``n_planes``-bit bucket groups by cosine direction."""
    import hashlib

    return [
        [
            (int(hashlib.md5(f"{p}_{d}".encode()).hexdigest()[:8], 16) % 2001
             - 1000) / 1000.0
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def lsh_bucket_expr(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-LSH bucket id: bit p = (vec · plane_p >= 0), packed into an
    int. Pure fold arithmetic (JVM codegen, no UDF); the dot runs in
    the same sequential fold order as DuckDB's list_dot_product, so
    bucket ids are bit-identical cross-engine."""
    bucket = F.lit(0)
    for p, plane in enumerate(planes):
        dot = dot_expr(vec, F.array(*[F.lit(float(x)) for x in plane]))
        bucket = bucket + (dot >= 0).cast("int") * F.lit(1 << p)
    return bucket


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_planes: int = 8,
    dim: int | None = None,
    k: int = 5,
) -> DataFrame:
    """LSH-bucketed ANN — the other standard cell function next to the
    k-means IVF: candidates are corpus vectors in the query's sign-LSH
    bucket (cosine-direction cells, no training pass at all). Same
    bounded-rank machinery as :func:`ivf_topk`; the recall/cost knob is
    ``n_planes`` (fewer planes = bigger buckets = higher recall).
    Callers that know the vector length pass ``dim`` explicitly and
    skip the probe job entirely; only when ``dim`` is None does one
    tiny driver probe over the first NON-NULL vector derive it (an
    all-NULL/empty corpus has no derivable dim — that raises instead of
    degrading silently). An explicit dim is still guarded lazily: a
    WRONG dim would NULL every dot product via zip_with padding and
    silently return an empty top-k, so the vector column is wrapped in
    a size()==dim check that raises on the first mismatching row —
    one integer compare per row, no extra job."""
    if dim is not None:
        def _guard(df: DataFrame) -> DataFrame:
            return df.withColumn(
                "embedding",
                F.when(F.size(F.col("embedding")) == F.lit(dim), F.col("embedding"))
                .otherwise(F.raise_error(F.concat(
                    F.lit(f"lsh_topk: explicit dim={dim} but size(embedding)="),
                    F.size(F.col("embedding")).cast("string"),
                ))),
            )
        corpus = _guard(corpus)
        queries = _guard(queries)
    if dim is None:
        probe = (
            corpus.select(F.col("embedding").alias("_v"))
            .filter(F.col("_v").isNotNull())
            .first()
        )
        if probe is None:
            raise ValueError(
                "lsh_topk: corpus has no non-null 'embedding' vectors — "
                "cannot derive a hyperplane dimension"
            )
        dim = len(probe[0])
    planes = lsh_planes(dim, n_planes)
    bucket = lsh_bucket_expr(_as_double(F.col("embedding")), planes)
    return ivf_topk(
        corpus.withColumn("_lshb", bucket),
        queries.withColumn("_lshb", bucket),
        k=k, cell_col="_lshb",
    )


def quantize_int8(df: DataFrame) -> DataFrame:
    """Per-vector symmetric int8 quantization — the standard 4× storage
    cut for 100 TB embedding corpora (float32 → int8 + one float scale
    per vector): scale = max|x|/127, q_i = round(x_i/scale) ∈ [-127,
    127]. Pure fold/transform column math (codegen, no UDF), exactly
    invertible to within scale/2 per component; zero vectors quantize
    to zeros with scale 0. Search runs on the quantized arrays
    directly (cosine ignores the scale), so nothing here dequantizes."""
    v = _as_double(F.col("embedding"))
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = amax / F.lit(127.0)
    q = F.when(amax == 0.0, F.transform(v, lambda x: F.lit(0).cast("tinyint"))).otherwise(
        F.transform(v, lambda x: F.round(x / scale, 0).cast("tinyint"))
    )
    return df.select(
        F.col("vec_id"),
        scale.alias("q_scale"),
        q.alias("q_vec"),
    )
