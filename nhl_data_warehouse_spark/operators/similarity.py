"""Similarity search over embedding columns (``array<float>``).

Two tiers, mirroring how ANN systems scale:

- ``cosine_topk`` — brute-force exact scan: JVM-side ``zip_with`` +
  ``aggregate`` dot product (no Python in the hot path), full scan,
  top-k via ORDER/LIMIT. The correctness baseline, and genuinely the
  right plan when the query batch is small: one narrow map over the
  corpus, one tiny shuffle of k rows.
- ``lsh_hyperplane_buckets`` / ``ann_bucketed_topk`` — the scale path:
  deterministic random-hyperplane LSH. Each of ``n_planes``
  pseudo-random ±1 hyperplanes (derived from md5, so both engines and
  every executor agree without sharing state) contributes one sign
  bit; vectors sharing the bucket of the query are the only
  candidates scored. At 100TB the bucket column is a partition key:
  probing reads 1/2^n_planes of the corpus (partition pruning), which
  is the IVF idea with hash-derived instead of learned centroids.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nhl_data_warehouse_spark.operators.caching import pin

# fixed-point grain of embedding components: micro-units
_MICROS = 1_000_000

try:
    # Hint-resolution only (ADVICE r12): under ``from __future__ import
    # annotations`` a pandas_udf's string hints (``v: pd.Series``)
    # resolve in MODULE globals, so ``pd`` must live here for the
    # hint-based (non-deprecated) pandas_udf form to work. The try
    # keeps pandas a SOFT dependency of the module import — absent
    # pandas, every non-UDF operator still imports and runs; only the
    # pandas-UDF operators fail, at call time, as they always did.
    import pandas as pd
except ImportError:  # pragma: no cover - exercised via subprocess test
    pd = None


def _dot(a: Column, b: Column) -> Column:
    """Exact JVM-side dot product of two equal-length float arrays,
    computed in double (sequential left fold — deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine_topk(
    embeddings: DataFrame,
    query_vec: Column,
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine to ``query_vec`` (a literal array column,
    e.g. ``F.array(*[F.lit(x) for x in vec])`` or a 1-row broadcast).
    Ties broken by id for determinism. Cosine rounded to 6 dp so
    downstream comparisons are stable across engines.
    """
    cos = _dot(F.col("embedding"), query_vec) / (
        _norm(F.col("embedding")) * _norm(query_vec)
    )
    # + 0.0 maps -0.0 to +0.0 (orthogonal vectors can round to negative
    # zero in DuckDB while Spark's round clamps it — the driver's repr
    # hash distinguishes the two)
    scored = embeddings.select(
        F.col("vec_id"), (F.round(cos, 6) + F.lit(0.0)).alias("cosine")
    )
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id").asc()).limit(k)


def plane_signs(n_planes: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 hyperplane components: sign of plane p,
    component i = +1 iff the first hex digit of md5(f"{p}_{i}") is in
    '01234567'. Pure function of (p, i) — no RNG state to ship."""
    import hashlib

    planes = []
    for p in range(n_planes):
        row = []
        for i in range(dim):
            h = hashlib.md5(f"{p}_{i}".encode()).hexdigest()[0]
            row.append(1 if h in "01234567" else -1)
        planes.append(row)
    return planes


def lsh_hyperplane_buckets(
    embeddings: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Assign each vector an LSH bucket id in [0, 2^n_planes): bit p is
    the sign of the dot product with ±1 hyperplane p. Entirely
    JVM-side expression work — a narrow projection, no shuffle."""
    bucket = _lsh_bucket(F.col("embedding"), n_planes, dim)
    return embeddings.select("vec_id", "embedding", bucket.alias("bucket"))


def _lsh_bucket(vec: Column, n_planes: int, dim: int) -> Column:
    """The LSH bucket id of ``vec``: bit p is the sign of its dot
    product with ±1 hyperplane p."""
    bucket = F.lit(0)
    for p, signs in enumerate(plane_signs(n_planes, dim)):
        plane_col = F.array(*[F.lit(s) for s in signs])
        d = _dot(vec, plane_col)
        bucket = bucket + F.when(d > 0, F.shiftleft(F.lit(1), p)).otherwise(F.lit(0))
    return bucket


def _normed_self_join(
    df: DataFrame, key: str, id_col: str, vec_col: str
) -> tuple[DataFrame, DataFrame]:
    """``df`` with each vector's norm ``_nv`` folded once per row (a
    per-pair fold would redo two 64-element folds per candidate) and
    pinned, and its self-join on ``key``: (key, a_id, _va, _na, b_id,
    _vb, _nb)."""
    df = df.withColumn("_nv", _norm(F.col(vec_col)))
    df = pin(df)  # both self-join sides read it
    a = df.select(
        F.col(id_col).alias("a_id"),
        F.col(vec_col).alias("_va"),
        F.col("_nv").alias("_na"),
        key,
    )
    b = df.select(
        F.col(id_col).alias("b_id"),
        F.col(vec_col).alias("_vb"),
        F.col("_nv").alias("_nb"),
        key,
    )
    return df, a.join(b, on=key)


def _pair_cosine() -> Column:
    """6dp cosine of a ``_normed_self_join`` pair."""
    return F.round(
        _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")),
        6,
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: candidate pairs share a
    hyperplane-LSH bucket (never all pairs), then exact cosine filters
    at ``threshold``. The dedup analogue of MinHash banding for dense
    vectors.

    Scale shape: the self-join key is the bucket id, so shuffle fan-out
    is sum over buckets of n_b^2 — bounded by bucket granularity
    (more planes = smaller buckets = fewer candidates, lower recall).
    Cosine is computed once per surviving candidate pair.
    """
    bucketed = lsh_hyperplane_buckets(embeddings, n_planes, dim)
    _, pairs = _normed_self_join(bucketed, "bucket", "vec_id", "embedding")
    return (
        pairs.filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", _pair_cosine().alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def group_centroids(labeled: DataFrame) -> DataFrame:
    """Per-group mean embedding — class centroids / prototype vectors
    (label-conditioned means feed few-shot classifiers, per-domain
    IVF seeds, and drift monitors over embedding spaces). One
    posexplode to (label, dim) and one map-side-combined aggregate;
    shuffle is |labels| x dim rows however large the corpus.

    Determinism: each float widens exactly to double, is cast to
    DECIMAL(20,12) (identical half-up rounding on both engines — a
    divergence needs digit 13 to be an exact trailing '5', vanishingly
    rare for non-dyadic data), summed exactly, and divided once as a
    6dp-rounded double.
    """
    x = labeled.select("lang", F.posexplode(F.col("embedding")).alias("pos", "_v"))
    return (
        x.groupBy("lang", "pos")
        .agg(
            F.sum(F.col("_v").cast("double").cast("decimal(20,12)")).alias(
                "_s"
            ),
            F.count(F.lit(1)).alias("n_vectors"),
        )
        .select(
            "lang",
            "pos",
            (
                F.round(F.col("_s").cast("double") / F.col("n_vectors"), 6)
                + F.lit(0.0)
            ).alias("centroid"),
            "n_vectors",
        )
    )


def _bucketed_cosine_pairs(
    embeddings: DataFrame,
    n_planes: int,
    dim: int,
) -> DataFrame:
    """Directed candidate pairs inside shared LSH buckets with their
    exact 6dp cosine — the common core of the kNN join and hard-negative
    mining. Fan-out is sum over buckets of n_b^2 (never all-pairs)."""
    bucketed = lsh_hyperplane_buckets(embeddings, n_planes, dim)
    _, pairs = _normed_self_join(bucketed, "bucket", "vec_id", "embedding")
    cos = _pair_cosine() + F.lit(0.0)
    return pairs.filter(F.col("a_id") != F.col("b_id")).select(
        "a_id", "b_id", cos.alias("cosine")
    )


def knn_join_bucketed(
    embeddings: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    k: int = 3,
) -> DataFrame:
    """Batch approximate kNN JOIN: for EVERY vector, its top-k cosine
    neighbors among vectors sharing its LSH bucket — the kNN-graph
    build a curation/SemDeDup/graph-clustering pipeline runs over the
    whole corpus at once. The point at scale: all-queries ANN is a
    bucketed self-join plus a per-query window, ONE distributed job —
    not a driver-side loop of single probes (O(n) jobs).

    Shuffle shape: candidates form inside buckets only (fan-out
    sum n_b^2, tuned by n_planes); the rank window is partitioned by
    the query id, so top-k selection is parallel per query. Vectors
    alone in their bucket yield no rows — recall repair is the same
    multi-probe dial as ``ann_multiprobe_topk``.
    """
    scored = _bucketed_cosine_pairs(embeddings, n_planes, dim)
    from pyspark.sql.window import Window

    w = Window.partitionBy("a_id").orderBy(
        F.col("cosine").desc(), F.col("b_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("a_id", "b_id", "cosine", "rank")
    )


def hard_negative_pairs(
    embeddings: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    pos_threshold: float = 0.4,
    k: int = 2,
) -> DataFrame:
    """Contrastive-training hard-negative mining: per anchor, the most
    similar bucket-mates BELOW the positive threshold — candidates
    near the decision boundary (similar enough to share a hash bucket,
    dissimilar enough to be negatives), which are the negatives that
    carry gradient signal in embedding/classifier training.

    Same plan shape as the kNN join (bucketed candidates + per-anchor
    rank window); the threshold filter runs before the window, so
    window input shrinks with the positive set rather than growing
    with it.
    """
    scored = _bucketed_cosine_pairs(embeddings, n_planes, dim)
    negatives = scored.filter(F.col("cosine") < pos_threshold)
    from pyspark.sql.window import Window

    w = Window.partitionBy("a_id").orderBy(
        F.col("cosine").desc(), F.col("b_id").asc()
    )
    return (
        negatives.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("a_id", "b_id", "cosine", "rank")
    )


def semantic_dedup(
    embeddings: DataFrame,
    n_centroids: int = 8,
    threshold: float = 0.35,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus embeddings, then within each
    cluster drop every vector whose cosine to a LOWER-id cluster-mate
    is >= ``threshold`` — keeping exactly one representative (the
    lowest id) per semantic-duplicate group that is connected through
    lower ids. The clustering here is the deterministic IVF cell
    assignment, so the whole operator is the IVF build plus a
    within-cell self-join; plug trained k-means centroids in unchanged.

    Scale shape: pairwise comparison never crosses cell boundaries, so
    the self-join shuffles on cell_id and fan-out is sum over cells of
    n_c^2 — the cluster count is the knob that keeps cells small
    (SemDeDup uses ~100k clusters at web scale). No all-pairs anywhere;
    the duplicate-id set is a distinct projection that anti-joins back.

    Returns the KEPT rows as (id, cell_id).
    """
    assigned = ivf_assign(embeddings, n_centroids)
    # the pinned frame feeds the pair build (2 sides) + final anti-join
    assigned, pairs = _normed_self_join(assigned, "cell_id", "vec_id", "embedding")
    dup_ids = (
        pairs.filter(F.col("a_id") < F.col("b_id"))
        .select("b_id", _pair_cosine().alias("_cos"))
        .filter(F.col("_cos") >= threshold)
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
    )
    return assigned.join(dup_ids, on="vec_id", how="left_anti").select(
        "vec_id", "cell_id"
    )


def ivf_assign(
    embeddings: DataFrame,
    n_centroids: int = 8,
) -> DataFrame:
    """IVF cell assignment with deterministic seed centroids (the first
    ``n_centroids`` vectors by id stand in for k-means centroids —
    the *index structure* is what matters; plug trained centroids in
    unchanged): each vector joins the broadcast centroid set and keeps
    its argmax-cosine cell (6dp-rounded, ties to the lower cell id).

    At scale the cell id becomes the storage partition key, so a probe
    reads only its cell's partitions — the IVF pruning idea expressed
    as ordinary partition pruning.
    """
    centroids = embeddings.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cell_id"),
        F.col("embedding").alias("_cv"),
        _norm(F.col("embedding")).alias("_nc"),
    )
    cos = F.round(
        _dot(F.col("embedding"), F.col("_cv")) / (F.col("_nvec") * F.col("_nc")),
        6,
    )
    scored = (
        embeddings.withColumn("_nvec", _norm(F.col("embedding")))
        .crossJoin(F.broadcast(centroids))
        .select("vec_id", "embedding", "cell_id", cos.alias("_cos"))
    )
    # argmax via min_by over struct(-cos, cell_id): lexicographic struct
    # ordering encodes the tie-break (lower cell id), and the groupBy
    # gets map-side partial aggregation — shuffles one row per vector
    # instead of sort-shuffling all n*k scored rows (a window argmin
    # would). At 100 TB * k centroids that is the whole ballgame.
    best = (
        scored.groupBy("vec_id")
        .agg(
            F.min_by(
                F.struct(F.col("cell_id"), F.col("embedding").alias("_v")),
                F.struct(F.negate(F.col("_cos")), F.col("cell_id")),
            ).alias("_best")
        )
        .select("vec_id", F.col("_best._v").alias("embedding"), F.col("_best.cell_id"))
    )
    return best.select("vec_id", "embedding", "cell_id")


def ivf_topk(
    embeddings: DataFrame,
    query_vec: Column,
    n_centroids: int = 8,
    k: int = 10,
    nprobe: int = 1,
) -> DataFrame:
    """IVF probe: exact cosine top-k scored only within the ``nprobe``
    cells whose centroids are nearest the query — nprobe=1 is the
    cheapest probe, larger values buy recall at a linear candidate-set
    cost (the IVF twin of multi-probe LSH's bit flips).

    The probed-cell set is a k-row ORDER/LIMIT over the centroid table
    (tiny at any scale) broadcast into the candidate semi-join, so the
    scan still prunes to the probed cells' partitions.
    """
    assigned = ivf_assign(embeddings, n_centroids)
    assigned = pin(assigned)  # probe lookup + candidate scan share it
    if nprobe <= 1:
        qcells = assigned.filter(F.col("vec_id") == 0).select("cell_id")
    else:
        centroids = embeddings.filter(F.col("vec_id") < n_centroids).select(
            F.col("vec_id").alias("cell_id"), F.col("embedding").alias("_cv")
        )
        qcos = F.round(
            _dot(F.col("_cv"), query_vec) / (_norm(F.col("_cv")) * _norm(query_vec)),
            6,
        )
        qcells = (
            centroids.select("cell_id", qcos.alias("_qc"))
            .orderBy(F.col("_qc").desc(), F.col("cell_id").asc())
            .limit(nprobe)
            .select("cell_id")
        )
    cand = assigned.join(F.broadcast(qcells), on="cell_id").select("vec_id", "embedding")
    return cosine_topk(cand, query_vec, k=k)


def ann_bucketed_topk(
    embeddings: DataFrame,
    query_vec: Column,
    n_planes: int = 8,
    dim: int = 64,
    k: int = 10,
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's LSH bucket.

    With the bucket as a storage partition key this is partition
    pruning — the scan touches ~1/2^n_planes of the data. Recall is
    tunable via n_planes (fewer planes = bigger buckets = higher
    recall, more work) or multi-probe (union adjacent buckets).
    """
    bucketed = lsh_hyperplane_buckets(embeddings, n_planes, dim)
    qb = _lsh_bucket(query_vec, n_planes, dim)
    candidates = bucketed.filter(F.col("bucket") == qb)
    return cosine_topk(candidates, query_vec, k=k)


def vector_stats_pandas(df: DataFrame) -> DataFrame:
    """Per-vector stats (dim, L2 norm, max |component|) via a scalar
    **Pandas UDF** — the Arrow-vectorized Python path. The engine's
    hot relational code stays JVM-side, but embedding pipelines
    routinely need numpy (normalization, quantization, PQ codebooks);
    this operator is the template: one Arrow batch in, numpy math,
    one Arrow batch out — per-row Python never runs.

    Norms are rounded to 6 dp (numpy's pairwise summation and an
    engine's sequential fold differ in the last ulp; the rounding
    absorbs it — suite-wide convention).
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    # unannotated signature = SCALAR pandas_udf (the default flavor);
    # the guarded module-level ``pd`` exists for the hint-based
    # GROUPED_AGG UDFs elsewhere in this module
    @pandas_udf("double")
    def l2_norm(v):
        return v.map(
            lambda a: round(float(np.sqrt(np.sum(np.asarray(a, dtype=np.float64) ** 2))), 6)
        )

    @pandas_udf("double")
    def max_abs(v):
        return v.map(
            lambda a: float(np.max(np.abs(np.asarray(a, dtype=np.float64))))
        )

    return df.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        # double, not DECIMAL: the driver floats the oracle's decimals,
        # so a Decimal in the final schema can never hash-match (W1)
        l2_norm(F.col("embedding")).alias("l2_norm"),
        max_abs(F.col("embedding")).alias("max_abs_component"),
    )


def _sqdist(a: Column, b: Column) -> Column:
    """Exact squared L2 distance of two equal-length float arrays, in
    double (sequential left fold)."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _subvectors(dim: int, m: int) -> Column:
    """Explode the vector into one ``sv`` row (subspace, subvec) per
    each of its ``m`` equal slices."""
    d_sub = dim // m
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(s).alias("subspace"),
                    F.slice(F.col("embedding"), s * d_sub + 1, d_sub).alias("subvec"),
                )
                for s in range(m)
            ]
        )
    ).alias("sv")


def pq_encode(
    embeddings: DataFrame,
    dim: int,
    m: int = 4,
    n_codes: int = 8,
) -> DataFrame:
    """Product-quantization encode: the vector splits into ``m``
    subvectors; each subspace has its own codebook (deterministic seed:
    the first ``n_codes`` vectors' subvectors — swap trained codebooks
    in unchanged) and each subvector is assigned its argmin-L2 code
    (6dp-rounded distance, ties to the lower code id). Returns one row
    per (vec, subspace): (id, subspace, code, dist).

    This is the memory side of ANN at 100 TB: m codes of log2(k) bits
    replace dim floats (here 64 floats -> 4 bytes), codebooks are a
    broadcast constant, and encoding is a narrow scan projection —
    no shuffle except the tiny argmin window keyed by (vec, subspace).
    IVF (ivf_assign) prunes which vectors to score; PQ shrinks what
    each scoring touches — together they are the standard IVFPQ index.
    """
    assert dim % m == 0
    subs = _subvectors(dim, m)
    vec_subs = embeddings.select(F.col("vec_id"), subs).select(
        "vec_id", "sv.subspace", "sv.subvec"
    )
    code_subs = (
        embeddings.filter(F.col("vec_id") < n_codes)
        .select(F.col("vec_id").alias("code_id"), subs)
        .select("code_id", "sv.subspace", F.col("sv.subvec").alias("codevec"))
    )
    sqdist = _sqdist(F.col("subvec"), F.col("codevec"))
    scored = vec_subs.join(F.broadcast(code_subs), on="subspace").select(
        "vec_id",
        "subspace",
        "code_id",
        F.round(sqdist, 6).alias("dist"),
    )
    # argmin via min_by over struct(dist, code_id) — partial agg, one
    # shuffled row per (vec, subspace) instead of a window sort over
    # the n_codes-wide scored set (see ivf_assign).
    return (
        scored.groupBy("vec_id", "subspace")
        .agg(
            F.min_by(
                F.struct(F.col("code_id"), F.col("dist")),
                F.struct(F.col("dist"), F.col("code_id")),
            ).alias("_best")
        )
        .select(
            "vec_id",
            "subspace",
            F.col("_best.code_id").alias("code"),
            F.col("_best.dist").alias("dist"),
        )
    )


def ivfpq_topk(
    embeddings: DataFrame,
    n_centroids: int = 8,
    dim: int = 64,
    m: int = 4,
    n_codes: int = 8,
    k: int = 10,
) -> DataFrame:
    """IVFPQ probe — the full standard ANN index: IVF prunes WHICH
    vectors to score (only the query's cell), PQ codes shrink WHAT
    scoring reads (codes, not raw floats), and the query is scored by
    **asymmetric distance computation**: the exact query subvectors
    against each subspace codebook give a (m x n_codes) lookup table,
    so a candidate's distance is m table lookups + adds — no float
    arrays are touched per candidate.

    Determinism: each (subspace, code) partial distance is 6dp-rounded
    and carried as DECIMAL, so the per-candidate sum of m partials is
    exact and order-free. Returns (id, adc_dist) for the k closest
    candidates (ascending distance, ties to lower id).

    Scale: the code table is (rows x m) tiny ints partitioned by cell;
    the ADC lookup table is a broadcast constant; the probe reads one
    cell's partitions and shuffles only the k winners.
    """
    assigned = ivf_assign(embeddings, n_centroids)
    assigned = pin(assigned)  # query-cell lookup + candidate scan
    qcell = assigned.filter(F.col("vec_id") == 0).select("cell_id")
    cand_ids = assigned.join(F.broadcast(qcell), on="cell_id").select("vec_id")
    codes = pq_encode(embeddings, dim, m, n_codes).select("vec_id", "subspace", "code")
    subs = _subvectors(dim, m)
    qsubs = (
        embeddings.filter(F.col("vec_id") == 0)
        .select(subs)
        .select("sv.subspace", F.col("sv.subvec").alias("qsub"))
    )
    cbook = (
        embeddings.filter(F.col("vec_id") < n_codes)
        .select(F.col("vec_id").alias("code"), subs)
        .select("code", "sv.subspace", F.col("sv.subvec").alias("codevec"))
    )
    sqdist = _sqdist(F.col("qsub"), F.col("codevec"))
    adc = qsubs.join(cbook, on="subspace").select(
        "subspace",
        "code",
        F.round(sqdist, 6).cast("decimal(18,6)").alias("qd"),
    )
    return (
        codes.join(cand_ids, on="vec_id")
        .join(F.broadcast(adc), on=["subspace", "code"])
        .groupBy("vec_id")
        # exact decimal sum internally; final projection is double (the
        # driver floats oracle decimals, so DECIMAL outputs never match)
        .agg(F.sum("qd").cast("double").alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
        .limit(k)
    )


def kmeans_lloyd_step(
    embeddings: DataFrame,
    n_centroids: int = 8,
) -> DataFrame:
    """One synchronous Lloyd iteration — the building block every
    iterative clustering loop (k-means, IVF centroid training, semantic
    dedup) repeats: assign each vector to its nearest centroid
    (squared-L2, 6dp-rounded, ties to the lower cell id), then
    recompute each centroid as the element-wise mean of its members.
    Seed centroids are the first ``n_centroids`` vectors by id (the
    deterministic stand-in the IVF family also uses); a training loop
    feeds the returned means back in unchanged.

    Returns one row per (cell_id, dim): ``n_members`` and the 6dp
    ``centroid_val``. Per-element values are rounded to 12dp and summed
    as DECIMAL so the mean is order-free (the pagerank/zscore exact-sum
    convention) — a re-run on any partitioning, or any other engine,
    reproduces it bit-for-bit.

    Scale: centroid set is k rows -> broadcast; assignment is a narrow
    map over the (100 TB) vector side; recompute shuffles (cell, dim)
    partial sums only — map-side combine makes the shuffle ~k*dim rows
    per task, independent of input size.
    """
    centroids = embeddings.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("_cv")
    )
    sqdist = _sqdist(F.col("embedding"), F.col("_cv"))
    scored = embeddings.crossJoin(F.broadcast(centroids)).select(
        "vec_id",
        "embedding",
        "cell_id",
        F.round(sqdist, 6).alias("_d"),
    )
    # argmin via min_by over struct(dist, cell_id) — partial agg, one
    # shuffled row per vector instead of a window sort over n*k rows.
    assigned = (
        scored.groupBy("vec_id")
        .agg(
            F.min_by(
                F.struct(F.col("cell_id"), F.col("embedding").alias("_v")),
                F.struct(F.col("_d"), F.col("cell_id")),
            ).alias("_best")
        )
        .select(F.col("_best.cell_id").alias("cell_id"), F.col("_best._v").alias("embedding"))
    )
    exploded = assigned.select("cell_id", F.posexplode("embedding").alias("dim", "_x"))
    exact = F.round(F.col("_x").cast("double"), 12).cast("decimal(20,12)")
    return exploded.groupBy("cell_id", "dim").agg(
        F.count(F.lit(1)).alias("n_members"),
        # + 0.0 normalizes -0.0 (negative component means rounding to
        # zero): see cosine_topk
        (F.round(F.sum(exact).cast("double") / F.count(F.lit(1)), 6) + F.lit(0.0)).alias(
            "centroid_val"
        ),
    )


def quantize_embeddings_int8(df: DataFrame) -> DataFrame:
    """Per-vector affine int8 quantization — the 4x memory/bandwidth
    reduction serving and coarse-scoring layers apply to embedding
    stores (float32 -> int8 with per-vector (min, max) dequant params).

    q_i = floor((x_i - vmin) * 255 / (vmax - vmin)) - 128, clamped to
    [-128, 127]; constant vectors quantize to 0. Codes are returned as
    a comma-joined string (``q_codes``) plus the dequant params — a
    flat, engine-portable representation.

    Everything is array-expression work (aggregate for min/max,
    transform for the code map) inside whole-stage codegen: a narrow
    per-row projection, no shuffle, no Python — at 100 TB this is a
    single streaming pass over the vector column.
    """
    x0 = F.element_at(F.col("embedding"), 1).cast("double")
    vmin = F.aggregate(
        F.col("embedding"), x0, lambda acc, x: F.least(acc, x.cast("double"))
    )
    vmax = F.aggregate(
        F.col("embedding"), x0, lambda acc, x: F.greatest(acc, x.cast("double"))
    )
    with_range = df.select(
        F.col("vec_id"), F.col("embedding"), vmin.alias("vmin"), vmax.alias("vmax")
    )

    def code(x):
        raw = F.floor(
            ((x.cast("double") - F.col("vmin")) * F.lit(255.0))
            / (F.col("vmax") - F.col("vmin"))
        ) - F.lit(128)
        clamped = F.least(F.greatest(raw, F.lit(-128)), F.lit(127))
        return F.when(F.col("vmax") == F.col("vmin"), F.lit(0)).otherwise(clamped)

    return with_range.select(
        "vec_id",
        "vmin",
        "vmax",
        F.size("embedding").alias("dim"),
        F.concat_ws(
            ",", F.transform(F.col("embedding"), lambda x: code(x).cast("string"))
        ).alias("q_codes"),
    )


def ann_multiprobe_topk(
    embeddings: DataFrame,
    query_vec: Column,
    k: int = 10,
) -> DataFrame:
    """Multi-probe LSH top-k (Lv et al., VLDB'07): score the query's
    bucket AND every bucket one sign-bit flip away — the standard
    recall repair for hyperplane LSH, trading a bounded candidate-set
    growth (1 + 8 buckets of 8 planes over 64 dims) for the
    neighbors a single-bucket probe misses when the query sits near a
    hyperplane.

    The probe set is a pure bit-arithmetic predicate
    (``bit_count(bucket XOR query_bucket) <= 1``) — at 100 TB
    with the bucket as partition key this still prunes to the probed
    buckets' partitions; candidates then rank by exact cosine.
    """
    bucketed = lsh_hyperplane_buckets(embeddings, 8, 64)
    qb = _lsh_bucket(query_vec, 8, 64)
    candidates = bucketed.filter(F.bit_count(F.col("bucket").bitwiseXOR(qb)) <= 1)
    return cosine_topk(candidates, query_vec, k=k)


def gram_matrix(embeddings: DataFrame) -> DataFrame:
    """Upper-triangular Gram matrix G[i,j] = sum_rows x_i * x_j over
    the whole corpus — the single-pass sufficient statistic behind
    PCA/whitening/covariance of an embedding table (covariance =
    G/n - mean outer mean, derivable from this plus the mean vector).

    Cross-engine determinism: float components are fixed-pointed first
    (round(x * _MICROS) as int64), so every product and every partial
    sum is EXACT integer arithmetic — the suite's decimal convention
    applied to float vectors, immune to distributed summation order.
    The final projection divides back by _MICROS^2 into a rounded
    double. Bound: |sum of products| must stay under 2^63 — with
    |x| <= 16 and the 1e6 grain that allows ~3.6e4 rows per dimension
    pair times 1e9 … i.e. ~10^10 rows; a coarser grain trades
    precision for headroom at larger corpora.

    Scale design: the d*(d+1)/2 cell terms are generated by a narrow
    per-row ``transform``/``slice`` (no self-join on vec_id — the
    naive formulation), and the only shuffle is a groupBy over at
    most d*(d+1)/2 = 2080 (d=64) keys with map-side partial sums:
    per-executor traffic is O(d^2) regardless of row count — the
    right 100 TB plan for X^T X at embedding dimensionality.
    """
    s = float(_MICROS)
    sc = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * F.lit(s), 0).cast("long"),
    )
    base = embeddings.select(sc.alias("_s"))
    cells = base.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("_s"),
                    lambda x, i: F.transform(
                        F.slice(F.col("_s"), i + F.lit(1), F.size(F.col("_s")) - i),
                        lambda y, j0: F.struct(
                            i.alias("i"), (i + j0).alias("j"), (x * y).alias("p")
                        ),
                    ),
                )
            )
        ).alias("c")
    )
    return (
        cells.groupBy(
            F.col("c.i").cast("long").alias("i"),
            F.col("c.j").cast("long").alias("j"),
        )
        .agg(
            (
                F.round(F.sum("c.p").cast("double") / F.lit(s * s), 6) + F.lit(0.0)
            ).alias("gram")
        )
    )


def _rounded_cos(a: str, b: str, na: str, nb: str) -> Column:
    """6dp cosine of array columns ``a``/``b`` from their folded norms."""
    return (
        F.round(_dot(F.col(a), F.col(b)) / (F.col(na) * F.col(nb)), 6) + F.lit(0.0)
    ).alias("_cos")


def _recall_at_k(
    embeddings: DataFrame,
    approx_pairs: Callable[[DataFrame, DataFrame], DataFrame],
    k: int,
    sample_mod: int,
    prefix_dim: int | None = None,
) -> DataFrame:
    """Recall@k per sampled query (``id % sample_mod == 0``) of an
    approximate top-k arm against the exact cosine scan — the body of
    the ``*_recall_at_k`` evals.

    ``approx_pairs(corpus, qs)`` returns the approx arm's candidate
    (query, vector) rows: corpus columns plus the query's ``query_id``,
    ``_qe`` and ``_nq``. The exact arm broadcasts only the query
    sample against the corpus (map-side only). Both arms rank by the
    6dp cosine with id tie-break; with ``prefix_dim`` the approx arm
    ranks by the cosine of the first ``prefix_dim`` coordinates.
    """
    import pyspark.sql.window as W

    # norms are per-VECTOR quantities: fold them once per row on each
    # side before the pair join — folding them per PAIR (the naive
    # form) re-runs two 64-element folds for every candidate, ~3x the
    # expression work at eval scale
    corpus = embeddings.withColumn("_nv", _norm(F.col("embedding")))
    q_cols = [
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_qe"),
        F.col("_nv").alias("_nq"),
    ]
    approx_cos = _rounded_cos("embedding", "_qe", "_nv", "_nq")
    if prefix_dim is not None:
        pre = F.slice(F.col("embedding"), 1, prefix_dim)
        corpus = corpus.withColumn("_pv", pre).withColumn("_np", _norm(pre))
        q_cols += [F.col("_pv").alias("_qp"), F.col("_np").alias("_nqp")]
        approx_cos = _rounded_cos("_pv", "_qp", "_np", "_nqp")
    qs = corpus.filter((F.col("vec_id") % sample_mod) == 0).select(*q_cols)
    w = W.Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("vec_id").asc()
    )

    def top_k(pairs: DataFrame, cos: Column) -> DataFrame:
        return (
            pairs.select("query_id", "vec_id", cos)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
        )

    exact_top = top_k(
        corpus.join(F.broadcast(qs), F.col("vec_id") != F.col("query_id")),
        _rounded_cos("embedding", "_qe", "_nv", "_nq"),
    ).select("query_id", "vec_id")
    # alias BOTH output columns: the exact and approx arms share
    # lineage from the corpus frame, so joining on a same-named
    # query_id would lean on Spark's ambiguous-self-join rewrite (it
    # logs "trivially true equals predicate"); distinct names make the
    # join condition unambiguous by construction
    approx_top = top_k(approx_pairs(corpus, qs), approx_cos).select(
        F.col("query_id").alias("_q2"), F.col("vec_id").alias("_hit_id")
    )
    return (
        exact_top.join(
            approx_top,
            (F.col("query_id") == F.col("_q2"))
            & (F.col("vec_id") == F.col("_hit_id")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("_hit_id").alias("n_hit"),
        )
        .select(
            "query_id",
            "n_exact",
            "n_hit",
            (F.round(F.col("n_hit") / F.col("n_exact"), 6) + F.lit(0.0)).alias(
                "recall_at_k"
            ),
        )
    )


def ann_recall_at_k(
    embeddings: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    k: int = 10,
    sample_mod: int = 25,
) -> DataFrame:
    """Recall@k of single-bucket hyperplane-LSH ANN against the exact
    scan, per sampled query — the evaluation harness every ANN
    deployment needs before trusting an index at scale. Queries are
    the deterministic sample ``id % sample_mod == 0``; for each, the
    exact cosine top-k (ground truth) is compared with the top-k
    among the query's LSH bucket-mates, and the hit fraction
    reported.

    Scale design: ground truth is the expensive arm by construction —
    it runs |sample|/|corpus| of the all-pairs work by broadcasting
    only the sampled query vectors against the full table (a
    map-side-only broadcast join, no shuffle of the corpus); the
    approx arm joins inside LSH buckets exactly like the production
    probe path. Both arms rank by the 6dp-rounded cosine with id
    tie-break, so rank sets are engine-stable. Evaluation over a
    sample (not all queries) is what keeps this runnable at 100 TB —
    grow ``sample_mod`` with the corpus.
    """

    def approx_pairs(corpus: DataFrame, qs: DataFrame) -> DataFrame:
        buckets = lsh_hyperplane_buckets(
            corpus, n_planes=n_planes, dim=dim
        ).join(corpus.select("vec_id", "_nv"), on="vec_id")
        qb = (
            buckets.join(
                F.broadcast(qs.select("query_id", "_nq")),
                F.col("vec_id") == F.col("query_id"),
            )
            .select("query_id", F.col("embedding").alias("_qe"), "_nq", F.col("bucket"))
        )
        return buckets.join(F.broadcast(qb), "bucket").filter(
            F.col("vec_id") != F.col("query_id")
        )

    return _recall_at_k(embeddings, approx_pairs, k, sample_mod)


def standardize_embeddings(embeddings: DataFrame) -> DataFrame:
    """Per-dimension z-score standardization of an embedding table —
    the feature-normalization pass before clustering / linear probing
    / whitening, emitted long-form as (id, dim, zscore).

    Determinism without rounding: components are fixed-pointed
    (round(x*_MICROS) as int64); per-dim sufficient statistics (n, S,
    SS) are EXACT (SS summed as DECIMAL(38,0) — n*SS overflows int64
    at ~1e4 rows x 64 dims, and DuckDB's HUGEINT must be matched by
    an exact type, not a double accumulator). The z closed form
    cancels n: z = (x*n - S) / sqrt(n*SS - S^2) — one fixed sequence
    of exact-int casts and IEEE ops, bit-stable across engines.
    Constant dimensions (zero variance) emit NULL. Bound: |x*n - S|
    must fit int64 — holds to ~1e11 rows at the 1e6 grain.

    Scale design: one narrow fixed-point pass + posexplode, a
    64-key groupBy with map-side partials, and a broadcast join of
    the 64-row stats back onto the stream. No global state beyond
    d rows.
    """
    s = float(_MICROS)
    sc = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * F.lit(s), 0).cast("long"),
    )
    ex = embeddings.select(
        F.col("vec_id"), F.posexplode(sc).alias("i", "x6")
    ).withColumn("i", F.col("i").cast("long"))
    dec = "decimal(38,0)"
    stats = ex.groupBy("i").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x6").alias("s_"),
        F.sum(F.col("x6").cast(dec) * F.col("x6").cast(dec)).alias("ss"),
    )
    num = (
        F.col("n").cast(dec) * F.col("ss")
        - F.col("s_").cast(dec) * F.col("s_").cast(dec)
    )
    z = (F.col("x6") * F.col("n") - F.col("s_")).cast("double") / F.sqrt(
        num.cast("double")
    )
    return (
        ex.join(F.broadcast(stats), on="i")
        .select(
            "vec_id",
            "i",
            F.when(num != 0, z).alias("zscore"),
        )
    )


def ivf_recall_at_k(
    embeddings: DataFrame,
    n_centroids: int = 8,
    k: int = 10,
    sample_mod: int = 25,
) -> DataFrame:
    """Recall@k of the IVF nprobe=1 probe against the exact scan over
    the deterministic query sample ``id % sample_mod == 0`` — the IVF
    twin of ``ann_recall_at_k``, measuring what single-cell pruning
    costs in recall before raising nprobe. Same architecture: the
    ground-truth arm broadcasts only the sampled queries (map-side
    only); the approx arm joins inside the query's assigned cell
    exactly like the production probe.
    """

    def approx_pairs(corpus: DataFrame, qs: DataFrame) -> DataFrame:
        assigned = ivf_assign(
            embeddings, n_centroids=n_centroids
        ).join(corpus.select("vec_id", "_nv"), on="vec_id")
        qc = assigned.join(
            F.broadcast(qs.select("query_id", "_nq")),
            F.col("vec_id") == F.col("query_id"),
        ).select("query_id", F.col("embedding").alias("_qe"), "_nq", F.col("cell_id"))
        return assigned.join(F.broadcast(qc), "cell_id").filter(
            F.col("vec_id") != F.col("query_id")
        )

    return _recall_at_k(embeddings, approx_pairs, k, sample_mod)


def matryoshka_recall_at_k(
    embeddings: DataFrame,
    prefix_dim: int = 16,
    k: int = 10,
    sample_mod: int = 25,
) -> DataFrame:
    """Recall@k of TRUNCATED-dimension cosine search against the
    full-dimension exact scan — the Matryoshka/MRL evaluation: if the
    first ``prefix_dim`` coordinates preserve the neighborhood
    structure, an index can store/search the short prefix (4x less
    memory and bandwidth at 16 of 64 dims) and re-rank the shortlist
    with full vectors; this reports exactly what that truncation
    costs in recall, per sampled query. The decision gate before
    adopting prefix-dim ANN at 100 TB — where vector bytes, not
    compute, dominate the bill.

    Architecture mirrors ``ivf_recall_at_k``: both arms broadcast
    only the deterministic query sample (``id % sample_mod == 0``) —
    map-side scans, no shuffle of the corpus; per-side norms (full
    and prefix) fold once per row, never per pair; cosines round 6dp
    (the suite's cosine rule) with id-ascending tie-break, so both
    top-k sets are exactly reproducible cross-engine. Declared eval
    baseline: the brute-force arms are the measurement, the
    production path is the bucketed/IVF family.
    """
    return _recall_at_k(
        embeddings,
        lambda corpus, qs: corpus.join(
            F.broadcast(qs), F.col("vec_id") != F.col("query_id")
        ),
        k,
        sample_mod,
        prefix_dim=prefix_dim,
    )


def gram_power_step(embeddings: DataFrame) -> DataFrame:
    """One power-iteration step toward the corpus's top principal
    direction: v1 = G·1 / ||G·1|| on the exact fixed-point Gram
    matrix — the distributed half of PCA (the full pattern: corpus
    reduces to the O(d^2) Gram in one pass, the d x d eigensolve is
    driver-side/offline, and the resulting component broadcasts back
    for projection; this operator IS that reduce-then-matvec step,
    iterate for convergence).

    Determinism: Gram cells are 6dp decimals by construction
    (``gram_matrix``); the matvec and the norm accumulate as DECIMAL
    (exact under any aggregation order — products kept at (18,6) x
    (18,6) -> (37,12) so neither engine's precision-capping rules
    trigger); the final component is one division of deterministic
    doubles, no rounding. Scale: everything after the Gram pass
    touches only d and d^2-row relations.
    """
    cells = gram_matrix(embeddings)
    full = cells.unionByName(
        cells.filter(F.col("i") < F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), F.col("gram")
        )
    )
    w = full.groupBy("i").agg(
        F.sum(F.col("gram").cast("decimal(24,6)"))
        .cast("decimal(18,6)")
        .alias("_w")
    )
    nrm = w.agg(
        F.sqrt(
            F.sum(F.col("_w") * F.col("_w")).cast("double")
        ).alias("_n")
    )
    return (
        w.crossJoin(F.broadcast(nrm))
        .select(
            "i",
            (F.col("_w").cast("double") / F.col("_n")).alias("component"),
        )
    )


def embedding_robust_profile(
    embeddings: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension ROBUST profile of an embedding corpus: median,
    MAD, and the robust-z outlier count (|x - med| > 3 * 1.4826 *
    mad) for each coordinate — the rank-based twin of
    ``embedding_standardize``'s mean/std moments. Robust statistics
    are what an embedding QA gate actually wants: one corrupted
    vector (a NaN-replaced batch, an unnormalized import) moves a
    dimension's stddev arbitrarily but its MAD not at all, so the
    outlier column localizes WHICH dims carry junk mass.

    Determinism: numpy's interpolated median over exact doubles
    matches DuckDB's ``median``/``mad`` bit-for-bit (the
    ``mad_by_group`` contract); the outlier threshold is the same
    fixed product of doubles on both engines; counts are integers.

    Scale contract: one posexplode (d x n rows, narrow), one
    GROUPED_AGG pandas aggregate over the BOUNDED dimension grain —
    64 groups, each materializing one Arrow batch of n doubles (the
    grouped-agg boundedness contract: dims are bounded, rows are
    not, so the group axis must be the bounded one — which it is).
    """
    # Hint-based GROUPED_AGG form (the ``pd.Series -> scalar``
    # signature selects the aggregate flavor): the explicit
    # ``PandasUDFType.GROUPED_AGG`` enum has been deprecated since
    # Spark 3.0 and warns on PySpark 4.1.2 (ADVICE r12). The hint
    # strings resolve against the module-level guarded ``pd`` import
    # above, so postponed annotation evaluation is no obstacle.
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _med(v: pd.Series) -> float:
        a = v.dropna().to_numpy(dtype="float64")
        return float(np.median(a)) if a.size else None

    @pandas_udf("double")
    def _mad(v: pd.Series) -> float:
        a = v.dropna().to_numpy(dtype="float64")
        if a.size == 0:
            return None
        return float(np.median(np.abs(a - np.median(a))))

    @pandas_udf("long")
    def _nout(v: pd.Series) -> int:
        a = v.dropna().to_numpy(dtype="float64")
        if a.size == 0:
            return 0
        m = np.median(a)
        md = np.median(np.abs(a - m))
        return int((np.abs(a - m) > 3.0 * 1.4826 * md).sum())

    @pandas_udf("long")
    def _n(v: pd.Series) -> int:
        return int(v.dropna().size)

    vals = embeddings.select(
        F.posexplode(F.col(vec_col)).alias("d0", "x")
    ).select((F.col("d0") + 1).cast("long").alias("dim"), "x")
    return vals.groupBy("dim").agg(
        _n(F.col("x")).alias("n"),
        _med(F.col("x")).alias("med"),
        _mad(F.col("x")).alias("mad"),
        _nout(F.col("x")).alias("n_outliers"),
    )
