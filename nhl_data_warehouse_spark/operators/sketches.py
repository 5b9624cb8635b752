"""Mergeable frequency sketches with engine-portable determinism.

``approx_count_distinct`` / ``percentile_approx`` cover the HLL and
t-digest paths (suite queries ``approx_distinct_users`` /
``approx_value_percentiles``) but their estimates are engine-specific.
The count-min sketch here is different: its hash rows are md5-prefix
buckets, so the ENTIRE sketch — counters and estimates — is exact,
reproducible integer arithmetic in any engine that has md5. That's
what lets the driver hash-match a sketch, and what a 100 TB pipeline
wants anyway: CMS counters are a map-side-combinable groupBy
(4 x 256 cells per partition), merged by addition, never a shuffle of
raw tokens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nhl_data_warehouse_spark.operators.caching import pin

# depth-4 hash family: salted md5, first 2 hex chars = 256 buckets/row
CMS_SALTS: list[str] = ["cms0", "cms1", "cms2", "cms3"]
CMS_BUCKET_HEX = 2


def _bucket(salt: str, col: F.Column | str) -> F.Column:
    return F.substring(F.md5(F.concat(F.lit(salt), F.col(col))), 1, CMS_BUCKET_HEX)


def countmin_counters(items: DataFrame, term_col: str = "term") -> DataFrame:
    """Build the CMS counter table (row_id, bucket, c) from one row
    per item occurrence. 4 x 256 counters regardless of input size —
    the partial aggregation collapses each partition to at most 1024
    rows before any shuffle."""
    occ = items.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row_id"),
                        _bucket(salt, term_col).alias("bucket"),
                    )
                    for i, salt in enumerate(CMS_SALTS)
                ]
            )
        ).alias("rb")
    ).select("rb.row_id", "rb.bucket")
    return occ.groupBy("row_id", "bucket").agg(F.count(F.lit(1)).alias("c"))


def countmin_estimates(items: DataFrame, term_col: str = "term") -> DataFrame:
    """Point-query every distinct term against the sketch: estimate =
    min over hash rows of that row's bucket counter. Returns
    (term, true_count, cms_estimate) so over-estimates from bucket
    collisions are visible; CMS guarantees estimate >= true."""
    items = pin(items)  # counters + truth + probe all read it
    counters = countmin_counters(items, term_col)
    truth = items.groupBy(term_col).agg(F.count(F.lit(1)).alias("true_count"))
    probes = truth.select(
        term_col,
        "true_count",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row_id"),
                        _bucket(salt, term_col).alias("bucket"),
                    )
                    for i, salt in enumerate(CMS_SALTS)
                ]
            )
        ).alias("rb"),
    ).select(term_col, "true_count", "rb.row_id", "rb.bucket")
    return (
        probes.join(F.broadcast(counters), on=["row_id", "bucket"])
        .groupBy(term_col, "true_count")
        .agg(F.min("c").alias("cms_estimate"))
    )


def psi_drift(
    df: DataFrame,
    value_col: str = "value",
    time_col: str = "ts",
    n_bins: int = 10,
) -> DataFrame:
    """Population Stability Index between the first and second halves
    of the event-time span — the distribution-drift monitor a serving
    /training pipeline runs between snapshots. Reference = rows before
    the epoch midpoint, current = at/after; bins are uniform over the
    GLOBAL value range so both sides share edges; per-bin contribution
    is (q - p) * ln(q / p) (all non-negative, summing to the PSI;
    > 0.2 total is the conventional drift alarm).

    Plan: one tiny min/max/midpoint aggregate broadcast back (no
    second scan for edges), one narrow binning projection, one
    partial-aggregated (bin, side) count — two scans total, shuffle
    bounded by n_bins. Determinism: shares are single divisions of
    exact counts; ln is rounded 6dp per the suite's libm convention
    and the contribution 6dp again. Bins empty on either side are
    emitted with a NULL contribution (the standard epsilon fudge is a
    caller policy, not baked in).
    """
    stats = df.agg(
        F.min(value_col).alias("__lo"),
        F.max(value_col).alias("__hi"),
        (
            (F.min(F.unix_micros(F.col(time_col)))
             + F.max(F.unix_micros(F.col(time_col)))) / F.lit(2)
        ).cast("long").alias("__mid_us"),
    )
    # explicit floor binning, not width_bucket: the identical
    # left-to-right double expression evaluates bit-for-bit on any
    # engine, where width_bucket implementations can disagree at
    # exact bin boundaries
    bin_expr = F.least(
        F.floor(
            (F.col(value_col) - F.col("__lo"))
            / (F.col("__hi") - F.col("__lo"))
            * F.lit(n_bins)
        ),
        F.lit(n_bins - 1),
    ).cast("long")
    binned = df.crossJoin(F.broadcast(stats)).select(
        bin_expr.alias("bin"),
        (F.unix_micros(F.col(time_col)) < F.col("__mid_us"))
        .cast("int")
        .alias("__is_ref"),
    )
    counts = binned.groupBy("bin").agg(
        F.sum("__is_ref").cast("long").alias("n_ref"),
        F.sum(F.lit(1) - F.col("__is_ref")).cast("long").alias("n_cur"),
    )
    totals = counts.agg(
        F.sum("n_ref").alias("__tr"), F.sum("n_cur").alias("__tc")
    )
    shares = counts.crossJoin(F.broadcast(totals)).select(
        "bin",
        "n_ref",
        "n_cur",
        (F.col("n_ref").cast("double") / F.col("__tr")).alias("p_ref"),
        (F.col("n_cur").cast("double") / F.col("__tc")).alias("p_cur"),
    )
    contrib = F.when(
        (F.col("n_ref") > 0) & (F.col("n_cur") > 0),
        F.round(
            (F.col("p_cur") - F.col("p_ref"))
            * F.round(F.log(F.col("p_cur") / F.col("p_ref")), 6),
            6,
        )
        + F.lit(0.0),
    )
    return shares.withColumn("psi_contrib", contrib)


def hll_partitioned_rollup(
    df: DataFrame,
    group_col: str,
    partition_col: F.Column | str,
    id_col: str,
    lgk: int = 12,
) -> DataFrame:
    """Two-level HyperLogLog rollup on Spark's DataSketches functions
    (``hll_sketch_agg`` / ``hll_union_agg``): build one binary sketch
    per (group, partition) — the shape a 100 TB pipeline MATERIALIZES
    (a few-KB sketch per day/source stored next to the data) — then
    merge the partial sketches per group and estimate.

    This is the property ``approx_count_distinct`` alone doesn't
    exercise: sketches are mergeable state, so yesterday's partials
    are never rescanned; a rolling N-day distinct is a union over N
    stored sketches, O(groups x partitions x 2^lgk) bytes total and
    one tiny shuffle, with raw ids never crossing the wire past the
    first partial aggregation.

    Estimates are engine-specific (rows-only for the driver); the
    invariant pinned by tests is |estimate - exact| within the
    published HLL error (~1.04/sqrt(2^lgk)) for BOTH the merged and
    the single-pass sketch. (The two are not bit-identical: the
    DataSketches union operator runs in its own internal mode, so
    merged and single-pass estimates can differ within the error
    band — only accuracy, not byte-equality, is guaranteed.)
    """
    part = (
        F.col(partition_col) if isinstance(partition_col, str) else partition_col
    )
    partial = df.groupBy(F.col(group_col), part.alias("_part")).agg(
        F.hll_sketch_agg(F.col(id_col), F.lit(lgk)).alias("_sketch")
    )
    return partial.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_partials"),
        F.hll_sketch_estimate(F.hll_union_agg("_sketch", F.lit(False)))
        .cast("long")
        .alias("est_distinct"),
    )
