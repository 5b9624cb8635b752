"""Skew mitigation operators.

AQE's skew-join splitting (on by default in ``session.py``) covers
sort-merge joins at runtime; these cover the cases AQE doesn't: hot
grouping keys in aggregations, and broadcast-infeasible joins against
a skewed build side.

Both are semantics-preserving rewrites — results are bit-identical to
the naive plan, so they carry normal SQL oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nhl_data_warehouse_spark.operators.caching import pin


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, Column],
    n_salts: int = 16,
) -> DataFrame:
    """Two-stage aggregation with a random salt: stage 1 aggregates on
    (key, salt) — hot keys spread over ``n_salts`` reducers — stage 2
    merges the partials on the key alone. ``aggs`` maps output column
    name -> a *partial-stage* aggregate expression whose merge is the
    same function (sum/count-as-sum/min/max — the self-mergeable
    family; avg must be expressed as sum+count by the caller).

    When partial (map-side) aggregation already flattens the skew —
    few distinct keys per partition — plain ``groupBy`` wins; salting
    pays off when the key cardinality is large AND a few keys dominate,
    which is exactly when map-side combine stops helping.
    """
    salted = df.withColumn("_salt", (F.rand(seed=42) * n_salts).cast("int"))
    partial = salted.groupBy(*keys, "_salt").agg(
        *[expr.alias(name) for name, expr in aggs.items()]
    )
    merge = {
        "count": F.sum,  # counts merge by summing
        "sum": F.sum,
        "min": F.min,
        "max": F.max,
    }

    def merge_fn(name: str) -> Column:
        # partial alias encodes its merge op as a prefix convention:
        # callers name outputs count_* / sum_* / min_* / max_*
        op = name.split("_", 1)[0]
        if op not in merge:
            raise ValueError(
                f"salted_agg output {name!r} must be prefixed with one of {sorted(merge)}"
            )
        return merge[op](name).alias(name)

    return partial.groupBy(*keys).agg(*[merge_fn(name) for name in aggs])


def salted_join(
    facts: DataFrame,
    dim: DataFrame,
    n_salts: int = 8,
) -> DataFrame:
    """Skewed equi-join without broadcast: salt the (large, skewed)
    probe side into ``n_salts`` buckets and explode the build side
    once per salt, so a hot key's rows land on ``n_salts`` different
    reducers instead of one straggler task.

    Build-side cost is x``n_salts`` — use only when the dim is too big
    to broadcast AND the probe key is skewed (else AQE's skew split or
    a plain broadcast is strictly better).
    """
    salted_facts = facts.withColumn("_salt", (F.rand(seed=42) * n_salts).cast("int"))
    salts = F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias("_salt")
    replicated_dim = dim.select("*", salts)
    return (
        salted_facts.join(replicated_dim, on=["k", "_salt"])
        .drop("_salt")
    )


def key_skew_report(df: DataFrame, key_col: str) -> DataFrame:
    """The "should I salt this key?" diagnostic: exact shuffle-key
    frequency profile in two keyed aggregates.

    Rows collapse to per-key counts (map-side combined), counts
    collapse to the counts-of-counts histogram (grain = DISTINCT
    frequency values, bounded far below key count), and the exact
    p50/p99 key frequencies fall out of one cumulative window over
    that histogram — no row-scale sort, no sampling. ``skew_ratio``
    is max/mean frequency (the replicate-factor input for
    ``salted_join``); ``hot_key`` is the min key among maxima
    (deterministic). One row out:
    (n_keys, n_rows, max_cnt, p50_cnt, p99_cnt, skew_ratio, hot_key).
    """
    from pyspark.sql.window import Window

    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("cnt"))
    counts = pin(counts)
    counts.count()  # histogram + totals + hot-key share one pass
    tot = counts.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("cnt").cast("long").alias("n_rows"),
        F.max("cnt").cast("long").alias("max_cnt"),
    )
    coc = counts.groupBy("cnt").agg(F.count(F.lit(1)).alias("nk"))
    w = Window.orderBy("cnt").rowsBetween(Window.unboundedPreceding, 0)
    cum = coc.withColumn("cumk", F.sum("nk").over(w))
    pcts = cum.crossJoin(F.broadcast(tot)).agg(
        F.min(F.when(2 * F.col("cumk") >= F.col("n_keys"), F.col("cnt")))
        .cast("long")
        .alias("p50_cnt"),
        F.min(F.when(100 * F.col("cumk") >= 99 * F.col("n_keys"), F.col("cnt")))
        .cast("long")
        .alias("p99_cnt"),
    )
    hot = (
        counts.crossJoin(F.broadcast(tot))
        .where(F.col("cnt") == F.col("max_cnt"))
        .agg(F.min(key_col).cast("long").alias("hot_key"))
    )
    return (
        tot.crossJoin(F.broadcast(pcts))
        .crossJoin(F.broadcast(hot))
        .select(
            "n_keys",
            "n_rows",
            "max_cnt",
            "p50_cnt",
            "p99_cnt",
            F.expr(
                "CAST(max_cnt AS DOUBLE) * CAST(n_keys AS DOUBLE)"
                " / CAST(n_rows AS DOUBLE)"
            ).alias("skew_ratio"),
            "hot_key",
        )
    )


def join_size_estimate(
    df: DataFrame,
    key_col: str,
) -> DataFrame:
    """Self-equi-join output-cardinality estimation — the
    cost-based-optimizer statistic that decides whether a blocking
    key is usable before running a pairwise stage (near-dup
    verification, feature self-joins): EXACT join size sum(c_k^2)
    against two estimators, System-R uniformity n^2/d and
    heavy-hitter-corrected (exact top-k key counts + uniform
    remainder) — the end-biased-histogram estimate (Ioannidis &
    Christodoulakis' optimality argument for join-size bounds).

    All sufficient statistics are exact integers: per-key counts
    collapse map-side, squares accumulate in DECIMAL(38,0) (sum c^2
    wraps int64 past ~3e9 rows on one key), the top-k heavy hitters
    come off a TakeOrdered (count desc, key asc — deterministic under
    ties), never a global sort. The estimates and relative errors are
    fixed-order double expressions over those integers. One row out:
    (n_rows, n_keys, exact_pairs, est_uniform, est_topk,
    err_uniform, err_topk).

    Scale shape: one keyed aggregate (bounded by distinct keys), one
    single-row total, one top-k; the remainder stats derive from
    totals minus the broadcast top-k's own aggregate — the big side
    is never touched twice.
    """
    dec = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    per = df.select(F.col(key_col).alias("_k")).groupBy("_k").agg(
        F.count(F.lit(1)).alias("_c")
    )
    tot = per.agg(
        F.sum("_c").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum(dec(F.col("_c")) * dec(F.col("_c")))
        .cast("decimal(38,0)")
        .alias("_exact"),
    )
    top = per.orderBy(F.col("_c").desc(), F.col("_k").asc()).limit(100)
    topagg = top.agg(
        F.count(F.lit(1)).cast("long").alias("_tk"),
        F.coalesce(F.sum("_c"), F.lit(0)).cast("long").alias("_tn"),
        F.coalesce(
            F.sum(dec(F.col("_c")) * dec(F.col("_c"))),
            F.lit(0).cast("decimal(38,0)"),
        )
        .cast("decimal(38,0)")
        .alias("_texact"),
    )
    one = tot.crossJoin(F.broadcast(topagg))
    est_uniform = (
        "CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE) "
        "/ CAST(n_keys AS DOUBLE)"
    )
    # exact head + uniform tail: (n - n_top)^2 / (d - k_top)
    est_topk = (
        "CAST(_texact AS DOUBLE) + CASE WHEN n_keys - _tk <= 0 THEN 0.0 "
        "ELSE (CAST(n_rows - _tn AS DOUBLE) * CAST(n_rows - _tn AS DOUBLE)) "
        "/ CAST(n_keys - _tk AS DOUBLE) END"
    )
    return one.select(
        "n_rows",
        "n_keys",
        F.col("_exact").cast("double").alias("exact_pairs"),
        F.expr(est_uniform).alias("est_uniform"),
        F.expr(est_topk).alias("est_topk"),
        F.expr(f"({est_uniform}) / CAST(_exact AS DOUBLE)").alias(
            "err_uniform"
        ),
        F.expr(f"({est_topk}) / CAST(_exact AS DOUBLE)").alias("err_topk"),
    )
