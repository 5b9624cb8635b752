"""Per-group closed-form regression on exact integer sufficient
statistics.

Spark ships ``regr_slope``/``regr_intercept`` aggregates, but their
double accumulators are summation-order dependent — useless for a
cross-engine byte-stable result and risky for reproducible feature
engineering. This module computes the same closed forms from integer
sufficient statistics (counts and sums of pre-scaled int64 x, y),
which are EXACT under any aggregation order: one keyed shuffle with
map-side partial sums, then pure per-group arithmetic in the final
projection.

Generalizes the reference's per-season aggregate marts
(seasonal_metrics_agg.sql) from means to trend (slope/intercept per
entity) — the "is this customer's spend growing?" shape.
"""

from __future__ import annotations

import pandas as pd  # module-level so pandas_udf string hints resolve

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def grouped_ols(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """OLS fit of y on x per group. ``x_col``/``y_col`` MUST already
    be integer (long) columns — scale fixed-point upstream (e.g.
    cents, epoch days); exactness is the caller's contract.

    slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2), intercept from the
    slope — both emitted as raw doubles computed by one fixed
    operation sequence over the exact integer statistics (bit-stable
    across engines without rounding), NULL when x is constant in the
    group (zero variance). Overflow bound: every
    intermediate (n*Sxy, Sx*Sy, …) must fit int64; with |x|<=2^20 and
    |y|<=2^31 that holds to ~2^12 rows per group — rescale x/y or
    pre-aggregate for wilder domains. The num/den casts to double are
    exact while |num|,|den| < 2^53, which keeps the rounded quotient
    bit-identical across engines.
    """
    x, y = F.col(x_col), F.col(y_col)
    stats = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * y).alias("_sxy"),
        F.sum(x * x).alias("_sxx"),
    )
    num = F.col("n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    den = F.col("n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    slope = num.cast("double") / den.cast("double")
    intercept = (
        F.col("_sy").cast("double") - slope * F.col("_sx").cast("double")
    ) / F.col("n")
    # no ROUND: the sufficient statistics are exact integers, so the
    # closed-form expression — the same literal operation sequence on
    # both engines — is already bit-deterministic. (Rounding would
    # BREAK cross-engine equality at these magnitudes: DuckDB rounds
    # via a double multiply by 10^d, Spark via BigDecimal, and they
    # disagree once |v|*10^d exceeds 2^53.)
    return stats.select(
        group_col,
        "n",
        F.when(den != 0, slope).alias("slope"),
        F.when(den != 0, intercept).alias("intercept"),
    )


def mad_by_group(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Median absolute deviation per group via a GROUPED_AGG pandas
    UDF — the vectorized-UDAF surface (SQL can nest
    ``median(abs(x - median(x)))`` only with a self-join; the Arrow
    grouped aggregate does it in one keyed pass). MAD is the robust
    dispersion gauge outlier pipelines prefer over stddev (a single
    wild value moves stddev arbitrarily, MAD not at all).

    Determinism: numpy's interpolated median over exact doubles —
    identical ordering and (a+b)/2 arithmetic on any engine (DuckDB's
    ``mad``/``median`` match bit-for-bit).

    Scale contract: a GROUPED_AGG UDF materializes each group's
    column in one Arrow batch — right for bounded groups (event
    types, languages, status codes). For unbounded/skewed groups use
    ``approx_percentile``-based dispersion instead; this operator is
    the exact twin.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    # type-hint style (Series -> scalar infers GROUPED_AGG); the
    # string annotations from postponed evaluation resolve because pd
    # is imported at module scope, where get_type_hints looks
    @pandas_udf("double")
    def _mad(v: pd.Series) -> float:
        # NULLs arrive as NaN — drop them like SQL aggregates do
        # (DuckDB's mad() skips NULLs; an all-NULL group yields NULL)
        a = v.dropna().to_numpy(dtype="float64")
        if a.size == 0:
            return None
        m = np.median(a)
        return float(np.median(np.abs(a - m)))

    # Spark disallows mixing GROUPED_AGG pandas UDFs with built-in
    # aggregates in one agg() — the count rides a second pandas agg
    @pandas_udf("long")
    def _n(v: pd.Series) -> int:
        return len(v)

    return df.groupBy(group_col).agg(
        _n(F.col(value_col)).alias("n"),
        _mad(F.col(value_col)).alias("mad"),
    )


def _scaled_int(op: str, value_col: str, scale_factor) -> tuple[int, Column]:
    """``scale_factor`` as an int ``f`` and ``value_col * f`` as an
    exact DECIMAL(20,0). The pre-scale cast must keep exactly the
    digits ``f`` preserves: a hard-coded decimal(18,2) would round
    1.234 to 1.23 BEFORE a x1000 scale, silently losing the precision
    the caller asked for — so the decimal scale derives from ``f``,
    which must be a power of ten (the only scale a decimal cast can
    mirror); ``op`` names the caller in the error."""
    f = int(scale_factor)
    digits = len(str(f)) - 1
    if f <= 0 or 10**digits != f:
        raise ValueError(
            f"{op}: scale_factor must be a positive power "
            f"of 10, got {scale_factor}"
        )
    c = (F.col(value_col).cast(f"decimal(18,{digits})") * f).cast("decimal(20,0)")
    return f, c


def grouped_moments(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Per-group mean / population variance / skewness that are
    bit-identical on ANY engine and ANY aggregation order — the
    reproducible-statistics problem: builtin ``stddev``/``skewness``
    accumulate doubles whose summation order the engine picks, so two
    runs (or two engines) legally disagree in the last ulps.

    Method: values scale to exact integers (``value * 100``
    via DECIMAL — cents for money), the three power sums S1, S2, S3
    accumulate as wide decimals (exact under any order; S3 of 1e7-cent
    values fits DECIMAL(38) past 1e12 rows), and the moments come from
    ONE fixed-order double expression per column at the end — the same
    expression text the oracle runs, so identical inputs + identical
    op sequence reproduce bit-for-bit:

        mean = S1/n / f
        var  = (S2/n - (S1/n)^2) / f^2
        skew = (S3/n - 3*(S1/n)*(S2/n) + 2*(S1/n)^3) / (m2 * sqrt(m2))

    (skewness is scale-invariant, so no f appears in it; the 1.5
    power is spelled ``m2 * sqrt(m2)`` because IEEE requires sqrt to
    be correctly rounded while libm ``pow`` is not — pow(x, 1.5) is
    exactly the kind of last-ulp cross-engine divergence this
    operator exists to eliminate.)

    One keyed aggregate, map-side combined; per-group state is three
    decimals + a count regardless of group size.
    """
    f, c = _scaled_int("grouped_moments", value_col, 100)
    agg = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(c).cast("decimal(38,0)").alias("_s1"),
        F.sum(c * c).cast("decimal(38,0)").alias("_s2"),
        F.sum((c * c).cast("decimal(38,0)") * c).cast("decimal(38,0)").alias("_s3"),
    )
    # fixed-order double arithmetic from exact sums — mirror EXACTLY
    # in any oracle: m1 = S1/n, m2 = S2/n - m1*m1, ...
    m1 = F.col("_s1").cast("double") / F.col("n")
    m2 = F.col("_s2").cast("double") / F.col("n") - m1 * m1
    m3 = (
        F.col("_s3").cast("double") / F.col("n")
        - F.lit(3.0) * m1 * (F.col("_s2").cast("double") / F.col("n"))
        + F.lit(2.0) * m1 * m1 * m1
    )
    fd = float(f)
    return agg.select(
        group_col,
        "n",
        (m1 / fd).alias("mean"),
        (m2 / (fd * fd)).alias("var_pop"),
        F.when(m2 <= 0.0, F.lit(0.0))
        .otherwise(m3 / (m2 * F.sqrt(m2)))
        .alias("skewness"),
    )


def weighted_median(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: str,
    id_cols: list[str] | None = None,
) -> DataFrame:
    """Exact lower weighted median per group: the smallest value v
    whose cumulative weight (in ascending value order) reaches half
    the group's total — the robust center for rows of unequal
    importance (token-weighted doc stats, quantity-weighted prices).
    ``2*cum >= W`` keeps the comparison in exact integers: no halves,
    no float thresholds, engine-stable by construction.

    One keyed window pass (cumulative weight ordered by value with an
    ``id_cols`` tie-break) + one keyed min-aggregate over the
    qualifying rows. The window partitions by group — right for a
    bounded group set (statuses, priorities, languages); a per-key
    variant over millions of tiny keys is the same plan, and a single
    100 TB group would need the two-level-rank treatment
    (``layout.two_level_rank``) exactly like the global sorts it
    replaces.
    """
    from pyspark.sql.window import Window

    ids = id_cols or []
    w = F.col(weight_col).cast("long")
    win = (
        Window.partitionBy(group_col)
        .orderBy(F.col(value_col), *[F.col(c) for c in ids])
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = Window.partitionBy(group_col)
    cum = (
        df.withColumn("_cw", F.sum(w).over(win))
        .withColumn("_tw", F.sum(w).over(tot))
    )
    return (
        cum.filter(F.lit(2) * F.col("_cw") >= F.col("_tw"))
        .groupBy(group_col)
        .agg(
            F.min(F.col(value_col)).alias("weighted_median"),
            F.max("_tw").cast("long").alias("total_weight"),
        )
    )


def welch_ab_stats(
    df: DataFrame,
    scale_factor: int = 100,
) -> DataFrame:
    """Two-sample Welch z statistic between exactly two variants —
    engine-reproducible experimentation analytics. Same determinism
    contract as ``grouped_moments``: values scale to exact integers,
    per-variant power sums accumulate as wide decimals (order-free),
    and the z-score is ONE fixed-order double expression over those
    exact sums, evaluated in the scaled-integer domain (the statistic
    is scale-invariant mathematically; staying in one domain makes it
    bit-stable too). Means are reported in the original unit.

    One conditional aggregate over the frame: map-side combined,
    constant state, no per-variant shuffle beyond the single global
    reduce. ``variant`` must take exactly the values 'A' and 'B'
    for rows that participate.
    """
    f, c = _scaled_int("welch_ab_stats", "value", scale_factor)
    is_a = F.col("variant") == "A"
    is_b = F.col("variant") == "B"
    agg = df.agg(
        F.sum(is_a.cast("long")).alias("n_a"),
        F.sum(is_b.cast("long")).alias("n_b"),
        F.sum(F.when(is_a, c)).cast("decimal(38,0)").alias("_s1a"),
        F.sum(F.when(is_a, c * c)).cast("decimal(38,0)").alias("_s2a"),
        F.sum(F.when(is_b, c)).cast("decimal(38,0)").alias("_s1b"),
        F.sum(F.when(is_b, c * c)).cast("decimal(38,0)").alias("_s2b"),
    )
    # fixed-order double arithmetic from exact sums — mirror EXACTLY
    # in any oracle (cents domain; means divided down once at the end)
    m_a = F.col("_s1a").cast("double") / F.col("n_a")
    m_b = F.col("_s1b").cast("double") / F.col("n_b")
    v_a = F.col("_s2a").cast("double") / F.col("n_a") - m_a * m_a
    v_b = F.col("_s2b").cast("double") / F.col("n_b") - m_b * m_b
    fd = float(f)
    return agg.select(
        # SUM over an empty frame is NULL; the counts' contract is 0
        F.coalesce(F.col("n_a"), F.lit(0).cast("long")).alias("n_a"),
        F.coalesce(F.col("n_b"), F.lit(0).cast("long")).alias("n_b"),
        (m_a / fd).alias("mean_a"),
        (m_b / fd).alias("mean_b"),
        # z undefined when both samples are constant (zero pooled
        # variance) — NULL, not an ANSI divide-by-zero
        F.when(
            v_a / F.col("n_a") + v_b / F.col("n_b") > 0,
            (m_a - m_b) / F.sqrt(v_a / F.col("n_a") + v_b / F.col("n_b")),
        ).alias("z_score"),
    )


def cuped_adjusted_ab(df: DataFrame) -> DataFrame:
    """CUPED variance-reduced A/B comparison (Deng et al.): adjust
    each variant's post-period mean by theta * (its pre-period mean -
    the pooled pre-period mean), theta = cov(pre, post)/var(pre)
    estimated POOLED over users — the industry-standard trick that
    removes the between-user variance the pre-period already
    explains, shrinking experiment confidence intervals by the
    squared pre/post correlation (reported as ``var_reduction``).
    The plain Welch gate (``welch_ab_stats``) compares raw means;
    this is what an experimentation platform actually ships.

    Determinism: per-user pre/post totals are exact integer cents
    (one user-keyed map-side-combined aggregate); the md5(user) split
    assigns variants content-addressed; per-variant moment sums
    (n, Sx, Sy, Sxy, Sxx, Syy) accumulate in DECIMAL(38,0)
    (order-free); theta, the adjusted means, and the variance
    reduction are fixed-order double expressions over those exact
    integers, evaluated in the cents domain and divided down once.
    Zero pre-period variance gives explicit NULL theta/adjusted
    means (the raw means remain). Output is ONE row: both variants'
    raw and adjusted means, theta, var_reduction, adjusted diff.

    Scale shape: one user-keyed aggregate (the only row-scale
    shuffle), one conditional global reduce to a single row. The
    pooled moments are sums of per-variant moments — exact decimal
    adds, no second pass.
    """
    c = F.round(F.col("value") * 100).cast("long")
    pre = F.when(
        F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp"), c
    ).otherwise(F.lit(0))
    post = F.when(
        F.col("ts") >= F.lit("2024-01-16 00:00:00").cast("timestamp"), c
    ).otherwise(F.lit(0))
    per_user = df.groupBy(F.col("user_id").alias("_u")).agg(
        F.sum(pre).cast("long").alias("x"),
        F.sum(post).cast("long").alias("y"),
    )
    is_a = F.substring(F.md5(F.col("_u").cast("string")), 1, 1).isin(
        *"01234567"
    )
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    per_user = per_user.select("_u", "x", "y", is_a.alias("_ia"))
    m = per_user.agg(
        F.sum(F.col("_ia").cast("long")).alias("n_a"),
        F.sum((~F.col("_ia")).cast("long")).alias("n_b"),
        F.sum(F.when(F.col("_ia"), xd)).cast("decimal(38,0)").alias("sxa"),
        F.sum(F.when(F.col("_ia"), yd)).cast("decimal(38,0)").alias("sya"),
        F.sum(F.when(~F.col("_ia"), xd)).cast("decimal(38,0)").alias("sxb"),
        F.sum(F.when(~F.col("_ia"), yd)).cast("decimal(38,0)").alias("syb"),
        F.sum(xd * yd).cast("decimal(38,0)").alias("sxy"),
        F.sum(xd * xd).cast("decimal(38,0)").alias("sxx"),
        F.sum(yd * yd).cast("decimal(38,0)").alias("syy"),
    )
    fd = 100.0
    # pooled exact integers (decimal adds), then fixed-order doubles
    n = F.col("n_a") + F.col("n_b")
    sx = F.col("sxa") + F.col("sxb")
    sy = F.col("sya") + F.col("syb")
    cov_num = (
        n.cast("decimal(38,0)") * F.col("sxy") - sx * sy
    ).cast("double")
    varx_num = (
        n.cast("decimal(38,0)") * F.col("sxx") - sx * sx
    ).cast("double")
    vary_num = (
        n.cast("decimal(38,0)") * F.col("syy") - sy * sy
    ).cast("double")
    theta = cov_num / varx_num
    mya = F.col("sya").cast("double") / F.col("n_a")
    myb = F.col("syb").cast("double") / F.col("n_b")
    mxa = F.col("sxa").cast("double") / F.col("n_a")
    mxb = F.col("sxb").cast("double") / F.col("n_b")
    mx = sx.cast("double") / n.cast("double")
    adj_a = mya - theta * (mxa - mx)
    adj_b = myb - theta * (mxb - mx)
    has_var = varx_num > 0
    return m.select(
        F.coalesce(F.col("n_a"), F.lit(0).cast("long")).alias("n_a"),
        F.coalesce(F.col("n_b"), F.lit(0).cast("long")).alias("n_b"),
        (mya / fd).alias("mean_post_a"),
        (myb / fd).alias("mean_post_b"),
        F.when(has_var, theta).alias("theta"),
        F.when(has_var, adj_a / fd).alias("adj_mean_a"),
        F.when(has_var, adj_b / fd).alias("adj_mean_b"),
        F.when(has_var, (adj_a - adj_b) / fd).alias("adj_diff"),
        F.when(
            has_var & (vary_num > 0),
            cov_num * cov_num / (varx_num * vary_num),
        ).alias("var_reduction"),
    )
