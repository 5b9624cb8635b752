"""Distribution-comparison statistics: Mann-Whitney U and two-sample
Kolmogorov-Smirnov, computed from ALL-INTEGER sufficient statistics.

Both tests are rank statistics, and ranks depend only on the
distinct-value histogram — so the operators first aggregate to an
integer measurement grain (cents by default: price-like doubles with
two decimals map exactly onto a finite grid bounded by the price
RANGE, not the corpus size), then run their one ordering window over
the histogram. At 100 TB the histogram is still ~10^4-10^5 cells, so
the unpartitioned window is over a bounded relation — the same grain
contract CUSUM (timeseries.py) and the hybrid quantiles use.

The final statistics are single fixed-order double expressions over
exact integers (the regression.py doctrine): identical inputs and
identical IEEE operation sequences are bit-stable across engines, so
no rounding is applied (rounding would BREAK cross-engine equality —
DuckDB rounds via a double multiply, Spark via BigDecimal).
"""

from __future__ import annotations

from functools import reduce
from operator import add

from nhl_data_warehouse_spark.operators.caching import pin

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# z-statistic pieces shared with the suite oracle (same literal text
# keeps the operation sequence identical on both engines)
MW_MEAN_DIFF = """
    CAST(u2 AS DOUBLE) / 2.0 - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0
"""
MW_SIGMA = """
    sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0
         * (CAST(n + 1 AS DOUBLE)
            - CAST(tsum AS DOUBLE)
              / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))))
"""


def _cents_histogram(
    df: DataFrame, value_col: str, is_group1: Column, scale: int
) -> DataFrame:
    """(cell, n1v, nv) histogram over the fixed-point grain."""
    vals = df.where(F.col(value_col).isNotNull()).select(
        F.round(F.col(value_col) * scale).cast("long").alias("c"),
        F.when(is_group1, 1).otherwise(0).alias("is1"),
    )
    return vals.groupBy("c").agg(
        F.sum("is1").alias("n1v"), F.count(F.lit(1)).alias("nv")
    )


def mann_whitney_u(
    df: DataFrame,
    value_col: str,
    is_group1: Column,
    scale: int = 100,
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) of group-1 vs the rest.

    Midranks never materialize: with the histogram sorted by cell,
    the midrank of cell c is cum(c) + (n(c)+1)/2, so twice the
    group-1 rank sum is 2*R1 = sum(n1(c) * (2*cum(c) + n(c) + 1)) —
    an integer. U = R1 - n1(n1+1)/2 follows, and the tie-corrected
    normal approximation z uses sum(t^3 - t) over cell counts, also
    an integer. One row out: (n1, n2, u_statistic, z_value).

    U is a multiple of 0.5 with magnitude <= n1*n2, exactly
    representable as a double far beyond any real corpus.
    """
    hist = _cents_histogram(df, value_col, is_group1, scale)
    w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.withColumn("cumn", F.coalesce(F.sum("nv").over(w), F.lit(0)))
    stats = cum.agg(
        F.sum("n1v").cast("long").alias("n1"),
        F.sum("nv").cast("long").alias("n"),
        F.sum(F.col("n1v") * (2 * F.col("cumn") + F.col("nv") + 1))
        .cast("long")
        .alias("r2"),
        F.sum(F.col("nv") * F.col("nv") * F.col("nv") - F.col("nv"))
        .cast("long")
        .alias("tsum"),
    )
    u = stats.select(
        "n1",
        (F.col("n") - F.col("n1")).alias("n2"),
        "n",
        "tsum",
        (F.col("r2") - F.col("n1") * (F.col("n1") + 1)).alias("u2"),
    )
    return u.select(
        "n1",
        "n2",
        F.expr("CAST(u2 AS DOUBLE) / 2.0").alias("u_statistic"),
        F.expr(f"({MW_MEAN_DIFF}) / ({MW_SIGMA})").alias("z_value"),
    )


def ks_two_sample(
    df: DataFrame,
    value_col: str,
    is_group1: Column,
    scale: int = 100,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D = sup |F1 - F2|.

    The sup is taken over integer cross-products — D_num =
    max |cum1*n2 - cum2*n1| — so the only floating-point operation is
    the final division D = D_num / (n1*n2). The factors are cast to
    DECIMAL(19,0) before multiplying, so each cross-product is
    computed exactly in DECIMAL(38,0) — no int64 wrap once
    n1*n2 >= 2^63 (~3e9 rows per side), the regime a drift gate
    between corpus snapshots actually runs at (ADVICE r11). One row
    out: (n1, n2, d_stat).
    """
    hist = _cents_histogram(df, value_col, is_group1, scale).select(
        "c", "n1v", (F.col("nv") - F.col("n1v")).alias("n2v")
    )
    w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        F.sum("n1v").over(w).alias("cum1"), F.sum("n2v").over(w).alias("cum2")
    )
    tot = cum.agg(
        F.max("cum1").cast("long").alias("n1"),
        F.max("cum2").cast("long").alias("n2"),
    )
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    dnum = cum.crossJoin(F.broadcast(tot)).agg(
        F.max(F.abs(dec("cum1") * dec("n2") - dec("cum2") * dec("n1")))
        .cast("decimal(38,0)")
        .alias("dnum"),
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
    )
    return dnum.select(
        "n1",
        "n2",
        F.expr(
            "CAST(dnum AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))"
        ).alias("d_stat"),
    )


def split_conformal_coverage(
    df: DataFrame,
    id_col: str,
    value_col: str,
    alpha_num: int = 1,
    alpha_den: int = 10,
    scale: int = 100,
) -> DataFrame:
    """Split-conformal prediction interval + empirical coverage — the
    distribution-free calibration gate: on a content-addressed
    calibration half, take the k-th smallest nonconformity score with
    k = ceil((1-alpha)(n_cal+1)) as the interval half-width q; then
    the interval [yhat - q, yhat + q] covers a fresh point with
    probability >= 1-alpha with NO distributional assumption
    (exchangeability only). The eval half reports the realized
    coverage — the number every conformal deployment monitors.

    All-integer determinism: the split is md5(id) (content-addressed,
    no RNG); the predictor is the calibration mean kept as the exact
    RATIONAL s/n, so the nonconformity score |v - s/n| scales to the
    integer numerator |v_cents*n - s| (DECIMAL(38,0) products — no
    overflow at row scale); k is exact integer ceil-division; the
    threshold q_num is an integer ORDER STATISTIC read off the
    residual-cell histogram (min cell whose inclusive cumulative
    count reaches k); eval coverage is an integer comparison per row
    and one final division. Degenerate k > n_cal means an infinite
    interval: coverage 1.0 by convention, q NULL.

    Scale shape: residual cells inherit the BOUNDED cents grain
    (r_num = |c*n - s| is a per-cell transform of the value
    histogram, so cell count is bounded by the value RANGE, not
    rows); the only windows run over that bounded cell relation (the
    ks_two_sample contract). Two map-side-combined histograms, two
    broadcast scalar joins, one bounded window.
    """
    v_c = F.round(F.col(value_col) * scale).cast("long")
    half = F.substring(F.md5(F.col(id_col).cast("string")), 1, 1).isin(
        *"01234567"
    )
    base = df.where(F.col(value_col).isNotNull()).select(
        v_c.alias("c"), half.alias("is_cal")
    )
    cal_hist = (
        base.where("is_cal").groupBy("c").agg(F.count(F.lit(1)).alias("nv"))
    )
    eval_hist = (
        base.where(~F.col("is_cal"))
        .groupBy("c")
        .agg(F.count(F.lit(1)).alias("nv"))
    )
    cal_tot = cal_hist.agg(
        F.sum("nv").cast("long").alias("n_cal"),
        F.sum(F.col("c") * F.col("nv")).cast("decimal(38,0)").alias("s_cal"),
    )
    den_minus = alpha_den - alpha_num
    k_expr = F.expr(
        f"CAST(({den_minus} * (n_cal + 1) + {alpha_den} - 1)"
        f" DIV {alpha_den} AS BIGINT)"
    )
    r_num = F.abs(
        F.col("c").cast("decimal(38,0)") * F.col("n_cal") - F.col("s_cal")
    ).cast("decimal(38,0)")
    r_hist = (
        cal_hist.crossJoin(F.broadcast(cal_tot))
        .select(r_num.alias("r"), "nv")
        .groupBy("r")
        .agg(F.sum("nv").alias("rnv"))
    )
    w = Window.orderBy("r").rowsBetween(Window.unboundedPreceding, 0)
    cum = r_hist.select("r", F.sum("rnv").over(w).alias("rcum"))
    thr = (
        cum.crossJoin(F.broadcast(cal_tot.select("n_cal")))
        .where(F.col("rcum") >= k_expr)
        .agg(F.min("r").alias("q_num"))
    )
    ev = (
        eval_hist.crossJoin(F.broadcast(cal_tot))
        .crossJoin(F.broadcast(thr))
        .select(
            "nv",
            (r_num <= F.col("q_num")).alias("is_cov"),
        )
        .agg(
            F.sum("nv").cast("long").alias("n_eval"),
            F.sum(F.when(F.col("is_cov"), F.col("nv")).otherwise(0))
            .cast("long")
            .alias("n_cov"),
        )
    )
    return (
        cal_tot.crossJoin(F.broadcast(thr))
        .crossJoin(F.broadcast(ev))
        .select(
            "n_cal",
            "n_eval",
            k_expr.alias("k_rank"),
            F.expr(
                "CASE WHEN q_num IS NULL THEN CAST(NULL AS DOUBLE)"
                " ELSE CAST(q_num AS DOUBLE)"
                f" / (CAST(n_cal AS DOUBLE) * {float(scale)}) END"
            ).alias("q_hat"),
            F.expr(
                "CASE WHEN n_eval IS NULL OR n_eval = 0"
                " THEN CAST(NULL AS DOUBLE)"
                " WHEN q_num IS NULL THEN 1.0"
                " ELSE CAST(n_cov AS DOUBLE) / CAST(n_eval AS DOUBLE) END"
            ).alias("coverage"),
        )
    )


def grouped_split_conformal_coverage(
    df: DataFrame,
    group_col: str,
    id_col: str,
    value_col: str,
    alpha_num: int = 1,
    alpha_den: int = 10,
    scale: int = 100,
) -> DataFrame:
    """Per-slice split-conformal intervals + coverage — the SLICED
    twin of ``split_conformal_coverage`` (group-conditional coverage
    is what a deployment actually needs: the marginal guarantee can
    hide one badly-covered slice behind well-covered ones). Same
    all-integer construction per slice; EVERY stage is keyed by the
    slice — histograms on (g, cell), residual cells on (g, r), the
    cumulative window PARTITIONED by g, per-slice thresholds and
    coverage equi-joined on g — so there is NO unpartitioned stage at
    all (the grouped_cusum_peak doctrine). Slices with no calibration
    rows emit no row (no interval without calibration); slices with
    no eval rows report NULL coverage.
    """
    v_c = F.round(F.col(value_col) * scale).cast("long")
    half = F.substring(F.md5(F.col(id_col).cast("string")), 1, 1).isin(
        *"01234567"
    )
    base = df.where(F.col(value_col).isNotNull()).select(
        F.col(group_col).alias("g"), v_c.alias("c"), half.alias("is_cal")
    )
    cal_hist = (
        base.where("is_cal")
        .groupBy("g", "c")
        .agg(F.count(F.lit(1)).alias("nv"))
    )
    eval_hist = (
        base.where(~F.col("is_cal"))
        .groupBy("g", "c")
        .agg(F.count(F.lit(1)).alias("nv"))
    )
    cal_tot = cal_hist.groupBy("g").agg(
        F.sum("nv").cast("long").alias("n_cal"),
        F.sum(F.col("c") * F.col("nv")).cast("decimal(38,0)").alias("s_cal"),
    )
    den_minus = alpha_den - alpha_num
    k_expr = F.expr(
        f"CAST(({den_minus} * (n_cal + 1) + {alpha_den} - 1)"
        f" DIV {alpha_den} AS BIGINT)"
    )
    r_num = F.abs(
        F.col("c").cast("decimal(38,0)") * F.col("n_cal") - F.col("s_cal")
    ).cast("decimal(38,0)")
    r_hist = (
        cal_hist.join(cal_tot, on="g")
        .select("g", r_num.alias("r"), "nv")
        .groupBy("g", "r")
        .agg(F.sum("nv").alias("rnv"))
    )
    w = (
        Window.partitionBy("g")
        .orderBy("r")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = r_hist.select("g", "r", F.sum("rnv").over(w).alias("rcum"))
    thr = (
        cum.join(cal_tot.select("g", "n_cal"), on="g")
        .where(F.col("rcum") >= k_expr)
        .groupBy("g")
        .agg(F.min("r").alias("q_num"))
    )
    ev = (
        eval_hist.join(cal_tot, on="g")
        .join(thr, on="g", how="left")
        .select("g", "nv", (r_num <= F.col("q_num")).alias("is_cov"))
        .groupBy("g")
        .agg(
            F.sum("nv").cast("long").alias("n_eval"),
            F.sum(F.when(F.col("is_cov"), F.col("nv")).otherwise(0))
            .cast("long")
            .alias("n_cov"),
        )
    )
    return (
        cal_tot.join(thr, on="g", how="left")
        .join(ev, on="g", how="left")
        .select(
            F.col("g").alias(group_col),
            "n_cal",
            F.coalesce("n_eval", F.lit(0)).cast("long").alias("n_eval"),
            k_expr.alias("k_rank"),
            F.expr(
                "CASE WHEN q_num IS NULL THEN CAST(NULL AS DOUBLE)"
                " ELSE CAST(q_num AS DOUBLE)"
                f" / (CAST(n_cal AS DOUBLE) * {float(scale)}) END"
            ).alias("q_hat"),
            F.expr(
                "CASE WHEN n_eval IS NULL OR n_eval = 0"
                " THEN CAST(NULL AS DOUBLE)"
                " WHEN q_num IS NULL THEN 1.0"
                " ELSE CAST(n_cov AS DOUBLE) / CAST(n_eval AS DOUBLE) END"
            ).alias("coverage"),
        )
    )


def jsd_category_pairs(
    df: DataFrame,
    slice_col: str,
    cat_col: str,
) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between every pair of
    slices over their CATEGORY distributions — the symmetric, bounded
    (<= ln 2) divergence a corpus pipeline uses to answer "which
    sources disagree about the language mix" (PSI/KS compare two
    snapshots of one numeric column; this compares all slice pairs of
    one categorical column; ``source_mix_entropy_by_lang`` scores
    each slice alone).

    JSD(P,Q) = 0.5*KL(P||M) + 0.5*KL(Q||M), M = (P+Q)/2. Zero-mass
    categories contribute 0 to their side's KL (0*ln0 = 0 — the CASE
    guard), and M > 0 whenever the term is live, so no division by
    zero exists.

    Determinism doctrine: shares are single divisions of exact
    counts, each ln is 6dp-rounded (the rounded-ln rule), per-pair
    terms fold in CATEGORY order over the BOUNDED (slice x category)
    grid (sort_array + aggregate == DuckDB SUM(term ORDER BY cat)),
    -0.0 guarded with + 0.0.

    Scale shape: one map-side-combined (slice, category) count, one
    slice-grain total, a slice-PAIR x category grid join — all grains
    bounded by |slices| and |categories|, never by rows. The pair
    grid is |slices|^2/2 rows; for thousands of slices cap or bucket
    upstream (documented, the copurchase group_cap doctrine).
    """
    c = df.groupBy(
        F.col(slice_col).alias("s"), F.col(cat_col).alias("cat")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    t = c.groupBy("s").agg(F.sum("n").cast("long").alias("ns"))
    pairs = (
        t.select(F.col("s").alias("source_a"), F.col("ns").alias("n_a"))
        .join(
            t.select(F.col("s").alias("source_b"), F.col("ns").alias("n_b")),
            on=F.col("source_a") < F.col("source_b"),
        )
    )
    cats = c.select(F.col("cat")).distinct()
    grid = pairs.crossJoin(cats)
    ca = c.select(
        F.col("s").alias("source_a"),
        F.col("cat"),
        F.col("n").alias("na_c"),
    )
    cb = c.select(
        F.col("s").alias("source_b"),
        F.col("cat"),
        F.col("n").alias("nb_c"),
    )
    joined = (
        grid.join(ca, on=["source_a", "cat"], how="left")
        .join(cb, on=["source_b", "cat"], how="left")
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            "cat",
            F.coalesce("na_c", F.lit(0)).alias("na_c"),
            F.coalesce("nb_c", F.lit(0)).alias("nb_c"),
        )
    )
    term = F.expr(
        "0.5 * ("
        " CASE WHEN na_c > 0 THEN"
        "  (CAST(na_c AS DOUBLE) / CAST(n_a AS DOUBLE))"
        "  * round(ln((CAST(na_c AS DOUBLE) / CAST(n_a AS DOUBLE))"
        "             / ((CAST(na_c AS DOUBLE) / CAST(n_a AS DOUBLE)"
        "                 + CAST(nb_c AS DOUBLE) / CAST(n_b AS DOUBLE))"
        "                / 2.0)), 6)"
        " ELSE 0.0 END"
        " + CASE WHEN nb_c > 0 THEN"
        "  (CAST(nb_c AS DOUBLE) / CAST(n_b AS DOUBLE))"
        "  * round(ln((CAST(nb_c AS DOUBLE) / CAST(n_b AS DOUBLE))"
        "             / ((CAST(na_c AS DOUBLE) / CAST(n_a AS DOUBLE)"
        "                 + CAST(nb_c AS DOUBLE) / CAST(n_b AS DOUBLE))"
        "                / 2.0)), 6)"
        " ELSE 0.0 END)"
    )
    folded = (
        joined.select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            F.struct(F.col("cat"), term.alias("term")).alias("ct"),
        )
        .groupBy("source_a", "source_b", "n_a", "n_b")
        .agg(F.sort_array(F.collect_list("ct")).alias("ts"))
    )
    return folded.select(
        "source_a",
        "source_b",
        "n_a",
        "n_b",
        (
            F.aggregate(
                F.transform("ts", lambda s: s["term"]),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            + 0.0
        ).alias("jsd"),
    )


def qq_drift_deciles(
    df: DataFrame,
    value_col: str,
    is_group1: Column,
    scale: int = 100,
) -> DataFrame:
    """Quantile-quantile drift table at the deciles: for each q in
    10..90, the EXACT discrete upper quantile of both samples and
    their difference — the localization report for a drift alarm (KS
    says THAT the distributions differ, W1 says HOW MUCH moved; the
    QQ table says WHERE: tails vs body, which the remediation
    actually needs).

    Exact order statistics, no interpolation: quantile q of side s =
    the smallest cents cell whose inclusive cumulative count reaches
    ceil(q * n_s / 100) (integer ceil-division) — the
    derive_cell_minutes discrete-upper-quantile recipe, per side.
    Values emit as value-units doubles (one /scale division);
    differences subtract the exact integer cells first.

    Scale shape: one cents histogram per side (map-side combined),
    cumulative windows over the BOUNDED cell grain (the
    ks_two_sample contract), a 9-row decile grid broadcast against
    the cell relation, one (decile)-keyed min aggregate per side,
    one 9-row join. Empty sides produce no rows for their deciles
    (inner join: the table needs both quantiles).
    """
    hist = _cents_histogram(df, value_col, is_group1, scale).select(
        "c", "n1v", (F.col("nv") - F.col("n1v")).alias("n2v")
    )
    w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "c",
        F.sum("n1v").over(w).alias("cum1"),
        F.sum("n2v").over(w).alias("cum2"),
    )
    tot = cum.agg(
        F.max("cum1").cast("long").alias("n1"),
        F.max("cum2").cast("long").alias("n2"),
    )
    deciles = F.explode(
        F.array(*[F.lit(q) for q in range(10, 100, 10)])
    ).alias("decile")
    grid = cum.crossJoin(F.broadcast(tot)).select(
        "c", "cum1", "cum2", "n1", "n2", deciles
    )
    qa = (
        grid.where(
            (F.col("n1") > 0)
            & (F.col("cum1") * 100 >= F.col("decile") * F.col("n1"))
        )
        .groupBy("decile")
        .agg(F.min("c").alias("ca"))
    )
    qb = (
        grid.where(
            (F.col("n2") > 0)
            & (F.col("cum2") * 100 >= F.col("decile") * F.col("n2"))
        )
        .groupBy("decile")
        .agg(F.min("c").alias("cb"))
    )
    return (
        qa.join(qb, on="decile")
        .select(
            F.col("decile").cast("long").alias("decile"),
            (F.col("ca").cast("double") / scale).alias("q1"),
            (F.col("cb").cast("double") / scale).alias("q2"),
            ((F.col("ca") - F.col("cb")).cast("double") / scale).alias(
                "q_diff"
            ),
        )
    )


def wasserstein_two_sample(
    df: DataFrame,
    value_col: str,
    is_group1: Column,
    scale: int = 100,
) -> DataFrame:
    """Two-sample 1-Wasserstein (earth-mover) distance W1 =
    integral |F1(x) - F2(x)| dx — the INTEGRAL companion to
    ``ks_two_sample``'s sup: KS fires on any localized gap, W1 weighs
    drift by how much mass moved how far, which is what a
    distribution-shift gate between corpus snapshots actually wants
    to threshold (a 1-cent shift of everything and a 10-dollar shift
    of 0.1% have the same KS but 1000x different W1).

    Exactness: over the fixed-point cell grain the ECDFs are step
    functions, so the integral is the finite sum over consecutive
    cells of |cum1*n2 - cum2*n1| * (next_c - c) — every term an exact
    integer cross-product times an integer gap. The cross-product
    FACTORS are cast to DECIMAL(19,0) before multiplying (per-term
    products pass 2^63 at row scale, so the multiply itself must run
    in decimal, not BIGINT — ADVICE r11), the terms accumulate in
    DECIMAL(38,0) (decimal summation is order-free), and the
    statistic is ONE final division
    by n1*n2*scale, emitted in original value units. Empty sides give
    explicit NULL.

    Exactness BOUND (ADVICE r12): a per-term product is capped at
    DECIMAL(38,0), so the guarantee holds iff n1 * n2 * max_cell_gap
    < 10^38 (the |cum1*n2 - cum2*n1| factor itself is <= n1*n2 <
    2^126 < 10^38 always; only the gap multiply can overflow — e.g.
    two 10^15-row sides with a value range of 10^6 cells). Under
    Spark's default ``allowPrecisionLoss`` an overflowing term would
    become NULL and be silently DROPPED by SUM, so the query guards
    explicitly: any NULL term (only possible via overflow — every
    input to the term is non-null past the where) raises
    ``raise_error`` instead of emitting a silently-wrong statistic.

    Scale shape: same as KS — one map-side-combined cents histogram,
    one window over the BOUNDED cell grain (cells are bounded by the
    value RANGE times scale, not by rows — the documented
    bounded-grain contract; cum and lead share one WindowExec), one
    bounded aggregate. Nothing row-scale passes the window.
    """
    hist = _cents_histogram(df, value_col, is_group1, scale).select(
        "c", "n1v", (F.col("nv") - F.col("n1v")).alias("n2v")
    )
    w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    wl = Window.orderBy("c")
    cum = hist.select(
        "c",
        F.sum("n1v").over(w).alias("cum1"),
        F.sum("n2v").over(w).alias("cum2"),
        F.lead("c").over(wl).alias("cnext"),
    )
    tot = cum.agg(
        F.max("cum1").cast("long").alias("n1"),
        F.max("cum2").cast("long").alias("n2"),
    )
    term = F.abs(
        F.col("cum1").cast("decimal(19,0)") * F.col("n2").cast("decimal(19,0)")
        - F.col("cum2").cast("decimal(19,0)") * F.col("n1").cast("decimal(19,0)")
    ) * (F.col("cnext") - F.col("c")).cast("decimal(19,0)")
    num = (
        cum.crossJoin(F.broadcast(tot))
        .where(F.col("cnext").isNotNull())
        .agg(
            F.sum(term).cast("decimal(38,0)").alias("wnum"),
            # every input to `term` is non-null on rows passing the
            # where, so a NULL term can only be decimal(38,0) overflow
            # under allowPrecisionLoss — count them so the final
            # select can fail loudly instead of summing a subset
            F.sum(F.when(term.isNull(), 1).otherwise(0))
            .cast("long")
            .alias("_null_terms"),
            F.max("n1").alias("n1"),
            F.max("n2").alias("n2"),
        )
    )
    return _w1_final_select(num, scale)


def _w1_final_select(num: DataFrame, scale: int) -> DataFrame:
    """Final W1 projection over the one-row aggregate
    (wnum, _null_terms, n1, n2) — split out so the overflow guard is
    testable without a >=1e38 corpus: a NULL term can only mean
    decimal(38,0) overflow, and SUM would silently drop it, so the
    guard raises instead of emitting a wrong statistic."""
    return num.select(
        "n1",
        "n2",
        F.expr(
            "CASE WHEN _null_terms > 0 THEN CAST(raise_error("
            "'wasserstein_two_sample: decimal(38,0) term overflow"
            " (n1 * n2 * max_cell_gap >= 1e38); the exactness bound"
            " is exceeded - rescale the value grain') AS DOUBLE)"
            " WHEN n1 = 0 OR n2 = 0 THEN CAST(NULL AS DOUBLE)"
            " ELSE CAST(COALESCE(wnum, 0) AS DOUBLE)"
            f" / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * {float(scale)})"
            " END"
        ).alias("w1_dist"),
    )


def rank_auc(
    df: DataFrame,
    score_col: str,
    is_positive: Column,
    scale: int = 1_000_000,
) -> DataFrame:
    """Exact ROC AUC via the Mann-Whitney identity: AUC =
    P(score_pos > score_neg) + P(tie)/2 = U1 / (n_pos * n_neg), with
    midranks handling ties — the standard rank form (no trapezoid
    sweep, no threshold grid; they coincide exactly for step ROCs).

    Same sufficient-statistic discipline as ``mann_whitney_u``: scores
    collapse to the fixed-point grain (``round(score * scale)``), twice
    the positive rank sum is the integer 2*R1 = sum(n1(c) * (2*cum(c)
    + n(c) + 1)), and AUC is ONE double division of exact integers:
    (2*R1 - n_pos*(n_pos+1)) / (2*n_pos*n_neg). The grain is part of
    the metric's definition here (1e-6 on sigmoid scores loses nothing
    — 6-dp-rounded scores map to distinct cells exactly), which is what
    makes the value bit-reproducible on any engine or partitioning.

    Scale: the histogram is one map-side-combined aggregate; the
    cumulative window orders score CELLS (<= scale+1 of them for
    scores in [0, 1]), never rows. One row out:
    (n_pos, n_neg, auc).
    """
    hist = _cents_histogram(df, score_col, is_positive, scale)
    w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.withColumn("cumn", F.coalesce(F.sum("nv").over(w), F.lit(0)))
    stats = cum.agg(
        F.sum("n1v").cast("long").alias("n1"),
        (F.sum("nv") - F.sum("n1v")).cast("long").alias("n2"),
        F.sum(F.col("n1v") * (2 * F.col("cumn") + F.col("nv") + 1))
        .cast("long")
        .alias("r2"),
    )
    # Degenerate-class guard (ADVICE r7): with a single class the
    # metric is undefined — Spark's non-ANSI divide yields NULL but
    # DuckDB's double division gives inf/NaN, so make NULL explicit
    # on both engines (the oracle carries the same CASE WHEN).
    return stats.select(
        F.col("n1").alias("n_pos"),
        F.col("n2").alias("n_neg"),
        F.expr(
            "CASE WHEN n1 = 0 OR n2 = 0 THEN CAST(NULL AS DOUBLE) "
            "ELSE CAST(r2 - n1 * (n1 + 1) AS DOUBLE) "
            "/ CAST(2 * n1 * n2 AS DOUBLE) END"
        ).alias("auc"),
    )


def _joint_histogram(
    df: DataFrame,
    x_col: str,
    y_col: str,
    x_scale: int,
    y_scale: int,
) -> DataFrame:
    """(cx, cy, nxy) joint fixed-point histogram — rows collapse to
    the measurement grain before anything orders or joins."""
    return (
        df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .select(
            F.round(F.col(x_col) * x_scale).cast("long").alias("cx"),
            F.round(F.col(y_col) * y_scale).cast("long").alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("nxy"))
    )


def spearman_rho(
    df: DataFrame,
    x_col: str,
    y_col: str,
    x_scale: int = 1,
    y_scale: int = 100,
) -> DataFrame:
    """Exact tie-aware Spearman rank correlation from all-integer
    sufficient statistics on the joint fixed-point histogram.

    Midranks never materialize per row: doubled midranks 2R(c) =
    2*cum(c) + n(c) + 1 are INTEGERS per marginal cell, so Pearson on
    midranks reduces to integer sums over the joint histogram:

        rho = (n*Sxy - Sx*Sy) / sqrt((n*Sxx - Sx^2) (n*Syy - Sy^2))

    with Sxy = sum(nxy * ax * ay) etc. over doubled midranks ax, ay.
    Every sum fits BIGINT at 10^6 rows-per-grain; the three final
    combinations run in DECIMAL(38,0) (internal only — the output is
    one fixed-order double expression, the regression.py doctrine).

    Scale: two bounded-grain marginal windows (cells, never rows —
    the stats-module contract) + one cell-keyed join; everything else
    is map-side-combined aggregation. Degenerate (all-tied) marginals
    yield explicit NULL on both engines.
    """
    joint = _joint_histogram(df, x_col, y_col, x_scale, y_scale)
    joint = pin(joint)
    joint.count()  # two marginal consumers + the final join share it

    def marginal(cell: str, out: str) -> DataFrame:
        m = joint.groupBy(cell).agg(F.sum("nxy").alias("nv"))
        w = Window.orderBy(cell).rowsBetween(Window.unboundedPreceding, -1)
        cum = m.withColumn("cum", F.coalesce(F.sum("nv").over(w), F.lit(0)))
        return cum.select(
            cell, (2 * F.col("cum") + F.col("nv") + 1).alias(out)
        )

    j = joint.join(marginal("cx", "ax"), "cx").join(marginal("cy", "ay"), "cy")
    # squared-doubled-midrank products pass 2^63 beyond ~1e6 rows per
    # grain (caught live by the x10 scale probe under ANSI mode), so
    # every product term is cast to DECIMAL(38,0) BEFORE multiplying
    # — exact to 10^38, mirroring the oracle's HUGEINT
    dnxy = F.col("nxy").cast("decimal(38,0)")
    stats = j.agg(
        F.sum("nxy").cast("long").alias("n"),
        F.sum(dnxy * F.col("ax")).cast("decimal(38,0)").alias("sx"),
        F.sum(dnxy * F.col("ay")).cast("decimal(38,0)").alias("sy"),
        F.sum(dnxy * F.col("ax") * F.col("ax"))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(dnxy * F.col("ay") * F.col("ay"))
        .cast("decimal(38,0)")
        .alias("syy"),
        F.sum(dnxy * F.col("ax") * F.col("ay"))
        .cast("decimal(38,0)")
        .alias("sxy"),
    )
    n = "CAST(n AS DECIMAL(38,0))"
    return stats.select(
        F.col("n"),
        F.expr(
            f"CASE WHEN {n} * sxx = sx * sx"
            f"       OR {n} * syy = sy * sy"
            "      THEN CAST(NULL AS DOUBLE) ELSE "
            f"CAST({n} * sxy - sx * sy AS DOUBLE)"
            f" / (sqrt(CAST({n} * sxx - sx * sx AS DOUBLE))"
            f"    * sqrt(CAST({n} * syy - sy * sy AS DOUBLE)))"
            " END"
        ).alias("rho"),
    )


def kendall_tau_b(
    df: DataFrame,
    x_col: str,
    y_col: str,
    x_scale: int = 1,
    y_scale: int = 100,
) -> DataFrame:
    """Exact Kendall tau-b from the joint histogram of two BOUNDED
    measurement grains (e.g. quantity 1-50 x discount cents 0-10).

    Concordant/discordant pair counts come from a cell-pair theta
    join over the joint histogram — the broadcast nested-loop there
    is over GRAIN CELLS (a few hundred rows by contract, fixed as
    data grows), never over rows; data rows only ever feed one
    map-side-combined groupBy. All counts are integers:

        tau_b = (nc - nd) / (sqrt(n0 - n1) * sqrt(n0 - n2))

    with n0 = n(n-1)/2 and n1/n2 the tie-pair counts per marginal.
    The two sqrt factors multiply as doubles (fixed op order) to stay
    inside BIGINT exactness.
    """
    joint = _joint_histogram(df, x_col, y_col, x_scale, y_scale)
    joint = pin(joint)
    joint.count()
    a = joint.select(
        F.col("cx").alias("x1"), F.col("cy").alias("y1"), F.col("nxy").alias("n1v")
    )
    b = joint.select(
        F.col("cx").alias("x2"), F.col("cy").alias("y2"), F.col("nxy").alias("n2v")
    )
    # COALESCE the pair sums: when every row lands in ONE x cell the
    # x2 > x1 join is empty and a global SUM yields NULL — the DuckDB
    # oracle coalesces to 0, so mirror it (ADVICE r8) to keep nc/nd
    # cross-engine identical on degenerate input
    pairs = a.join(
        F.broadcast(b), (F.col("x2") > F.col("x1")), "inner"
    ).agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("y2") > F.col("y1"), F.col("n1v") * F.col("n2v")
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("nc"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("y2") < F.col("y1"), F.col("n1v") * F.col("n2v")
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("nd"),
    )
    tx = (
        joint.groupBy("cx")
        .agg(F.sum("nxy").alias("nv"))
        .agg(
            F.sum(F.col("nv") * (F.col("nv") - 1) / 2).cast("long").alias("n1t")
        )
    )
    ty = (
        joint.groupBy("cy")
        .agg(F.sum("nxy").alias("nv"))
        .agg(
            F.sum(F.col("nv") * (F.col("nv") - 1) / 2).cast("long").alias("n2t")
        )
    )
    tot = joint.agg(F.sum("nxy").cast("long").alias("n"))
    out = (
        pairs.crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
        .crossJoin(F.broadcast(tot))
    )
    return out.select(
        "n",
        "nc",
        "nd",
        F.expr(
            "CASE WHEN (n * (n - 1)) DIV 2 = n1t OR (n * (n - 1)) DIV 2 = n2t"
            " THEN CAST(NULL AS DOUBLE) ELSE"
            " CAST(nc - nd AS DOUBLE)"
            " / (sqrt(CAST((n * (n - 1)) DIV 2 - n1t AS DOUBLE))"
            "    * sqrt(CAST((n * (n - 1)) DIV 2 - n2t AS DOUBLE))) END"
        ).alias("tau_b"),
    )


def prefix_sum_cells(
    hist: DataFrame,
    order_col: str = "c",
    val_col: str = "nv",
    num_ranges: int = 32,
    out_col: str = "cum",
    pin_input: bool = False,
) -> DataFrame:
    """Exclusive prefix sum over ordered cells WITHOUT an
    unpartitioned window — the range-partitioned two-pass form
    (VERDICT r8 item 4): a global ``Window.orderBy`` funnels the whole
    histogram through ONE task, fine for a few hundred grain cells but
    a scale-killer the moment a caller feeds an unbounded value
    domain.

    Pass 1: each cell gets a bucket id ``_pid`` that is a PURE
    FUNCTION of its own value — the count of range boundaries below
    it, with the boundaries broadcast from one lazy aggregate: exact
    ``percentile`` of a DETERMINISTIC 1/64 hash-sample of the cells
    (``xxhash64(c) % 64 == 0``). Sampling bounds the single-reducer
    percentile to ~hist/64 values while tracking the real value
    distribution, so buckets stay BALANCED even on heavily skewed
    domains — a uniform [min, max] split collapsed theil_sen's
    2.9M slope cells (massed near 0 with huge-magnitude outliers)
    into ONE bucket, i.e. a single-partition sort again (measured
    6.5 s vs 1.8 s warm on the prefix alone). Buckets are contiguous
    value ranges, so a window PARTITIONED by ``_pid`` computes each
    bucket's local exclusive cumsum in parallel. Pass 2: the
    per-bucket totals (≤ ``num_ranges`` rows by construction — the
    only unpartitioned window left is bounded, not data-sized) turn
    into per-bucket offsets, broadcast-joined back: ``cum = local_cum
    + bucket_offset``. Exact for any domain size and ANY boundary
    quality; result values are partitioning-independent.

    Why value-derived buckets instead of ``repartitionByRange`` +
    ``spark_partition_id``: TWO consumers (local cumsums + totals)
    read the bucketed frame, and range-partition BOUNDARY SAMPLING can
    differ between re-executions, mis-aligning offsets with local
    cumsums (caught live by theil_sen's median at sf0.001). The r9
    form pinned one physical partitioning with persist()+count(),
    which executed the full upstream plan at CONSTRUCTION time (ADVICE
    r9). Here the boundaries are a pure function of the cell MULTISET
    (deterministic hash-sample + exact percentile — no partition-order
    dependence), so every re-execution of any branch agrees on the
    ``_pid`` map, nothing needs pinning, and the whole operator stays
    lazy. An empty sample (tiny hist) degrades to one bucket, which is
    exactly the case where one bucket is fine.
    """
    if num_ranges <= 1:
        # ADVICE r10 edge: range(1, 1) is empty, so the percentile
        # call below would be `percentile(..., array())` — unresolvable.
        # One range means one bucket: constant _pid = 0 degrades to the
        # plain single-partition cumsum, which is exactly what the
        # caller asked for.
        parts = hist.withColumn("_pid", F.lit(0))
    else:
        fracs = ", ".join(
            str(i / num_ranges) for i in range(1, num_ranges)
        )
        bounds = hist.where(
            F.pmod(F.xxhash64(F.col(order_col)), F.lit(64)) == 0
        ).agg(
            F.expr(
                f"percentile(CAST({order_col} AS DOUBLE), array({fracs}))"
            ).alias("_bnds")
        )
        pid = F.when(F.col("_bnds").isNull(), F.lit(0)).otherwise(
            F.aggregate(
                F.col("_bnds"),
                F.lit(0),
                lambda acc, b: acc
                + F.when(F.col(order_col).cast("double") > b, 1).otherwise(0),
            )
        )
        parts = (
            hist.join(F.broadcast(bounds), how="cross")
            .withColumn("_pid", pid.cast("int"))
            .drop("_bnds")
        )
    # LAZY persist (no count): the local-cumsum and totals branches
    # both read `parts`, so share one materialization at first action.
    # Unlike the r9 eager pin this is a pure perf hint — correctness
    # never depends on the cache because _pid is value-derived — and
    # plan CONSTRUCTION stays job-free by default (ADVICE r9; pinned
    # by the zero-jobs test). Released by the caller's cache_scope or
    # session.release_cached. `pin_input=True` opts back into the
    # eager barrier for callers whose `hist` is an EXPENSIVE shared
    # subplan (theil_sen's 2.9M-slope pair join): the count runs the
    # upstream exactly once before the three consumer stages fan out,
    # trading one construction-time job for never recomputing it
    # (measured 8.7 s -> 4.8 s warm on theil_sen at sf0.1).
    parts = pin(parts)
    if pin_input:
        parts.count()
    wl = (
        Window.partitionBy("_pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = parts.withColumn(
        "_lcum", F.coalesce(F.sum(val_col).over(wl), F.lit(0))
    )
    totals = parts.groupBy("_pid").agg(F.sum(val_col).alias("_pt"))
    wo = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "_pid", F.coalesce(F.sum("_pt").over(wo), F.lit(0)).alias("_off")
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, F.col("_lcum") + F.col("_off"))
        .drop("_pid", "_lcum")
    )


def gini_coefficient(
    df: DataFrame, value_col: str, scale: int = 100
) -> DataFrame:
    """Exact Gini coefficient over the fixed-point value grain.

    With cells sorted ascending and midranks for ties, twice the
    rank-weighted sum is the integer S1 = sum(c * n_c * (2*cum_c +
    n_c + 1)) and

        G = S1 / (n * sum_v) - (n + 1) / n

    — per-term products can pass 2^63 (cents * count * doubled-rank),
    so S1 accumulates in DECIMAL(38,0); the output is one fixed-order
    double expression. The cumulative rank runs through the
    range-partitioned two-pass ``prefix_sum_cells`` (VERDICT r8
    item 4), so an UNBOUNDED value domain no longer funnels the
    histogram through a single WindowExec task — the only global
    window left is over ≤32 partition totals. Requires non-negative
    values; all-zero totals yield explicit NULL.
    """
    hist = (
        df.where(F.col(value_col).isNotNull())
        .select(F.round(F.col(value_col) * scale).cast("long").alias("c"))
        .groupBy("c")
        .agg(F.count(F.lit(1)).alias("nv"))
    )
    cum = prefix_sum_cells(hist, "c", "nv")
    stats = cum.agg(
        F.sum("nv").cast("long").alias("n"),
        F.sum(F.col("c") * F.col("nv")).cast("long").alias("sumv"),
        F.sum(
            (F.col("c") * F.col("nv")).cast("decimal(38,0)")
            * (2 * F.col("cum") + F.col("nv") + 1)
        )
        .cast("decimal(38,0)")
        .alias("s1"),
    )
    return stats.select(
        "n",
        "sumv",
        F.expr(
            "CASE WHEN sumv = 0 OR n = 0 THEN CAST(NULL AS DOUBLE) ELSE"
            " CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(sumv AS DOUBLE))"
            " - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE) END"
        ).alias("gini"),
    )


def grouped_rank_auc(
    df: DataFrame,
    group_col: str,
    score_col: str,
    is_positive: Column,
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-slice exact ROC AUC — ``rank_auc`` with every stage keyed
    by ``group_col``: the histogram groups by (slice, cell), the
    cumulative window partitions by slice (so unlike the global form
    there is NO unpartitioned stage at all), and each slice emits one
    (n_pos, n_neg, auc) row. The sliced-eval companion every model
    scorecard needs (AUC per language, per source, per time bucket);
    degenerate slices (single class) yield explicit NULL.
    """
    vals = df.where(F.col(score_col).isNotNull()).select(
        F.col(group_col),
        F.round(F.col(score_col) * scale).cast("long").alias("c"),
        F.when(is_positive, 1).otherwise(0).alias("is1"),
    )
    hist = vals.groupBy(group_col, "c").agg(
        F.sum("is1").alias("n1v"), F.count(F.lit(1)).alias("nv")
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = hist.withColumn("cumn", F.coalesce(F.sum("nv").over(w), F.lit(0)))
    stats = cum.groupBy(group_col).agg(
        F.sum("n1v").cast("long").alias("n1"),
        (F.sum("nv") - F.sum("n1v")).cast("long").alias("n2"),
        F.sum(F.col("n1v") * (2 * F.col("cumn") + F.col("nv") + 1))
        .cast("long")
        .alias("r2"),
    )
    return stats.select(
        F.col(group_col),
        F.col("n1").alias("n_pos"),
        F.col("n2").alias("n_neg"),
        F.expr(
            "CASE WHEN n1 = 0 OR n2 = 0 THEN CAST(NULL AS DOUBLE) "
            "ELSE CAST(r2 - n1 * (n1 + 1) AS DOUBLE) "
            "/ CAST(2 * n1 * n2 AS DOUBLE) END"
        ).alias("auc"),
    )


def isotonic_calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Isotonic (PAV) calibration map over equal-width score bins —
    the monotone-regression fit of empirical positive rate vs score
    (VERDICT r8 item 8): the calibrated probability per bin is the
    pool-adjacent-violators solution, computed NON-iteratively via
    the minimax identity

        iso_i = max_{j<=i} min_{k>=i} ( positives(j..k) / count(j..k) )

    which is exactly SQL-expressible because the bin count is BOUNDED
    (<= n_bins): interval sums come from exclusive/inclusive prefix
    sums over the n_bins histogram rows, the (j, k) interval grid has
    n_bins*(n_bins+1)/2 rows, and the per-bin minimax is two bounded
    theta joins (broadcast nested-loop over <= n_bins^2 rows by
    construction — the benford/ece bounded-grid class, NOT a
    data-sized cartesian). Every interval average is ONE double
    division of exact integer sums; min/max over doubles is exact, so
    the map is bit-identical cross-engine.

    Output per non-empty bin: (bin, nb, ng, raw_rate, iso_rate) with
    iso_rate monotone non-decreasing in bin.
    """
    base = df.select(
        F.least(
            F.floor(F.col(score_col) * n_bins).cast("long"),
            F.lit(n_bins - 1),
        )
        .cast("int")
        .alias("bin"),
        F.col(label_col).cast("long").alias("y"),
    )
    bins = base.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("nb"),
        F.sum("y").cast("long").alias("ng"),
    )
    # prefix sums over <= n_bins rows: bounded unpartitioned window
    # (same declared class as the benford digit fold)
    wcum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = bins.select(
        "bin",
        "nb",
        "ng",
        F.sum("nb").over(wcum).alias("cnb"),
        F.sum("ng").over(wcum).alias("cng"),
    )
    jside = cum.select(
        F.col("bin").alias("j"),
        (F.col("cnb") - F.col("nb")).alias("lnb"),
        (F.col("cng") - F.col("ng")).alias("lng"),
    )
    kside = cum.select(
        F.col("bin").alias("k"),
        F.col("cnb").alias("knb"),
        F.col("cng").alias("kng"),
    )
    ivl = jside.join(F.broadcast(kside), F.col("j") <= F.col("k")).select(
        "j",
        "k",
        F.expr(
            "CAST(kng - lng AS DOUBLE) / CAST(knb - lnb AS DOUBLE)"
        ).alias("avgv"),
    )
    mins = (
        bins.select(F.col("bin").alias("i"))
        .join(
            F.broadcast(ivl),
            (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")),
        )
        .groupBy("i", "j")
        .agg(F.min("avgv").alias("mn"))
    )
    iso = mins.groupBy("i").agg(F.max("mn").alias("iso_rate"))
    # <= n_bins rows by construction; force the broadcast — the
    # post-BNLJ size estimate can otherwise talk Spark into an SMJ
    return (
        bins.join(F.broadcast(iso), bins["bin"] == iso["i"])
        .select(
            "bin",
            "nb",
            "ng",
            F.expr("CAST(ng AS DOUBLE) / CAST(nb AS DOUBLE)").alias(
                "raw_rate"
            ),
            "iso_rate",
        )
    )


def expected_calibration_error(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
    scale: int = 1_000_000,
) -> DataFrame:
    """Reliability-weighted ECE + MCE + Brier score of a probability
    column against a boolean label — the scalar calibration scorecard
    on top of ``classifier_calibration_bins``'s reliability diagram
    (VERDICT r8 item 8):

        ECE  = sum_b (n_b / N) * |acc_b - conf_b|   (equal-width bins)
        MCE  = max_b |acc_b - conf_b|
        Brier = mean((p - y)^2)

    Determinism doctrine: scores quantize to exact micro-units
    (``round(p * scale)`` as BIGINT — the grouped_rank_auc grain), so
    per-bin confidence sums and the per-example Brier squares are
    exact integers (DECIMAL(38,0) accumulators); every double is ONE
    fixed-order expression, and the 10-term ECE sum folds in bin
    order (F.aggregate over a bin-sorted array == DuckDB's
    ``SUM(term ORDER BY bin)`` — the DCG recipe).

    Scale: one map-side-combined groupBy to ``n_bins`` rows + one
    global agg for (N, Brier); the fold runs over n_bins elements on
    one row. No windows, no per-pair work.
    """
    pi = F.round(F.col(score_col) * scale).cast("long")
    y = F.col(label_col).cast("long")
    base = df.select(
        F.least(
            F.floor(F.col(score_col) * n_bins).cast("long"),
            F.lit(n_bins - 1),
        )
        .cast("int")
        .alias("bin"),
        pi.alias("pi"),
        y.alias("y"),
    )
    bins = base.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("nb"),
        F.sum(F.col("pi").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("spi"),
        F.sum("y").cast("long").alias("ng"),
    )
    sq = F.col("pi") - F.col("y") * scale
    tot = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(sq.cast("decimal(38,0)") * sq).cast("decimal(38,0)").alias("ssq"),
    )
    terms = bins.crossJoin(F.broadcast(tot)).select(
        "bin",
        "nb",
        F.expr(
            "abs(CAST(ng AS DOUBLE) / CAST(nb AS DOUBLE)"
            f" - CAST(spi AS DOUBLE) / (CAST(nb AS DOUBLE) * {float(scale)}))"
        ).alias("dev"),
        F.expr("CAST(nb AS DOUBLE) / CAST(n_docs AS DOUBLE)").alias("w"),
        "n_docs",
        "ssq",
    )
    folded = terms.groupBy("n_docs", "ssq").agg(
        F.sort_array(F.collect_list(F.struct("bin", "w", "dev"))).alias("ts")
    )
    ece = F.aggregate(
        F.transform("ts", lambda s: s["w"] * s["dev"]),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    mce = F.array_max(F.transform("ts", lambda s: s["dev"]))
    return folded.select(
        F.col("n_docs"),
        ece.alias("ece"),
        mce.alias("mce"),
        F.expr(
            "CAST(ssq AS DOUBLE)"
            f" / (CAST(n_docs AS DOUBLE) * {float(scale) * float(scale)})"
        ).alias("brier"),
    )


def murphy_decomposition(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
    scale: int = 1_000_000,
) -> DataFrame:
    """Murphy decomposition of the (binned) Brier score — the
    calibration scorecard that separates WHY a quality classifier's
    probabilities are off before a corpus is thresholded on them:

        reliability = sum_b (n_b / N) * (acc_b - conf_b)^2   (miscalibration; lower better)
        resolution  = sum_b (n_b / N) * (acc_b - base)^2     (discrimination; higher better)
        uncertainty = base * (1 - base)                      (label noise floor)

    with acc_b the bin's empirical positive rate, conf_b its mean
    predicted score, and base the global positive rate. For
    within-bin-constant predictions, brier = REL - RES + UNC exactly;
    with real-valued scores the identity holds up to the within-bin
    score variance, so the exact per-example Brier is ALSO emitted
    (same ssq statistic as ``expected_calibration_error``) rather than
    reconstructed from the decomposition.

    Determinism doctrine (the ECE recipe): scores quantize to exact
    micro-units, per-bin sufficient statistics are integers in
    DECIMAL(38,0), every double is one fixed-order expression, and
    both n_bins-term sums fold in bin order (F.aggregate over a
    bin-sorted array == DuckDB ``SUM(term ORDER BY bin)``).

    Scale: one map-side-combined groupBy to n_bins rows + one global
    agg; the folds run over n_bins elements on one row. No windows,
    no per-pair work.
    """
    pi = F.round(F.col(score_col) * scale).cast("long")
    y = F.col(label_col).cast("long")
    base_rows = df.select(
        F.least(
            F.floor(F.col(score_col) * n_bins).cast("long"),
            F.lit(n_bins - 1),
        )
        .cast("int")
        .alias("bin"),
        pi.alias("pi"),
        y.alias("y"),
    )
    bins = base_rows.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("nb"),
        F.sum(F.col("pi").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("spi"),
        F.sum("y").cast("long").alias("ng"),
    )
    sq = F.col("pi") - F.col("y") * scale
    tot = base_rows.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("y").cast("long").alias("n_pos"),
        F.sum(sq.cast("decimal(38,0)") * sq).cast("decimal(38,0)").alias("ssq"),
    )
    terms = bins.crossJoin(F.broadcast(tot)).select(
        "bin",
        F.expr("CAST(nb AS DOUBLE) / CAST(n_docs AS DOUBLE)").alias("w"),
        F.expr(
            "CAST(ng AS DOUBLE) / CAST(nb AS DOUBLE)"
            f" - CAST(spi AS DOUBLE) / (CAST(nb AS DOUBLE) * {float(scale)})"
        ).alias("dra"),
        F.expr(
            "CAST(ng AS DOUBLE) / CAST(nb AS DOUBLE)"
            " - CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE)"
        ).alias("drs"),
        "n_docs",
        "n_pos",
        "ssq",
    )
    folded = terms.groupBy("n_docs", "n_pos", "ssq").agg(
        F.sort_array(
            F.collect_list(F.struct("bin", "w", "dra", "drs"))
        ).alias("ts")
    )
    rel = F.aggregate(
        F.transform("ts", lambda s: s["w"] * s["dra"] * s["dra"]),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    res = F.aggregate(
        F.transform("ts", lambda s: s["w"] * s["drs"] * s["drs"]),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    unc = F.expr(
        "CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE)"
        " * (1.0 - CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE))"
    )
    return folded.select(
        F.col("n_docs"),
        rel.alias("reliability"),
        res.alias("resolution"),
        unc.alias("uncertainty"),
        F.expr(
            "CAST(ssq AS DOUBLE)"
            f" / (CAST(n_docs AS DOUBLE) * {float(scale) * float(scale)})"
        ).alias("brier"),
    )


def grouped_ks_two_sample(
    df: DataFrame,
    group_col: str,
    value_col: str,
    is_group1: Column,
    scale: int = 100,
) -> DataFrame:
    """``ks_two_sample`` with every stage keyed by ``group_col`` — the
    sliced drift scorecard (one exact KS D per source / priority /
    language), and the scale-clean form: the cumulative window
    PARTITIONS by the slice (the grouped_cusum_peak pattern), so
    unlike the global operator there is NO unpartitioned stage at
    all. Same integer algebra: D_num = max |cum1*n2 - cum2*n1| per
    slice with the factors cast to DECIMAL(19,0) first (exact past
    the int64 cross-product bound, the ks_two_sample fix — ADVICE
    r11), ONE double division at the end; slices with an empty side
    emit explicit NULL (the rank_auc degenerate-class guard).
    """
    vals = df.where(F.col(value_col).isNotNull()).select(
        F.col(group_col).alias("g"),
        F.round(F.col(value_col) * scale).cast("long").alias("c"),
        F.when(is_group1, 1).otherwise(0).alias("is1"),
    )
    hist = vals.groupBy("g", "c").agg(
        F.sum("is1").alias("n1v"),
        (F.count(F.lit(1)) - F.sum("is1")).alias("n2v"),
    )
    w = (
        Window.partitionBy("g")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.select(
        "g",
        F.sum("n1v").over(w).alias("cum1"),
        F.sum("n2v").over(w).alias("cum2"),
    )
    tot = cum.groupBy("g").agg(
        F.max("cum1").cast("long").alias("n1"),
        F.max("cum2").cast("long").alias("n2"),
    )
    dnum = (
        cum.join(tot, on="g")
        .groupBy("g", "n1", "n2")
        .agg(
            F.max(
                F.abs(
                    F.col("cum1").cast("decimal(19,0)")
                    * F.col("n2").cast("decimal(19,0)")
                    - F.col("cum2").cast("decimal(19,0)")
                    * F.col("n1").cast("decimal(19,0)")
                )
            )
            .cast("decimal(38,0)")
            .alias("dnum")
        )
    )
    return dnum.select(
        F.col("g").alias(group_col),
        "n1",
        "n2",
        F.expr(
            "CASE WHEN n1 = 0 OR n2 = 0 THEN CAST(NULL AS DOUBLE) "
            "ELSE CAST(dnum AS DOUBLE)"
            " / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) END"
        ).alias("d_stat"),
    )


def multiclass_mcc(
    df: DataFrame,
    true_col: str,
    pred_col: str,
) -> DataFrame:
    """Multiclass Matthews correlation coefficient (the R_K
    statistic) from the confusion matrix — the single-number
    chance-corrected agreement score that, unlike macro-F1, stays
    honest under class imbalance:

        MCC = (c*s - sum_k p_k*t_k)
              / (sqrt(s^2 - sum_k p_k^2) * sqrt(s^2 - sum_k t_k^2))

    with c the correct count, s the total, p_k / t_k the per-class
    predicted / true counts. All sufficient statistics are exact
    integers in DECIMAL(38,0) (s^2 passes 2^63 at warehouse scale);
    MCC is ONE fixed-order double expression, explicit NULL when a
    marginal is constant (denominator zero — the rank_auc degenerate
    guard). One row out: (n_total, n_correct, mcc).

    Scale: one map-side-combined (true, pred) aggregate, then
    class-grain (bounded) aggregates and one full outer equi-join of
    the two marginal relations. No windows, no per-pair work.
    """
    conf = df.groupBy(
        F.col(true_col).alias("t"), F.col(pred_col).alias("p")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    tk = conf.groupBy(F.col("t").alias("cls")).agg(
        F.sum("n").cast("decimal(38,0)").alias("tkn")
    )
    pk = conf.groupBy(F.col("p").alias("cls")).agg(
        F.sum("n").cast("decimal(38,0)").alias("pkn")
    )
    marg = (
        tk.join(pk, on="cls", how="full_outer")
        .select(
            F.coalesce(F.col("tkn"), F.lit(0).cast("decimal(38,0)")).alias(
                "tkn"
            ),
            F.coalesce(F.col("pkn"), F.lit(0).cast("decimal(38,0)")).alias(
                "pkn"
            ),
        )
        .agg(
            F.sum(F.col("pkn") * F.col("tkn"))
            .cast("decimal(38,0)")
            .alias("spt"),
            F.sum(F.col("pkn") * F.col("pkn"))
            .cast("decimal(38,0)")
            .alias("spp"),
            F.sum(F.col("tkn") * F.col("tkn"))
            .cast("decimal(38,0)")
            .alias("stt"),
        )
    )
    base = conf.agg(
        F.sum("n").cast("long").alias("s"),
        F.sum(F.when(F.col("t") == F.col("p"), F.col("n")).otherwise(0))
        .cast("long")
        .alias("c"),
    )
    return base.crossJoin(F.broadcast(marg)).select(
        F.col("s").alias("n_total"),
        F.col("c").alias("n_correct"),
        F.expr(
            "CASE WHEN CAST(s AS DECIMAL(38,0)) * s - spp = 0"
            " OR CAST(s AS DECIMAL(38,0)) * s - stt = 0"
            " THEN CAST(NULL AS DOUBLE)"
            " ELSE (CAST(c AS DOUBLE) * CAST(s AS DOUBLE)"
            " - CAST(spt AS DOUBLE))"
            " / (sqrt(CAST(CAST(s AS DECIMAL(38,0)) * s - spp AS DOUBLE))"
            " * sqrt(CAST(CAST(s AS DECIMAL(38,0)) * s - stt AS DOUBLE)))"
            " END"
        ).alias("mcc"),
    )


def grouped_isotonic_calibration_bins(
    df: DataFrame,
    group_col: str,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """``isotonic_calibration_bins`` with every stage keyed by
    ``group_col`` — one PAV monotone fit per slice (per-language /
    per-source calibration maps, the sliced form VERDICT r8 item 8
    pointed at). Same non-iterative minimax identity over the
    BOUNDED bin grid, with all prefix-sum windows PARTITIONED by the
    slice and the (j, k) interval/minimax joins carrying the slice
    key — so the bounded grids stay per-slice and there is NO
    unpartitioned stage at all (the grouped_cusum_peak doctrine).
    Output per (slice, non-empty bin): (group, bin, nb, ng,
    raw_rate, iso_rate) with iso_rate monotone within each slice.
    """
    base = df.select(
        F.col(group_col).alias("g"),
        F.least(
            F.floor(F.col(score_col) * n_bins).cast("long"),
            F.lit(n_bins - 1),
        )
        .cast("int")
        .alias("bin"),
        F.col(label_col).cast("long").alias("y"),
    )
    bins = base.groupBy("g", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("nb"),
        F.sum("y").cast("long").alias("ng"),
    )
    wcum = (
        Window.partitionBy("g")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = bins.select(
        "g",
        "bin",
        "nb",
        "ng",
        F.sum("nb").over(wcum).alias("cnb"),
        F.sum("ng").over(wcum).alias("cng"),
    )
    jside = cum.select(
        "g",
        F.col("bin").alias("j"),
        (F.col("cnb") - F.col("nb")).alias("lnb"),
        (F.col("cng") - F.col("ng")).alias("lng"),
    )
    kside = cum.select(
        F.col("g").alias("gk"),
        F.col("bin").alias("k"),
        F.col("cnb").alias("knb"),
        F.col("cng").alias("kng"),
    )
    ivl = jside.join(
        kside, (F.col("g") == F.col("gk")) & (F.col("j") <= F.col("k"))
    ).select(
        "g",
        "j",
        "k",
        F.expr(
            "CAST(kng - lng AS DOUBLE) / CAST(knb - lnb AS DOUBLE)"
        ).alias("avgv"),
    )
    mins = (
        bins.select(F.col("g").alias("gi"), F.col("bin").alias("i"))
        .join(
            ivl,
            (F.col("gi") == F.col("g"))
            & (F.col("j") <= F.col("i"))
            & (F.col("k") >= F.col("i")),
        )
        .groupBy("gi", "i", "j")
        .agg(F.min("avgv").alias("mn"))
    )
    iso = mins.groupBy("gi", "i").agg(F.max("mn").alias("iso_rate"))
    return (
        bins.join(
            iso, (bins["g"] == iso["gi"]) & (bins["bin"] == iso["i"])
        )
        .select(
            F.col("g").alias(group_col),
            "bin",
            "nb",
            "ng",
            F.expr("CAST(ng AS DOUBLE) / CAST(nb AS DOUBLE)").alias(
                "raw_rate"
            ),
            "iso_rate",
        )
    )


def average_precision(
    df: DataFrame,
    score_col: str,
    is_positive: Column,
    scale: int = 1_000_000,
) -> DataFrame:
    """Exact average precision (area under the precision-recall curve,
    step-wise threshold-sweep definition): AP = sum over distinct
    score cells, descending, of (recall gained at the cell) *
    (precision at the cell). The imbalanced-data companion to
    ``rank_auc`` — ROC-AUC stays near 1 when negatives dominate; AP
    collapses with the precision a deployed threshold would actually
    see (the metric used to pick quality-classifier operating points
    for corpus filtering).

    Determinism doctrine: scores collapse to the fixed-point cell
    grain (the rank_auc contract — the one ordering window runs over
    <= scale+1 CELLS, never rows); cumulative TP/FP are exact
    integers; each cell's term is ONE fixed-order double expression
    rounded to 12dp and summed as DECIMAL(28,12) — round-then-sum in
    decimal is ORDER-FREE (the km_survival recipe), which is what
    makes a sum over up to a million cells engine-stable without an
    ordered fold over a collected array. |term| <= 1 and 1e12 is
    inside the 2^53 safe band, so Spark's BigDecimal rounding and
    DuckDB's double-multiply rounding agree. Single-class inputs
    yield explicit NULL.
    """
    hist = _cents_histogram(df, score_col, is_positive, scale)
    w = (
        Window.orderBy(F.col("c").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.select(
        "c",
        "n1v",
        F.sum("n1v").over(w).alias("tp"),
        F.sum(F.col("nv") - F.col("n1v")).over(w).alias("fp"),
    )
    tot = hist.agg(
        F.sum("n1v").cast("long").alias("n_pos"),
        (F.sum("nv") - F.sum("n1v")).cast("long").alias("n_neg"),
    )
    terms = (
        cum.where(F.col("n1v") > 0)
        .crossJoin(F.broadcast(tot))
        .select(
            "n_pos",
            "n_neg",
            F.round(
                F.expr(
                    "CAST(n1v AS DOUBLE) / CAST(n_pos AS DOUBLE)"
                    " * (CAST(tp AS DOUBLE)"
                    " / CAST(tp + fp AS DOUBLE))"
                ),
                12,
            )
            .cast("decimal(28,12)")
            .alias("term"),
        )
    )
    out = terms.groupBy("n_pos", "n_neg").agg(
        F.sum("term").cast("decimal(38,12)").alias("ap_dec")
    )
    # right join keeps the degenerate zero-positive case (no terms)
    return (
        tot.join(out, on=["n_pos", "n_neg"], how="left")
        .select(
            "n_pos",
            "n_neg",
            F.expr(
                "CASE WHEN n_pos = 0 OR n_neg = 0 THEN CAST(NULL AS DOUBLE)"
                " ELSE CAST(ap_dec AS DOUBLE) END"
            ).alias("avg_precision"),
        )
    )


def youden_j_threshold(
    df: DataFrame,
    score_col: str,
    is_positive: Column,
    scale: int = 1_000_000,
) -> DataFrame:
    """Optimal operating point by Youden's J = TPR - FPR: the score
    threshold a corpus filter should deploy when false accepts and
    false rejects weigh equally — the selection step AFTER the
    rank_auc / average_precision scorecards say the ranking is good.

    The maximization is ALL-INTEGER: J * P * N = tp * N - fp * P, so
    the argmax can never flip on a double ulp; candidate thresholds
    are the distinct score cells (classify positive at score >= cell),
    swept via the same descending cumulative TP/FP as
    ``average_precision`` — one window over <= scale+1 CELLS, never
    rows. Ties take the LOWEST threshold (the most inclusive cut).
    The tp*N / fp*P cross-products are computed with the factors cast
    to DECIMAL(19,0) (exact past the int64 bound at ~3e9 rows per
    class — the same widening as ks_two_sample, ADVICE r11). One row
    out: (n_pos, n_neg, threshold, j_stat, tpr, fpr). Single-class
    input degenerates PARTIALLY, not wholesale: ``j_stat`` and the
    empty class's rate go NULL, but ``threshold`` still emits the
    lowest observed cell (every cut ties at J=0) and the nonempty
    class's rate is 1.0 — callers detecting an undefined operating
    point must branch on ``j_stat IS NULL``, not on the threshold
    (``classifier_gate_report`` does exactly this). An empty score
    histogram emits ZERO rows.
    """
    hist = _cents_histogram(df, score_col, is_positive, scale)
    w = (
        Window.orderBy(F.col("c").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.select(
        "c",
        F.sum("n1v").over(w).alias("tp"),
        F.sum(F.col("nv") - F.col("n1v")).over(w).alias("fp"),
    )
    tot = hist.agg(
        F.sum("n1v").cast("long").alias("n_pos"),
        (F.sum("nv") - F.sum("n1v")).cast("long").alias("n_neg"),
    )
    scored = cum.crossJoin(F.broadcast(tot)).select(
        "c",
        "tp",
        "fp",
        "n_pos",
        "n_neg",
        (
            F.col("tp").cast("decimal(19,0)")
            * F.col("n_neg").cast("decimal(19,0)")
            - F.col("fp").cast("decimal(19,0)")
            * F.col("n_pos").cast("decimal(19,0)")
        )
        .cast("decimal(38,0)")
        .alias("jint"),
    )
    best = scored.groupBy("n_pos", "n_neg").agg(
        F.max("jint").alias("jbest")
    )
    at = scored.join(F.broadcast(best), on=["n_pos", "n_neg"]).where(
        F.col("jint") == F.col("jbest")
    )
    return at.groupBy("n_pos", "n_neg", "jbest").agg(
        F.min("c").alias("cth"),
        F.expr("min_by(tp, c)").alias("tp_at"),
        F.expr("min_by(fp, c)").alias("fp_at"),
    ).select(
        "n_pos",
        "n_neg",
        F.expr(f"CAST(cth AS DOUBLE) / {float(scale)}").alias("threshold"),
        F.expr(
            "CASE WHEN n_pos = 0 OR n_neg = 0 THEN CAST(NULL AS DOUBLE)"
            " ELSE CAST(jbest AS DOUBLE)"
            " / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) END"
        ).alias("j_stat"),
        F.expr(
            "CASE WHEN n_pos = 0 THEN CAST(NULL AS DOUBLE)"
            " ELSE CAST(tp_at AS DOUBLE) / CAST(n_pos AS DOUBLE) END"
        ).alias("tpr"),
        F.expr(
            "CASE WHEN n_neg = 0 THEN CAST(NULL AS DOUBLE)"
            " ELSE CAST(fp_at AS DOUBLE) / CAST(n_neg AS DOUBLE) END"
        ).alias("fpr"),
    )


def classifier_gate_report(
    df: DataFrame,
    score_col: str,
    is_positive: Column,
    group_col: str,
    weight_col: str | None = None,
    scale: int = 1_000_000,
) -> DataFrame:
    """Apply the Youden-selected operating point to the corpus — the
    link from "a classifier exists" to "the classifier GATES the
    corpus" (VERDICT r11 item 5): select the threshold with
    ``youden_j_threshold`` on the labeled scores, then report per
    ``group_col`` (source, language, shard) how many documents — and
    how much ``weight_col`` mass (tokens, bytes) — survive the cut.
    This is the table a data lead reads before flipping a model-based
    quality filter on: which sources lose how much.

    Gate semantics at the integer grain: a row is kept iff
    round(score*scale) >= the selected threshold CELL (recovered
    exactly from the one-row threshold via round(threshold*scale) —
    cells are integers, so the double round-trip is exact inside
    2^53). Fail-OPEN contract: when the operating point is UNDEFINED
    — single-class labels (``youden_j_threshold`` then emits a
    degenerate min-cell threshold with ``j_stat`` NULL) or an empty
    score histogram (the sweep emits zero rows) — the gate keeps
    everything, so the report's numbers say "no gate" instead of
    silently dropping rows or vanishing. Both branches are realized
    below: the threshold cell is NULLed when ``j_stat`` is NULL, and
    the one-row property is restored by a min-aggregate over the
    (possibly empty) sweep output, so the broadcast join never drops
    the corpus. Under a REAL threshold, rows whose score is NULL are
    not kept (a NULL cell fails the >= compare) — an unscorable row
    does not pass a score gate. ``kept_frac`` is the one IEEE
    division.

    Scale shape: scoring stays whatever the caller's plan was (for
    the hashed classifier: map-side explode + one doc-grain combine);
    the threshold is ONE broadcast row off the bounded cell sweep;
    the gate itself adds NO shuffle before the final group-keyed
    aggregate — the keep flag is a per-row integer compare against
    the broadcast scalar.
    """
    thr = (
        youden_j_threshold(df, score_col, is_positive, scale)
        .select(
            F.when(
                F.col("j_stat").isNull(), F.lit(None).cast("long")
            )
            .otherwise(F.round(F.col("threshold") * scale).cast("long"))
            .alias("_tc")
        )
        # min over <=1 rows: always exactly ONE row out (NULL when the
        # sweep was empty or the operating point undefined) — the
        # cross join below must never drop the corpus
        .agg(F.min("_tc").alias("_thr_c"))
    )
    wexpr = (
        F.col(weight_col).cast("long")
        if weight_col is not None
        else F.lit(1).cast("long")
    )
    cell = F.round(F.col(score_col) * scale).cast("long")
    gated = df.select(
        F.col(group_col), wexpr.alias("_w"), cell.alias("_c")
    ).crossJoin(F.broadcast(thr))
    keep = F.when(F.col("_thr_c").isNull(), F.lit(True)).otherwise(
        F.col("_c") >= F.col("_thr_c")
    )
    return (
        gated.select(group_col, "_w", keep.alias("_keep"))
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("_keep"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.sum("_w").cast("long").alias("weight_total"),
            F.sum(F.when(F.col("_keep"), F.col("_w")).otherwise(0))
            .cast("long")
            .alias("weight_kept"),
        )
        .select(
            group_col,
            "n_docs",
            "n_kept",
            "weight_total",
            "weight_kept",
            (
                F.col("n_kept").cast("double")
                / F.col("n_docs").cast("double")
            ).alias("kept_frac"),
        )
    )


def quantile_bucket_report(
    df: DataFrame,
    group_col: str,
    score_col: str,
    weight_col: str | None = None,
    n_buckets: int = 3,
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-group quantile bucketing of a score with doc/weight mass
    per bucket — the CCNet head/middle/tail split (Wenzek et al.,
    LREC'20 §4.3: each language's documents are cut into perplexity
    terciles, and downstream sampling keeps head > middle > tail).
    ``n_buckets=3`` IS that split; any B works.

    Bucket semantics at the integer grain: scores collapse to cells
    ``round(score * scale)``; boundary cell b_i (i = 1..B-1) is the
    smallest cell whose cumulative count covers fraction i/B of the
    group (``cum * B >= i * n``); a row lands in bucket i+1 iff its
    cell is above b_i for exactly i boundaries. All rows sharing a
    cell land in ONE bucket (value-grain buckets — CCNet thresholds
    on the perplexity VALUE), unlike NTILE's row-splitting of ties;
    with B > distinct cells, upper buckets are simply empty. Every
    decision is an integer compare, so the report is bit-stable on
    any engine or partitioning.

    Scale shape (the KS/W1 bounded-grain contract): rows collapse
    map-side to a (group, cell) histogram — bounded by group count x
    score RANGE x scale, not by rows; the cumulative window runs over
    that bounded grain partitioned by group; boundaries are one
    B-column aggregate per group, broadcast back onto the histogram
    (never onto rows); the final report aggregates the histogram, so
    nothing row-scale passes a window or a join after the first
    map-side combine. The histogram is PERSISTED: its three consumers
    (cumulative window, boundary aggregate, final report) would
    otherwise re-execute the row-scale upstream — e.g. the LM scoring
    join feeding the perplexity gate — once each (plan audit r13: 46
    unique Exchanges unpinned vs 24 pinned); released by the
    caller's ``cache_scope`` or the session sweep.
    """
    wexpr = (
        F.col(weight_col).cast("long")
        if weight_col is not None
        else F.lit(1).cast("long")
    )
    cell = F.round(F.col(score_col) * scale).cast("long")
    hist = (
        df.select(
            F.col(group_col).alias("_g"), cell.alias("_c"), wexpr.alias("_w")
        )
        .where(F.col("_c").isNotNull())
        .groupBy("_g", "_c")
        .agg(
            F.count(F.lit(1)).cast("long").alias("_n"),
            F.sum("_w").cast("long").alias("_ws"),
        )
    )
    # bounded (group, cell) grain read by THREE consumers — pin so
    # the row-scale upstream runs once
    hist = pin(hist)
    w = Window.partitionBy("_g").orderBy("_c").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = hist.withColumn("_cum", F.sum("_n").over(w))
    tot = cum.groupBy("_g").agg(F.max("_cum").alias("_ng"))
    bounds = (
        cum.join(F.broadcast(tot), on="_g")
        .groupBy("_g")
        .agg(
            *[
                F.min(
                    F.when(
                        F.col("_cum") * n_buckets >= i * F.col("_ng"),
                        F.col("_c"),
                    )
                ).alias(f"_b{i}")
                for i in range(1, n_buckets)
            ]
        )
    )
    above = reduce(
        add,
        [
            (F.col("_c") > F.col(f"_b{i}")).cast("int")
            for i in range(1, n_buckets)
        ],
    )
    return (
        hist.join(F.broadcast(bounds), on="_g")
        .select(
            F.col("_g").alias(group_col),
            (above + 1).alias("bucket"),
            "_n",
            "_ws",
        )
        .groupBy(group_col, "bucket")
        .agg(
            F.sum("_n").cast("long").alias("n_docs"),
            F.sum("_ws").cast("long").alias("weight_total"),
        )
    )


# ---------------------------------------------------------------------------
# k-sample rank / variance tests, partition agreement, multiple testing
# ---------------------------------------------------------------------------


def kw_h_expr(k: int) -> str:
    """Fixed-order SQL text of the tie-corrected Kruskal-Wallis H over
    columns ``n`` (total count), ``tsum`` (sum of t^3 - t over tie
    groups) and ``n{i}``/``two_r{i}`` (group count / twice the group
    rank sum) for i = 1..k. Shared VERBATIM with the suite oracle so
    both engines run the identical IEEE operation sequence (the
    MW_SIGMA convention). Groups planned but absent contribute a 0.0
    term (CASE guard), keeping the expression total."""
    terms = " + ".join(
        f"(CASE WHEN n{i} = 0 THEN 0.0 ELSE "
        f"CAST(two_r{i} AS DOUBLE) * CAST(two_r{i} AS DOUBLE) "
        f"/ CAST(n{i} AS DOUBLE) END)"
        for i in range(1, k + 1)
    )
    return (
        "(12.0 / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)) "
        f"* 0.25 * ({terms}) - 3.0 * CAST(n + 1 AS DOUBLE)) "
        "/ (1.0 - CAST(tsum AS DOUBLE) "
        "/ (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) "
        "- CAST(n AS DOUBLE)))"
    )


def kruskal_wallis_h(
    df: DataFrame,
    value_col: str,
    group_col: str,
    groups: list[str],
    scale: int = 100,
) -> DataFrame:
    """Kruskal-Wallis H (one-way ANOVA on ranks, Kruskal & Wallis
    1952) across a DECLARED group enumeration, tie-corrected, from
    all-integer sufficient statistics.

    The k-sample generalization of ``mann_whitney_u``: values collapse
    to the fixed-point cents histogram, midranks never materialize
    (twice the group-i rank sum is sum(n_i(c) * (2*cum(c) + n(c) + 1)),
    an integer), and H is one fixed-order double expression
    (``kw_h_expr``) over the k pivoted integer pairs — bit-stable
    across engines. ``groups`` must be the explicit ordered label
    list (e.g. the five TPC-H order priorities): determinism of the
    final sum REQUIRES a declared group order, since a data-driven
    pivot would sum in engine-dependent order. Rows outside ``groups``
    are excluded from the test entirely (ranks included).

    Scale shape (the MW/KS bounded-grain contract): rows collapse
    map-side to the value histogram — bounded by the value RANGE x
    scale, not the corpus; the one unpartitioned cumulative window
    runs over that bounded grain; everything after is a single
    k-column conditional aggregate. Rank-sum and tie cross-products
    accumulate in DECIMAL(38,0) (2R <= N(N+1), t^3 <= N^3 — the int64
    wrap past ~2e9 rows/side is the ADVICE-r11 KS lesson). Exactness
    bounds: every per-cell product has both factors inside int64, so
    single terms cannot exceed ~8.5e37 < 10^38; the tie term t^3
    stays exact while no single tied CELL holds more than ~4.6e12
    rows (beyond that the DECIMAL(38) product overflows — a constant
    column at planetary scale; pre-aggregate or re-grain first). One
    row out: (n, k_groups, h_statistic); df = k - 1.
    """
    k = len(groups)
    dec = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    vals = df.where(
        F.col(value_col).isNotNull() & F.col(group_col).isin(list(groups))
    ).select(
        F.round(F.col(value_col) * scale).cast("long").alias("c"),
        *[
            F.when(F.col(group_col) == g, 1).otherwise(0).alias(f"g{i}")
            for i, g in enumerate(groups, start=1)
        ],
    )
    hist = vals.groupBy("c").agg(
        F.count(F.lit(1)).alias("nv"),
        *[F.sum(f"g{i}").alias(f"n{i}v") for i in range(1, k + 1)],
    )
    w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.withColumn("cumn", F.coalesce(F.sum("nv").over(w), F.lit(0)))
    agg = cum.agg(
        F.sum("nv").cast("long").alias("n"),
        F.sum(dec(F.col("nv")) * dec(F.col("nv")) * F.col("nv") - F.col("nv"))
        .cast("decimal(38,0)")
        .alias("tsum"),
        *[
            c
            for i in range(1, k + 1)
            for c in (
                F.sum(f"n{i}v").cast("long").alias(f"n{i}"),
                F.sum(
                    dec(F.col(f"n{i}v"))
                    * dec(2 * F.col("cumn") + F.col("nv") + 1)
                )
                .cast("decimal(38,0)")
                .alias(f"two_r{i}"),
            )
        ],
    )
    return agg.select(
        "n",
        F.lit(k).cast("int").alias("k_groups"),
        F.expr(kw_h_expr(k)).alias("h_statistic"),
    )


def bf_w_expr(k: int) -> str:
    """Fixed-order SQL text of the Brown-Forsythe W over columns ``n``
    (total), ``s1all`` (sum of all group deviation sums) and
    ``n{i}``/``s1_{i}``/``s2_{i}`` (group count / sum of |2v - 2med| /
    sum of its square) for i = 1..k. Shared VERBATIM with the suite
    oracle. The doubled-deviation units cancel between numerator and
    denominator (both quadratic), so no /2 appears."""
    mean_all = "CAST(s1all AS DOUBLE) / CAST(n AS DOUBLE)"
    num = " + ".join(
        f"(CASE WHEN n{i} = 0 THEN 0.0 ELSE CAST(n{i} AS DOUBLE) * "
        f"(CAST(s1_{i} AS DOUBLE) / CAST(n{i} AS DOUBLE) - ({mean_all})) * "
        f"(CAST(s1_{i} AS DOUBLE) / CAST(n{i} AS DOUBLE) - ({mean_all})) END)"
        for i in range(1, k + 1)
    )
    den = " + ".join(
        f"(CASE WHEN n{i} = 0 THEN 0.0 ELSE CAST(s2_{i} AS DOUBLE) "
        f"- CAST(s1_{i} AS DOUBLE) * CAST(s1_{i} AS DOUBLE) "
        f"/ CAST(n{i} AS DOUBLE) END)"
        for i in range(1, k + 1)
    )
    return (
        f"(CAST(n - {k} AS DOUBLE) / CAST({k} - 1 AS DOUBLE)) "
        f"* ({num}) / ({den})"
    )


def brown_forsythe_w(
    df: DataFrame,
    value_col: str,
    group_col: str,
    groups: list[str],
    scale: int = 100,
) -> DataFrame:
    """Brown-Forsythe test of variance homogeneity (Brown & Forsythe
    1974): one-way ANOVA F on Z_ij = |x_ij - median_i|, the
    median-centered (robust) Levene variant, from all-integer
    sufficient statistics.

    Values collapse to the fixed-point grid; each group's median is
    EXACT on that grid (2*median = c_at(floor((n+1)/2)) +
    c_at(ceil((n+1)/2)), both found by one conditional MIN over the
    per-group cumulative histogram), so the doubled deviations
    |2c - 2med| are integers. Per-group (n_i, sum Z', sum Z'^2)
    accumulate in DECIMAL(38,0); W is one fixed-order double
    expression over the k pivoted triples (``bf_w_expr``) — the
    declared-group-order determinism contract of
    ``kruskal_wallis_h``. Complements it: KW tests location shift,
    BF tests SPREAD shift — the drift mode a location test misses
    (same mean, fatter tail).

    Scale shape: one map-side collapse to the (group, cell) histogram
    (bounded by k x value range x scale); the cumulative window is
    partitioned BY GROUP over that bounded grain; medians broadcast
    back onto the histogram, never onto rows. One row out:
    (n, k_groups, w_statistic); df = (k - 1, n - k).
    """
    k = len(groups)
    dec = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    vals = df.where(
        F.col(value_col).isNotNull() & F.col(group_col).isin(list(groups))
    ).select(
        F.col(group_col).alias("g"),
        F.round(F.col(value_col) * scale).cast("long").alias("c"),
    )
    hist = vals.groupBy("g", "c").agg(F.count(F.lit(1)).alias("cnt"))
    wcum = Window.partitionBy("g").orderBy("c").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = hist.withColumn("cum", F.sum("cnt").over(wcum))
    tot = hist.groupBy("g").agg(F.sum("cnt").alias("ng"))
    med2 = (
        cum.join(F.broadcast(tot), on="g")
        .groupBy("g")
        .agg(
            (
                F.min(F.when(F.col("cum") >= F.expr("(ng + 1) DIV 2"), F.col("c")))
                + F.min(F.when(F.col("cum") >= F.expr("(ng + 2) DIV 2"), F.col("c")))
            ).alias("med2")
        )
    )
    devs = hist.join(F.broadcast(med2), on="g").select(
        "g",
        "cnt",
        F.abs(2 * F.col("c") - F.col("med2")).alias("z2"),
    )
    per = devs.groupBy("g").agg(
        F.sum("cnt").cast("long").alias("ng"),
        F.sum(dec(F.col("z2")) * F.col("cnt")).cast("decimal(38,0)").alias("s1"),
        F.sum(dec(F.col("z2")) * dec(F.col("z2")) * F.col("cnt"))
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    one = per.agg(
        F.sum("ng").cast("long").alias("n"),
        F.sum("s1").cast("decimal(38,0)").alias("s1all"),
        *[
            c
            for i, g in enumerate(groups, start=1)
            for c in (
                F.coalesce(
                    F.sum(F.when(F.col("g") == g, F.col("ng"))), F.lit(0)
                )
                .cast("long")
                .alias(f"n{i}"),
                F.coalesce(
                    F.sum(F.when(F.col("g") == g, F.col("s1"))),
                    F.lit(0).cast("decimal(38,0)"),
                )
                .cast("decimal(38,0)")
                .alias(f"s1_{i}"),
                F.coalesce(
                    F.sum(F.when(F.col("g") == g, F.col("s2"))),
                    F.lit(0).cast("decimal(38,0)"),
                )
                .cast("decimal(38,0)")
                .alias(f"s2_{i}"),
            )
        ],
    )
    return one.select(
        "n",
        F.lit(k).cast("int").alias("k_groups"),
        F.expr(bf_w_expr(k)).alias("w_statistic"),
    )


# adjusted-Rand final expression shared VERBATIM with the suite
# oracle: columns n (BIGINT row count) and sij2/sa2/sb2 (DOUBLE,
# each = sum of m*(m-1) over cells / A-marginals / B-marginals, i.e.
# TWICE the pair counts — the /2 and the expected-index term fold
# into one fixed operation sequence). Degenerate denominators take
# the Hubert-Arabie conventions: identical trivial partitions -> 1.
ARI_EXPR = """
CASE WHEN n < 2 THEN 0.0
     WHEN ((sa2 + sb2) / 4.0
           - sa2 * sb2 / (2.0 * CAST(n AS DOUBLE)
                              * (CAST(n AS DOUBLE) - 1.0))) = 0.0 THEN 1.0
     ELSE (sij2 / 2.0
           - sa2 * sb2 / (2.0 * CAST(n AS DOUBLE)
                              * (CAST(n AS DOUBLE) - 1.0)))
          / ((sa2 + sb2) / 4.0
             - sa2 * sb2 / (2.0 * CAST(n AS DOUBLE)
                                * (CAST(n AS DOUBLE) - 1.0))) END
"""


def partition_agreement_ari(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Adjusted Rand Index (Hubert & Arabie 1985) between two
    partitions of the same rows — the permutation-invariant agreement
    score between two clusterings (label identities never compared,
    only co-membership), the standard way to score a dedup/clustering
    pass against a reference partition.

    Pair counting from exact integers: the (a, b) contingency cell
    counts n_ij, their A/B marginals, and the three pair sums
    sum(m*(m-1)) accumulate in DECIMAL(38,0) (a pair sum wraps int64
    past ~3e9 co-members — the ADVICE-r11 KS lesson); ARI is the one
    fixed-order double expression ``ARI_EXPR``. Chance-corrected: 0 =
    what random co-membership would score, 1 = identical partitions;
    a sketch partition that over-merges scores below the exact-dup
    partition's self-agreement.

    Scale shape: one map-side collapse to the contingency grain
    (bounded by the number of DISTINCT (a, b) label pairs, not rows);
    marginal sums are two further keyed aggregates of that grain; the
    three single-row totals broadcast-crossjoin. The contingency
    relation is pinned (three consumers — cell, A-marginal and
    B-marginal pair sums — would re-execute the row-scale upstream
    once each); released by the caller's ``cache_scope`` or the
    session sweep.
    Output doubles are exact below 2^53 (pair sums at any tested
    scale); beyond, both engines round-to-nearest identically.
    """
    dec = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    cells = (
        df.select(F.col(col_a).alias("_a"), F.col(col_b).alias("_b"))
        .groupBy("_a", "_b")
        .agg(F.count(F.lit(1)).alias("nij"))
    )
    cells = pin(cells)
    pair2 = lambda c: F.sum(dec(F.col(c)) * (F.col(c) - 1)).cast(  # noqa: E731
        "decimal(38,0)"
    )
    tot = cells.agg(
        F.sum("nij").cast("long").alias("n"), pair2("nij").alias("sij2_d")
    )
    am = cells.groupBy("_a").agg(F.sum("nij").alias("na")).agg(
        pair2("na").alias("sa2_d")
    )
    bm = cells.groupBy("_b").agg(F.sum("nij").alias("nb")).agg(
        pair2("nb").alias("sb2_d")
    )
    one = tot.crossJoin(F.broadcast(am)).crossJoin(F.broadcast(bm)).select(
        "n",
        F.col("sij2_d").cast("double").alias("sij2"),
        F.col("sa2_d").cast("double").alias("sa2"),
        F.col("sb2_d").cast("double").alias("sb2"),
    )
    return one.select(
        F.col("n").alias("n_rows"),
        F.col("sij2").alias("pairs2_both"),
        F.col("sa2").alias("pairs2_a"),
        F.col("sb2").alias("pairs2_b"),
        F.expr(ARI_EXPR).alias("ari_statistic"),
    )


def bh_z_thresholds(m: int, alpha: float = 0.05) -> list[float]:
    """|z| thresholds for Benjamini-Hochberg at two-sided level
    ``alpha`` over ``m`` planned tests: entry k (1-based) solves
    erfc(z / sqrt(2)) = k * alpha / m, i.e. the two-sided normal
    p-value at z equals the BH boundary k*alpha/m. Computed ONCE,
    driver-side, in pure Python (math.erfc bisection) and embedded as
    double literals in BOTH engines' expressions — the runtime plan
    stays transcendental-free (exp/erf differ across libm builds; a
    shared literal cannot)."""
    import math

    out = []
    for k in range(1, m + 1):
        target = k * alpha / m
        lo, hi = 0.0, 40.0
        for _ in range(200):
            mid = (lo + hi) / 2
            if math.erfc(mid / math.sqrt(2)) > target:
                lo = mid
            else:
                hi = mid
        out.append((lo + hi) / 2)
    return out


def mwu_screen_by_group(
    df: DataFrame,
    value_col: str,
    group_col: str,
    scale: int = 100,
) -> DataFrame:
    """One-vs-rest Mann-Whitney U per group over a SHARED combined
    ranking — the screening stage of a multiple-testing drift scan
    (one z per group, all from the same population midranks, so the
    m tests price their ranks once).

    Midranks come from the ONE combined cents histogram (the
    ``mann_whitney_u`` identity: 2R_g = sum(n_g(c) * (2*cum(c) + n(c)
    + 1))); each group's tie-corrected z reuses the combined tie sum.
    Rank-sum and tie cross-products accumulate in DECIMAL(38,0).

    Scale shape: one map-side collapse to the combined histogram
    (bounded by value range x scale) + one to the (group, cell) grain;
    the single unpartitioned cumulative window runs over the bounded
    combined grain; the (group, cell) relation joins it ON THE CELL
    KEY and collapses immediately to one row per group. Output: one
    row per group present — (group, n1, n2, u_statistic, z_value).
    """
    dec = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    vals = df.where(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(
        F.col(group_col).alias("g"),
        F.round(F.col(value_col) * scale).cast("long").alias("c"),
    )
    comb = vals.groupBy("c").agg(F.count(F.lit(1)).alias("nv"))
    w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, -1)
    comb = comb.withColumn(
        "cumn", F.coalesce(F.sum("nv").over(w), F.lit(0))
    )
    glob = comb.agg(
        F.sum("nv").cast("long").alias("n"),
        F.sum(dec(F.col("nv")) * dec(F.col("nv")) * F.col("nv") - F.col("nv"))
        .cast("decimal(38,0)")
        .alias("tsum"),
    )
    per = vals.groupBy("g", "c").agg(F.count(F.lit(1)).alias("ngv"))
    grp = (
        per.join(comb, on="c")
        .groupBy("g")
        .agg(
            F.sum("ngv").cast("long").alias("n1"),
            F.sum(dec(F.col("ngv")) * dec(2 * F.col("cumn") + F.col("nv") + 1))
            .cast("decimal(38,0)")
            .alias("two_r"),
        )
    )
    res = grp.crossJoin(F.broadcast(glob)).select(
        "g",
        "n1",
        (F.col("n") - F.col("n1")).cast("long").alias("n2"),
        "n",
        "tsum",
        (F.col("two_r") - dec(F.col("n1")) * (F.col("n1") + 1)).alias("u2"),
    )
    return res.select(
        "g",
        "n1",
        "n2",
        F.expr("CAST(u2 AS DOUBLE) / 2.0").alias("u_statistic"),
        F.expr(f"({MW_MEAN_DIFF}) / ({MW_SIGMA})").alias("z_value"),
    )


def bh_fdr_select(
    df: DataFrame,
    z_col: str,
    key_col: str,
    z_crits: list[float],
) -> DataFrame:
    """Benjamini-Hochberg step-up selection (Benjamini & Hochberg
    1995) over per-test z statistics: rank tests by |z| descending
    (= p ascending, ties broken by ``key_col``), find k* = max{k :
    |z|_(k) >= z_crit(k)} against the precomputed ``z_crits`` ladder
    (``bh_z_thresholds`` — entry k is the |z| whose two-sided p
    equals k*alpha/m), and reject ranks 1..k* — FDR control at alpha
    over the m PLANNED tests (absent groups leave their thresholds
    unclaimed: conservative, and deterministic on both engines).

    Runtime plan is transcendental-free: literal-array lookup by
    rank + one comparison; the two unpartitioned windows (row_number,
    max) run over the m test rows — bounded by the planned-test
    count, never by data. NULL z (degenerate sigma) ranks last and
    never rejects.
    """
    m = len(z_crits)
    # string-cast literals: a bare 2.93... literal parses as DECIMAL
    # in both engines; CAST('...' AS DOUBLE) round-trips the repr()
    # shortest-string to the identical double on both
    arr = "array(" + ", ".join(
        f"CAST('{float(z)!r}' AS DOUBLE)" for z in z_crits
    ) + ")"
    wr = Window.orderBy(
        F.abs(F.col(z_col)).desc_nulls_last(), F.col(key_col)
    )
    d = df.withColumn("p_rank", F.row_number().over(wr))
    # nested CASE keeps element_at's index in [1, m] even if more
    # groups than planned tests show up (ANSI element_at throws OOB)
    zc = F.when(F.col("p_rank") <= m, F.expr(f"element_at({arr}, p_rank)"))
    d = d.withColumn(
        "_ok",
        F.when(F.abs(F.col(z_col)) >= zc, F.col("p_rank")).otherwise(
            F.lit(0)
        ),
    )
    wall = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    d = d.withColumn("k_star", F.max("_ok").over(wall))
    return d.withColumn(
        "rejected", F.col("p_rank") <= F.col("k_star")
    ).drop("_ok", "k_star")
