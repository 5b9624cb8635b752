"""Time-series operators: date-spine gap filling, forward fill, and
time-range rolling windows (the timescale/hypertable-style analytics
the reference's Snowflake models would reach for with
``generate_series`` — here as native Spark window/array plans).

Scale notes: the spine is |keys| x |days| — keys come from a distinct
aggregate and days from one in-memory ``sequence``; the grid join
shuffles on (key, day) like any other equi-join and partitions by key
for the windows, so nothing funnels through a single partition. The
forward-fill uses the count-of-non-nulls "gaps and islands" grouping
(portable to any engine, same shape the DuckDB oracles use) rather
than engine-specific IGNORE NULLS.
"""

from __future__ import annotations

import datetime

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nhl_data_warehouse_spark.operators.caching import pin
from nhl_data_warehouse_spark.operators.stats import ordered_sum

# fixed-point grain of the money-valued series: cents
_CENTS = 100
# hash buckets the per-key recursions are grouped into (one pandas
# frame each), and the smoothing factor of both recursions
_N_BUCKETS = 256
_ALPHA = 0.5


def gap_fill(
    daily: DataFrame,
    key_col: str,
    day_col: str,
    start: datetime.date | str,
    end: datetime.date | str,
    zero_fill: list[str] | None = None,
    ffill: list[str] | None = None,
) -> DataFrame:
    """Densify a per-(key, day) aggregate onto a complete daily spine
    from ``start`` to ``end`` inclusive: every key gets every day.
    Missing days get 0 for ``zero_fill`` columns and the most recent
    prior value (NULL before the first observation) for ``ffill``
    columns; ``is_gap`` marks synthesized rows.
    """
    zero_fill = zero_fill or []
    ffill = ffill or []
    spine_days = daily.sparkSession.range(1).select(
        F.explode(
            F.sequence(
                F.lit(str(start)).cast("date"), F.lit(str(end)).cast("date")
            )
        ).alias(day_col)
    )
    keys = daily.select(key_col).distinct()
    grid = keys.crossJoin(spine_days)
    marked = daily.withColumn("__obs", F.lit(1))
    out = grid.join(marked, on=[key_col, day_col], how="left")
    # islands: rows up to and including each observation share a group
    grp_w = (
        Window.partitionBy(key_col)
        .orderBy(day_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = out.withColumn("__grp", F.count("__obs").over(grp_w))
    fill_w = Window.partitionBy(key_col, "__grp")
    cols = [F.col(key_col), F.col(day_col)]
    cols += [F.coalesce(F.col(c), F.lit(0)).alias(c) for c in zero_fill]
    # within an island the single non-null value is the leader's
    cols += [F.max(F.col(c)).over(fill_w).alias(f"{c}_ffill") for c in ffill]
    cols.append((F.col("__obs").isNull()).cast("int").alias("is_gap"))
    return out.select(*cols)


def rolling_days(
    daily: DataFrame,
    key_col: str,
    day_col: str,
    value_col: str,
) -> DataFrame:
    """Trailing 7-day rolling sum/count/avg of ``value_col``
    per key — a RANGE window over epoch days, so gaps in the calendar
    shorten the frame (true time-range semantics, not N-rows). The
    average divides the exact windowed sum once, as double.
    """
    day_num = F.datediff(F.col(day_col), F.lit("1970-01-01"))
    w = (
        Window.partitionBy(key_col)
        .orderBy(day_num)
        .rangeBetween(-6, 0)
    )
    rsum = F.sum(F.col(value_col).cast("decimal(18,2)")).over(w)
    rcnt = F.count(F.col(value_col)).over(w)
    return daily.select(
        key_col,
        day_col,
        F.col(value_col),
        rsum.alias("rolling_7d_sum"),
        rcnt.alias("rolling_7d_n"),
        (rsum.cast("double") / rcnt).alias("rolling_7d_avg"),
    )


def time_weighted_avg(events: DataFrame) -> DataFrame:
    """Time-weighted average per key (the TimescaleDB ``time_weight``
    shape, LOCF weighting): each observation holds its value until the
    next one, so the mean weights every value by how LONG it was
    current — the correct aggregate for irregularly sampled gauges
    (sensor readings, account balances, prices), where a plain AVG
    over-weights bursts. The final open-ended observation carries no
    duration and is excluded (standard LOCF convention).

    One keyed window (lead) and one partial-aggregated group-by —
    shuffles bounded by key cardinality. Determinism: durations are
    exact integer microseconds, value carried as DECIMAL through the
    weighted sum; ONE double division at the end.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dur_us = F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))
    weighted = events.select(
        "user_id",
        F.col("value").cast("decimal(18,2)").alias("_v"),
        dur_us.alias("_dur_us"),
    ).filter(F.col("_dur_us").isNotNull())
    return (
        weighted.groupBy("user_id")
        .agg(
            F.sum(F.col("_v") * F.col("_dur_us")).alias("_wsum"),
            F.sum("_dur_us").alias("_tot_us"),
        )
        .select(
            "user_id",
            # 6dp-rounded: the weighted sum exceeds 2^53, and DuckDB's
            # decimal->double cast double-rounds there (int128 then
            # /scale) while the JVM's BigDecimal cast rounds once — a
            # 1-ulp quotient divergence the suite's rounding hides
            F.round(
                F.col("_wsum").cast("double") / F.col("_tot_us").cast("double"),
                6,
            ).alias("time_weighted_avg"),
            (F.col("_tot_us").cast("double") / F.lit(1e6)).alias(
                "observed_seconds"
            ),
        )
    )


def km_survival(df: DataFrame) -> DataFrame:
    """Kaplan-Meier survival estimator over (duration, observed)
    spells — observed=1 is a completed event, 0 a right-censored
    spell. Emits one row per distinct duration t with the at-risk
    count, event/censor counts, and the LOG survival
    ln S(t) = sum_{u<=t} ln(1 - d_u/n_u) — emitted in log space so
    the estimate is a DECIMAL-summed chain of 6dp-rounded ln terms
    (order-free, engine-stable); exponentiate downstream for S(t).
    From the first time where every at-risk spell dies (d=n, survival
    exactly 0) onward, log survival is NULL.

    Scale design: spells reduce to one row per DISTINCT duration
    first (keyed partial agg); every window runs over that
    dimension-scale relation (duration values — days, not spells),
    the same bucket-totals argument as ``layout.two_level_rank``.
    """
    from pyspark.sql.window import Window

    t = F.col("duration")
    per_t = df.groupBy("duration").agg(
        F.count(F.lit(1)).alias("_m"),
        F.sum(F.col("observed").cast("long")).alias("n_events"),
        F.sum(F.lit(1) - F.col("observed").cast("long")).alias("n_censored"),
    )
    # windows over the distinct-durations relation only
    w = Window.orderBy(t)
    n_at_risk = (
        F.sum("_m").over(w.rowsBetween(Window.currentRow, Window.unboundedFollowing))
    ).cast("long")
    stepped = per_t.select(
        t.alias("duration"),
        n_at_risk.alias("n_at_risk"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("n_censored").cast("long").alias("n_censored"),
    )
    dies_out = F.col("n_events") == F.col("n_at_risk")
    factor = F.when(
        dies_out | (F.col("n_events") == 0), F.lit(0).cast("decimal(12,6)")
    ).otherwise(
        F.round(
            F.log(
                F.lit(1.0)
                - F.col("n_events") / F.col("n_at_risk").cast("double")
            ),
            6,
        ).cast("decimal(12,6)")
    )
    w2 = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return stepped.select(
        "duration",
        "n_at_risk",
        "n_events",
        "n_censored",
        F.when(
            F.max(dies_out.cast("int")).over(w2) == 1, F.lit(None).cast("double")
        )
        .otherwise(F.sum(factor).over(w2).cast("double"))
        .alias("log_survival"),
    )


def ewma(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    out_col: str = "ewma",
) -> DataFrame:
    """Exponentially weighted moving average per key, seeded at the
    first observation: ``y_t = alpha*x_t + (1-alpha)*y_{t-1}`` with
    ``y_0 = x_0`` and alpha = ``_ALPHA`` (pandas ``ewm(adjust=False)``
    semantics) — the smoothing/anomaly-baseline primitive SQL windows
    cannot express (the recursion has unbounded depth).

    Implemented as ``applyInPandas`` over COARSE key buckets, not raw
    keys: per-group Python dispatch costs ~1 ms, so millions of tiny
    per-key groups would spend 99% of the time in call overhead (the
    naive per-key form measured 20 s where this one takes ~1 s at
    sf0.1). Each bucket's pandas frame runs the whole recursion for
    all its keys in ONE Cython pass (``groupby().ewm(adjust=False)``),
    which reproduces the explicit loop bit-for-bit: per step it forms
    the same two products and one commutative IEEE add. Buckets
    partition the shuffle; a bucket (not just a key) must fit one
    task — size ``_N_BUCKETS`` to the cluster (same contract as any
    hash-partitioned grouped-map).

    Determinism: the recursion is evaluated left-to-right in every
    engine, so plain IEEE double arithmetic reproduces bit-for-bit —
    the oracle mirrors ``alpha``/``1-alpha`` via ``repr``; no rounding
    needed, unlike order-free parallel sums. Values must be non-null
    (NaN propagation differs between pandas' ignore_na handling and a
    plain recursion).

    The bit-for-bit contract holds only for alphas where ``alpha`` and
    ``1-alpha`` are both exactly representable AND sum to exactly 1.0
    in doubles (0.5, 0.25, 0.75, ...). pandas'
    ``adjust=False`` Cython kernel divides each step by
    ``(1-alpha)+alpha``, which is a no-op only when that sum is
    exactly 1.0; for e.g. alpha=0.3 it is 0.99999999999999989 and the
    result can differ in the last ulp from the plain recursion an
    oracle runs — why ``_ALPHA`` is 0.5.
    """
    import pandas as pd  # noqa: F401 — applyInPandas contract

    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema)
    schema = f"{fields}, {out_col} double"

    def smooth(pdf):
        pdf = pdf.sort_values([key_col, order_col]).reset_index(drop=True)
        pdf[out_col] = (
            pdf.groupby(key_col, sort=False)[value_col]
            .ewm(alpha=_ALPHA, adjust=False)
            .mean()
            .to_numpy()
        )
        return pdf

    bucketed = df.withColumn(
        "__kb", F.pmod(F.xxhash64(F.col(key_col)), F.lit(_N_BUCKETS))
    )
    out = bucketed.groupBy("__kb").applyInPandas(smooth, f"__kb bigint, {schema}")
    return out.drop("__kb")


def holt_linear(
    df: DataFrame,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Holt's linear (double-exponential) smoothing per key — the
    level+trend extension of ``ewma`` for series that drift: l_t =
    alpha*y_t + (1-alpha)*(l_{t-1} + b_{t-1}), b_t = beta*(l_t -
    l_{t-1}) + (1-beta)*b_{t-1}, seeded l_1 = y_1, b_1 = 0, with
    alpha = ``_ALPHA`` and beta = 0.25. Emits the running level,
    trend, and the one-step forecast l + b per observation — the anomaly baseline that keeps up with a trending
    series where plain EWMA lags by a constant.

    Same dispatch economics as ``ewma``: ``applyInPandas`` over
    COARSE key buckets (per-group Python dispatch ~1 ms; the
    recursion itself loops per key INSIDE the bucket frame in one
    call). The two-state recursion has no pandas kernel, so it runs
    as an explicit numpy loop — linear per key, exactly the ops of
    the definition in order, which is what makes it bit-reproducible
    against a plain-SQL recursion (the oracle uses a RECURSIVE CTE
    stepping rank t -> t+1 with the identical double expressions; a
    DuckDB list_reduce struct fold was REJECTED: its 1.0 accumulator
    updates fields in place mid-lambda, silently corrupting any
    recursion whose fields read each other's old values).

    Alpha and beta are FP-exact (0.5 and 0.25) for the bit-for-bit
    contract — the ewma caveat verbatim.
    """
    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema
    )
    schema = (
        f"{fields}, holt_level double, holt_trend double,"
        " holt_forecast double"
    )
    a, bt = _ALPHA, 0.25

    def smooth(pdf):
        import numpy as np

        pdf = pdf.sort_values([key_col, "month"]).reset_index(drop=True)
        vals = pdf[value_col].to_numpy(dtype="float64")
        keys = pdf[key_col].to_numpy()
        lev = np.empty(len(pdf))
        trd = np.empty(len(pdf))
        prev_key = None
        l = b = 0.0
        for i in range(len(pdf)):
            y = vals[i]
            if keys[i] != prev_key:
                l, b = y, 0.0
                prev_key = keys[i]
            else:
                ln = a * y + (1.0 - a) * (l + b)
                b = bt * (ln - l) + (1.0 - bt) * b
                l = ln
            lev[i] = l
            trd[i] = b
        pdf["holt_level"] = lev
        pdf["holt_trend"] = trd
        pdf["holt_forecast"] = lev + trd
        return pdf

    bucketed = df.withColumn(
        "__kb", F.pmod(F.xxhash64(F.col(key_col)), F.lit(_N_BUCKETS))
    )
    out = bucketed.groupBy("__kb").applyInPandas(
        smooth, f"__kb bigint, {schema}"
    )
    return out.drop("__kb")


def cusum_positive(
    df: DataFrame,
    order_col: str,
    value_col: str,
) -> DataFrame:
    """One-sided (positive) CUSUM drift statistic over an ORDERED,
    BOUNDED relation (daily/monthly aggregates — reduce the row-scale
    data to the time grain FIRST): ``S_t = max(0, S_{t-1} + x_t - k)``
    flags sustained upward drift beyond the reference level ``k``.

    The recursion looks window-inexpressible (like EWMA), but has a
    closed form: with ``C_t = cumsum(x_i - k)``,
    ``S_t = C_t - min(0, min_{j<=t} C_j)`` — the running sum minus the
    deepest prior trough. Two plain SQL windows, no UDF, no
    applyInPandas; exact when ``x`` and ``k`` are integers (cents), so
    the statistic is bit-stable across engines by construction.

    Both windows are unpartitioned BY DESIGN: the operator contract is
    a pre-aggregated time spine (thousands of rows), where the
    reduction has already happened — same bounded-relation pattern as
    the suite's month-over-month queries, not a row-scale window.
    """
    x, k = F.col(value_col), F.col("k")
    w = Window.orderBy(order_col).rowsBetween(Window.unboundedPreceding, 0)
    c = F.sum(x - k).over(w)
    out = df.withColumn("__c", c).withColumn(
        "__trough", F.least(F.lit(0).cast("long"), F.min("__c").over(w))
    )
    return out.withColumn("cusum", F.col("__c") - F.col("__trough")).drop(
        "__c", "__trough"
    )


def day_bitmask_retention(
    df: DataFrame,
    n_days: int = 29,
) -> DataFrame:
    """Day-over-day retention from per-user activity BITMASKS.

    One ``bit_or(1 << (day-1))`` aggregate folds a user's whole month
    of activity into a single bigint; every retention question
    (active on d? also on d+1? any 7-day streak?) then reads straight
    off the masks with shift/AND — no self-join of day pairs, no
    distinct-explosion. This is the bitmap-index idiom: the shuffled
    state is ONE integer per user regardless of event volume, and the
    day expansion (a ``sequence`` literal x masks) is a map-side
    cross of a 29-element array, not a join.

    Output: (day_of_month, n_active, n_retained, retention) for days
    1..n_days, retention = retained/active as one raw division.
    """
    masks = df.groupBy("user_id").agg(
        F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), day(ts) - 1))").alias("mask")
    )
    flags = masks.select(
        F.explode(F.sequence(F.lit(1), F.lit(n_days))).alias("d"), "mask"
    ).select(
        "d",
        F.expr(
            "CASE WHEN (shiftright(mask, d - 1) & 1) = 1 THEN 1 ELSE 0 END"
        ).alias("active"),
        F.expr(
            "CASE WHEN (shiftright(mask, d - 1) & 3) = 3 THEN 1 ELSE 0 END"
        ).alias("retained"),
    )
    return (
        flags.groupBy("d")
        .agg(
            F.sum("active").cast("long").alias("n_active"),
            F.sum("retained").cast("long").alias("n_retained"),
            F.expr(
                "CASE WHEN SUM(active) = 0 THEN 0.0 "
                "ELSE CAST(SUM(retained) AS DOUBLE)"
                " / CAST(SUM(active) AS DOUBLE) END"
            ).alias("retention"),
        )
        .select(
            F.col("d").cast("long").alias("day_of_month"),
            "n_active",
            "n_retained",
            "retention",
        )
    )


def linear_interpolate(
    grid: DataFrame,
    partition_col: str,
    day_col: str,
    value_col: str,
) -> DataFrame:
    """Linear interpolation over a dense date grid: gap rows (NULL
    ``value_col``) get the straight line between the bracketing
    observations of their partition; rows outside the first/last
    observation stay NULL. The LOCF/zero-fill sibling is
    ``gap_fill``; this is the interpolating form.

    Two ignore-nulls windows carry (value, day) of the previous and
    next observation to every row; the interpolation itself is one
    fixed-order double expression — pv + (nv - pv) * (dd1 / dd2) —
    so results are bit-stable across engines when ``value_col``
    enters exact. Windows partition by ``partition_col``; the frame
    length is the spine, not the corpus.

    Output: grid columns plus ``value_interp`` and ``is_gap``.
    """
    j = grid.withColumn(
        "is_gap", F.when(F.col(value_col).isNull(), 1).otherwise(0)
    )
    wb = (
        Window.partitionBy(partition_col)
        .orderBy(day_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy(partition_col)
        .orderBy(day_col)
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col(value_col).isNotNull(), F.col(day_col))
    br = j.select(
        partition_col,
        day_col,
        value_col,
        "is_gap",
        F.last(value_col, ignorenulls=True).over(wb).alias("_pv"),
        F.last(obs_day, ignorenulls=True).over(wb).alias("_pd"),
        F.first(value_col, ignorenulls=True).over(wf).alias("_nv"),
        F.first(obs_day, ignorenulls=True).over(wf).alias("_nd"),
    )
    interp = (
        F.when(F.col("is_gap") == 0, F.col(value_col))
        .when(
            F.col("_pv").isNotNull() & F.col("_nv").isNotNull(),
            F.col("_pv")
            + (F.col("_nv") - F.col("_pv"))
            * (
                F.datediff(day_col, "_pd").cast("double")
                / F.datediff("_nd", "_pd").cast("double")
            ),
        )
        .otherwise(F.lit(None).cast("double"))
    )
    return br.select(
        partition_col,
        day_col,
        interp.alias("value_interp"),
        "is_gap",
    )


def cusum_peak(
    df: DataFrame,
    cents_scale: int = 100,
) -> DataFrame:
    """CUSUM drift/changepoint screen over an integer-valued series
    keyed by a BOUNDED time grain (days — the same contract as
    ``autocorrelation``): the classic mean-centered cumulative sum

        C_d = sum_{t<=d} (x_t - mean(x))

    peaks at the most likely single changepoint; a large |C| relative
    to the series says the ingestion/source mix SHIFTED mid-stream —
    the distribution-drift gate a training pipeline runs on
    time-ordered corpora before trusting a chronological split.

    Exactness: C_d has a rational mean inside it, so it is cleared to
    the integer form C_d * D = S_d * D - d * T (inclusive prefix sum
    S_d, day index d, total T, day count D) accumulated in
    DECIMAL(38,0); the PEAK is chosen by comparing those exact
    integers (never doubles), ties broken to the earliest day; the
    reported magnitude is ONE double division at the end. The only
    window runs over the bounded day grain.

    Output (one row): n_days, peak_day, peak_cusum (signed, in
    value units — cents/``cents_scale``), mean_daily (same units).
    """
    cum, tot = _cusum_parts(df)
    scaled = cum.crossJoin(F.broadcast(tot)).select(
        "d", "n_days", "t", _cusum_sc()
    )
    peak = scaled.groupBy("n_days", "t").agg(
        F.max(F.abs(F.col("sc"))).alias("pk")
    )
    at_peak = scaled.join(F.broadcast(peak), on=["n_days", "t"]).where(
        F.abs(F.col("sc")) == F.col("pk")
    )
    return _cusum_report(at_peak, cents_scale)


def _cusum_parts(df: DataFrame, *group_cols: str) -> tuple[DataFrame, DataFrame]:
    """Per day ``d`` (within slice ``g`` of ``group_cols``): the
    running value sum ``s`` and day index ``idx`` in DECIMAL(38,0);
    and per slice the day count ``n_days`` and value total ``t``."""
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    g = [F.col(c).alias("g") for c in group_cols]
    cum = df.select(
        *g,
        F.col("d").alias("d"),
        F.sum("x").over(w).cast("decimal(38,0)").alias("s"),
        F.count(F.lit(1)).over(w).cast("decimal(38,0)").alias("idx"),
    )
    tot = df.groupBy(*g).agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("x").cast("long").alias("t"),
    )
    return cum, tot


def _cusum_sc() -> Column:
    """The mean-centered CUSUM cleared to integers: S_d * D - d * T."""
    return (
        (F.col("s") * F.col("n_days") - F.col("idx") * F.col("t"))
        .cast("decimal(38,0)")
        .alias("sc")
    )


def _cusum_report(at_peak: DataFrame, cents_scale: int, *keys: str) -> DataFrame:
    """Earliest peak day per (keys, n_days, t) of the peak-|sc| rows,
    with the peak CUSUM and the mean daily value in value units."""
    return at_peak.groupBy(*keys, "n_days", "t").agg(
        F.min("d").alias("peak_day"),
        F.expr("min_by(sc, d)").alias("sc_at_peak"),
    ).select(
        *keys,
        "n_days",
        "peak_day",
        F.expr(
            "CAST(sc_at_peak AS DOUBLE)"
            f" / (CAST(n_days AS DOUBLE) * {float(cents_scale)})"
        ).alias("peak_cusum"),
        F.expr(
            "CAST(t AS DOUBLE)"
            f" / (CAST(n_days AS DOUBLE) * {float(cents_scale)})"
        ).alias("mean_daily"),
    )


def grouped_cusum_peak(
    df: DataFrame,
    group_col: str,
    cents_scale: int = 100,
) -> DataFrame:
    """``cusum_peak`` with every stage keyed by ``group_col`` — the
    sliced drift scorecard (one CUSUM changepoint row per source /
    priority / language), and the scale-clean form: the prefix-sum
    window PARTITIONS by the slice, so unlike the global operator
    there is NO unpartitioned stage at all (the auc_by_language
    pattern). Same integer-exact algebra: per-slice C_d * D = S_d * D
    - d * T in DECIMAL(38,0), peak by integer comparison, earliest
    day on ties, one double division per slice at the end.

    The per-group totals and peaks relations are one-row-per-group, so
    they are joined with PLAIN equi-joins and AQE picks the strategy —
    broadcast when the group domain is small (the suite's priority
    slice), shuffled hash when a caller feeds a high-cardinality
    ``group_col`` where a forced broadcast would ship a data-sized
    relation to every executor (ADVICE r9).
    """
    cum, tot = _cusum_parts(df, group_col)
    scaled = cum.join(tot, on="g").select("g", "d", "n_days", "t", _cusum_sc())
    peak = scaled.groupBy("g").agg(F.max(F.abs(F.col("sc"))).alias("pk"))
    at_peak = scaled.join(peak, on="g").where(
        F.abs(F.col("sc")) == F.col("pk")
    )
    return _cusum_report(at_peak, cents_scale, "g").withColumnRenamed(
        "g", group_col
    )


def theil_sen_trend(df: DataFrame) -> DataFrame:
    """Theil-Sen robust trend of a day-grain series — the median of
    all pairwise slopes, with the median intercept of the residuals:
    the outlier-proof alternative to OLS (a single corrupted day
    moves OLS arbitrarily; Theil-Sen tolerates ~29% contamination) —
    the robust drift-rate gate for per-day corpus metrics.

    The pair join is a theta join over the BOUNDED day grain (the
    kendall_tau_b doctrine: days don't multiply as rows grow —
    D(D-1)/2 pairs is fixed by the time range, so the broadcast
    nested loop is over a constant-size relation, never row-scale).

    The slope median is computed the SCALABLE way: millions of pair
    slopes quantize to micro-unit integer cells (FLOOR of one
    identical double expression — engine-identical by construction),
    collapse through a map-side-combined groupBy, and the two middle
    ranks are read off the cell histogram's prefix sums
    (``prefix_sum_cells`` — no single-reducer exact percentile, which
    measured 10x the cost of the whole pair join at 2.9M slopes).
    The intercept median runs exact ``percentile`` over the DAY-count
    residuals only (thousands, not millions — the exact_percentiles
    recipe), 6dp-rounded with the -0.0 guard.
    """
    from nhl_data_warehouse_spark.operators.dedup import scale_out
    from nhl_data_warehouse_spark.operators.stats import prefix_sum_cells

    q = 1_000_000.0
    daily = df.select(
        F.unix_date(F.col("d").cast("date")).cast("long").alias("de"),
        F.col("x").cast("long").alias("x"),
    )
    # The pair theta-join fans every probe row out against the whole
    # broadcast day relation: D rows of input become D(D-1)/2 slope
    # evaluations, so the probe side's PARTITION COUNT — not its byte
    # size — bounds the parallelism of the quadratic stage. Post-agg
    # AQE coalescing sees a few KB and hands the BNLJ ONE task
    # (guide §2.5: byte-based heuristics misjudge fan-out stages);
    # scale_out re-spreads the day grain when under-partitioned and
    # no-ops at real scale where the agg is already wide.
    a = scale_out(daily).select(F.col("de").alias("d1"), F.col("x").alias("x1"))
    b = daily.select(F.col("de").alias("d2"), F.col("x").alias("x2"))
    cells = (
        a.join(F.broadcast(b), F.col("d2") > F.col("d1"))
        .select(
            F.expr(
                "CAST(FLOOR((CAST(x2 - x1 AS DOUBLE) * 1000000.0)"
                " / CAST(d2 - d1 AS DOUBLE)) AS BIGINT)"
            ).alias("c")
        )
        .groupBy("c")
        .agg(F.count(F.lit(1)).alias("nv"))
    )
    # two consumers (total + prefix sums) — persist so the pair join
    # runs once; released by the caller's cache_scope or
    # session.release_cached
    cells = pin(cells)
    tot = cells.agg(F.sum("nv").cast("long").alias("n_pairs"))
    # pin_input: cells is the EXPENSIVE pair-join subplan with three
    # consumer stages (bounds, cumsum window, totals) — the eager
    # barrier runs it exactly once (8.7 s -> 4.8 s warm at sf0.1);
    # the trade is one construction-time job, documented here per
    # ADVICE r9 (gini and other cheap-histogram callers stay lazy)
    cum = prefix_sum_cells(cells, "c", "nv", pin_input=True).crossJoin(
        F.broadcast(tot)
    )
    # ONE filter catches both middle ranks (they may share a cell:
    # then min = max); min/max over the <= 2 selected cells is exact
    sel = cum.where(
        (
            (F.col("cum") < F.expr("(n_pairs + 1) DIV 2"))
            & (F.col("cum") + F.col("nv") >= F.expr("(n_pairs + 1) DIV 2"))
        )
        | (
            (F.col("cum") < F.expr("n_pairs DIV 2 + 1"))
            & (F.col("cum") + F.col("nv") >= F.expr("n_pairs DIV 2 + 1"))
        )
    )
    sl = sel.groupBy("n_pairs").agg(
        F.min("c").alias("clo"), F.max("c").alias("chi")
    ).select(
        "n_pairs",
        F.expr(
            f"(CAST(clo AS DOUBLE) + CAST(chi AS DOUBLE)) / (2.0 * {q})"
        ).alias("sl"),
    )
    nd = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    resid = daily.crossJoin(F.broadcast(sl)).select(
        "n_pairs",
        "sl",
        F.expr("CAST(x AS DOUBLE) - sl * CAST(de AS DOUBLE)").alias("r"),
    )
    fit = resid.groupBy("n_pairs", "sl").agg(
        F.percentile("r", F.lit(0.5)).alias("ic")
    )
    return fit.crossJoin(F.broadcast(nd)).select(
        "n_days",
        "n_pairs",
        (F.round(F.col("sl"), 6) + 0.0).alias("slope_per_day"),
        (F.round(F.col("ic"), 6) + 0.0).alias("intercept"),
    )


def autocorrelation(
    series: DataFrame,
    t_col: str,
    max_lag: int = 7,
) -> DataFrame:
    """Sample autocorrelation r_k for k = 1..max_lag over an integer-
    valued series (e.g. daily revenue in cents), exactly.

    The standard estimator r_k = sum_{t<=n-k}(x_t - m)(x_{t+k} - m) /
    sum_t(x_t - m)^2 with the full-series mean m = Sx/n is a ratio of
    rationals; multiplying both sides by n^2 clears the denominators:

        A_k = n^2*Sk - n*Sx*(Hk + Tk) + (n - k)*Sx^2
        D   = n * (n*Sxx - Sx^2)
        r_k = A_k / D

    where Sk = sum(x_t * x_{t+k}), Hk/Tk the head/tail partial sums
    over the overlap. Products exceed 2^63 for cent-scale daily
    revenue, so the sums accumulate in DECIMAL(38,0) (internal only);
    r_k is one double division per lag. The lead() window runs over
    the BOUNDED time grain (days — the CUSUM contract in this
    module), never rows; position t is the row_number over t_col so
    calendar gaps don't create phantom zero terms.

    Output: (lag, n_pairs, acf) for each k, NULL when the series is
    constant (D = 0).
    """
    w = Window.orderBy(t_col)
    x = series.select(
        F.col("x").cast("long").alias("x"),
        F.row_number().over(w).alias("t"),
    )
    leads = x.select(
        "x",
        *[F.lead("x", k).over(Window.orderBy("t")).alias(f"x{k}") for k in range(1, max_lag + 1)],
    )
    big = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(big("x")).cast("decimal(38,0)").alias("sx"),
        F.sum(big("x") * big("x")).cast("decimal(38,0)").alias("sxx"),
    ]
    for k in range(1, max_lag + 1):
        xk = f"x{k}"
        aggs += [
            F.sum(big("x") * big(xk)).cast("decimal(38,0)").alias(f"sk{k}"),
            F.sum(F.when(F.col(xk).isNotNull(), big("x"))).cast("decimal(38,0)").alias(f"hk{k}"),
            F.sum(big(xk)).cast("decimal(38,0)").alias(f"tk{k}"),
            F.sum(F.when(F.col(xk).isNotNull(), 1).otherwise(0)).cast("long").alias(f"np{k}"),
        ]
    st = leads.agg(*aggs)
    # one struct per lag inside ONE projection (a UNION of per-lag
    # selects would recompute the aggregate per lag)
    lag_structs = [
        F.struct(
            F.lit(k).cast("long").alias("lag"),
            F.col(f"np{k}").alias("n_pairs"),
            F.expr(
                "CASE WHEN n * sxx = sx * sx THEN CAST(NULL AS DOUBLE) ELSE "
                f"CAST(n * n * sk{k} - n * sx * (hk{k} + tk{k})"
                f" + (n - {k}) * sx * sx AS DOUBLE)"
                " / CAST(n * (n * sxx - sx * sx) AS DOUBLE) END"
            ).alias("acf"),
        )
        for k in range(1, max_lag + 1)
    ]
    return (
        st.select(F.explode(F.array(*lag_structs)).alias("r"))
        .select("r.lag", "r.n_pairs", "r.acf")
    )


def seasonal_naive_backtest(
    df: DataFrame,
    date_col: str,
    value_col: str,
    split_date: str = "1997-01-01",
) -> DataFrame:
    """Forecast-quality gate: MASE and sMAPE of the seasonal-naive
    forecast (f(d) = y(d - 7), a weekly season) on a train/eval date
    split — the standard backtest a pipeline runs BEFORE trusting any
    fancier model, and the denominator convention (MASE scales eval
    error by the train-period naive error) every forecasting
    benchmark uses.
    MASE < 1 means the candidate beats persistence; this operator
    scores persistence itself so the threshold is calibrated on the
    actual series.

    Determinism: daily totals are exact integer cents; the forecast
    join is an equi-join on the shifted DATE key (no window at all —
    day d meets day d-7 by key, so gaps self-exclude
    identically on both engines); absolute errors are integers; MASE
    is one fixed-order double expression of four exact integers.
    sMAPE terms 2|e|/(y+f) are per-day single divisions rounded 12dp
    and summed as DECIMAL (the average_precision order-free recipe),
    zero-denominator days contribute 0 by convention. Degenerate
    splits (empty train/eval, zero train error) emit explicit NULLs.

    Scale shape: one map-side-combined day-grain aggregate, one
    day-keyed equi-join (bounded by the date span), one bounded
    aggregate. Nothing row-scale crosses a window.
    """
    daily = df.groupBy(F.col(date_col).cast("date").alias("d")).agg(
        F.sum(F.round(F.col(value_col) * _CENTS).cast("long"))
        .cast("long")
        .alias("v")
    )
    fc = daily.select(F.date_add("d", 7).alias("d"), F.col("v").alias("f"))
    j = daily.join(fc, on="d")
    e = F.abs(F.col("v") - F.col("f"))
    is_eval = F.col("d") >= F.lit(split_date).cast("date")
    sm_term = (
        F.when(
            (F.col("v") + F.col("f")) > 0,
            F.round(
                F.lit(2.0)
                * e.cast("double")
                / (F.col("v") + F.col("f")).cast("double"),
                12,
            ),
        )
        .otherwise(F.lit(0.0))
        .cast("decimal(28,12)")
    )
    agg = j.agg(
        F.sum(F.when(~is_eval, 1).otherwise(0)).cast("long").alias("n_train"),
        F.sum(F.when(is_eval, 1).otherwise(0)).cast("long").alias("n_eval"),
        F.sum(F.when(~is_eval, e)).cast("long").alias("ae_train"),
        F.sum(F.when(is_eval, e)).cast("long").alias("ae_eval"),
        F.sum(F.when(is_eval, sm_term)).cast("decimal(38,12)").alias("sm_dec"),
    )
    return agg.select(
        "n_train",
        "n_eval",
        F.expr(
            "CASE WHEN n_train = 0 OR n_eval = 0 OR ae_train = 0"
            " THEN CAST(NULL AS DOUBLE)"
            " ELSE (CAST(ae_eval AS DOUBLE) / CAST(n_eval AS DOUBLE))"
            " / (CAST(ae_train AS DOUBLE) / CAST(n_train AS DOUBLE)) END"
        ).alias("mase"),
        F.expr(
            "CASE WHEN n_eval = 0 THEN CAST(NULL AS DOUBLE)"
            " ELSE CAST(sm_dec AS DOUBLE) / CAST(n_eval AS DOUBLE) END"
        ).alias("smape"),
    )


def dow_seasonal_anomalies(
    df: DataFrame,
    time_col: str,
    value_col: str,
) -> DataFrame:
    """Seasonal-naive anomaly detection on a daily series: each day's
    total is z-scored against ITS DAY-OF-WEEK's population moments, so
    a strong weekly cycle (weekends always low) stops masquerading as
    drift — the calendar-aware complement to the CUSUM family (which
    finds level SHIFTS, not single outlier days).

    Determinism doctrine: daily totals are exact integer cents; the
    per-slice moments are exact sums (count / cents / squared cents in
    DECIMAL(38,0) — daily-total squares pass 2^63 at warehouse scale);
    z is the zscore_outliers fixed-order double expression
    ``(x - s/n) / sqrt(ss/n - (s/n)*(s/n))``. Degenerate slices are
    excluded by the INTEGER variance guard ``n*ss > s*s`` (a
    float-side sqrt(0)/NaN would order differently across engines).

    Scale: two keyed aggregates (day grain, then the 7-row DOW grain)
    and one equi-join back; the DOW moments relation is 7 rows — AQE
    broadcasts it. No windows, no unpartitioned stages.
    """
    daily = df.groupBy(F.col(time_col).cast("date").alias("d")).agg(
        F.sum(F.round(F.col(value_col) * _CENTS).cast("long"))
        .cast("long")
        .alias("v")
    )
    # Spark dayofweek is 1-7 Sunday-first; emit 0-6 (DuckDB's encoding)
    daily = daily.withColumn("dow", (F.dayofweek("d") - 1).cast("long"))
    vdec = F.col("v").cast("decimal(38,0)")
    moments = daily.groupBy(F.col("dow").alias("m_dow")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
        F.sum(vdec * vdec).cast("decimal(38,0)").alias("ssd"),
    )
    guarded = moments.where(
        (F.col("n") >= 2)
        & (
            F.col("n").cast("decimal(38,0)") * F.col("ssd")
            > F.col("s").cast("decimal(38,0)") * F.col("s").cast("decimal(38,0)")
        )
    ).select(
        "m_dow", "n", "s", F.col("ssd").cast("double").alias("ss")
    )
    z = F.expr(
        "(CAST(v AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
        " / sqrt(ss / CAST(n AS DOUBLE)"
        " - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
        " * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))"
    )
    return (
        daily.join(guarded, daily["dow"] == guarded["m_dow"])
        .select(
            "d",
            "dow",
            F.expr(f"CAST(v AS DOUBLE) / {float(_CENTS)}").alias("day_total"),
            z.alias("z"),
        )
        .filter(F.abs(F.col("z")) > 1.5)
    )


def seasonal_decompose_daily(
    df: DataFrame,
    time_col: str,
    value_col: str,
) -> DataFrame:
    """Classical additive decomposition of a daily series into trend +
    weekly seasonal + residual: trend is the 7-day CENTERED moving
    average (NULL on the 3 edge days each side), the seasonal term is
    the per-day-of-week mean of the detrended series re-centered to
    sum to zero across the week, and the residual is what anomaly
    review should actually read (``dow_seasonal_anomalies`` flags
    whole days; the residual separates how much of a day was cycle vs
    genuinely unexplained).

    Determinism doctrine: daily totals are integer cents; the
    detrended series is kept as the EXACT INTEGER ``d7 = 7*v - s7``
    (1/7-cent units, where s7 is the 7-day window sum), so the
    per-DOW seasonal means are single divisions of exact integer
    sums; the week re-centering folds the 7 DOW means in DOW order
    (the ordered-fold recipe); trend and residual are fixed-order
    double expressions. Windows run over the bounded DAY GRAIN (the
    ACF/CUSUM contract: days don't multiply as rows grow).
    """
    daily = df.groupBy(F.col(time_col).cast("date").alias("d")).agg(
        F.sum(F.round(F.col(value_col) * _CENTS).cast("long"))
        .cast("long")
        .alias("v")
    )
    day_num = F.datediff(F.col("d"), F.lit("1970-01-01"))
    w = Window.orderBy(day_num).rangeBetween(-3, 3)
    stepped = daily.select(
        "d",
        (F.dayofweek("d") - 1).cast("long").alias("dow"),
        "v",
        F.when(F.count("v").over(w) == 7, F.sum("v").over(w)).alias("s7"),
    )
    # d7 = 7*v - s7: the detrended value in EXACT 1/7-cent integers
    stepped = stepped.withColumn(
        "d7", F.lit(7) * F.col("v") - F.col("s7")
    )
    dow_means = (
        stepped.where(F.col("d7").isNotNull())
        .groupBy("dow")
        .agg(
            F.sum("d7").cast("long").alias("sd7"),
            F.count(F.lit(1)).cast("long").alias("nd"),
        )
        .select(
            "dow",
            F.expr(
                f"CAST(sd7 AS DOUBLE) / (CAST(nd AS DOUBLE) * 7.0"
                f" * {float(_CENTS)})"
            ).alias("raw_seasonal"),
        )
    )
    centering = dow_means.agg(
        ordered_sum("dow", "raw_seasonal").alias("season_sum"),
        F.count(F.lit(1)).cast("long").alias("n_dows"),
    )
    seasonal = dow_means.crossJoin(F.broadcast(centering)).select(
        F.col("dow").alias("m_dow"),
        F.expr(
            "raw_seasonal - season_sum / CAST(n_dows AS DOUBLE)"
        ).alias("seasonal"),
    )
    return (
        stepped.join(seasonal, stepped["dow"] == seasonal["m_dow"], "left")
        .select(
            "d",
            "dow",
            F.expr(f"CAST(v AS DOUBLE) / {float(_CENTS)}").alias("day_total"),
            F.expr(f"CAST(s7 AS DOUBLE) / (7.0 * {float(_CENTS)})").alias("trend"),
            "seasonal",
            F.expr(
                f"CAST(v AS DOUBLE) / {float(_CENTS)}"
                f" - CAST(s7 AS DOUBLE) / (7.0 * {float(_CENTS)})"
                " - seasonal"
            ).alias("resid"),
        )
    )


def logrank_two_sample(df: DataFrame) -> DataFrame:
    """Two-sample log-rank test (Mantel-Cox) over right-censored
    (duration, observed, group) spells — does group 1's survival
    curve differ from the rest's? The hypothesis test COMPANION of
    ``km_survival`` (which estimates one curve but compares nothing).

    At each distinct event time t: d_t total events, n_t / n1_t total
    and group-1 at-risk counts (reverse-cumulative sums over the
    distinct-durations relation, the km_survival shape). O1 = sum d1_t
    is an exact integer; the expected-count and hypergeometric-
    variance terms e1_t = d_t * n1_t / n_t and
    v_t = d_t * (n1_t/n_t) * (1 - n1_t/n_t) * (n_t - d_t) / (n_t - 1)
    are per-row doubles from exact integers, rounded to 6dp and
    DECIMAL-summed (order-free, engine-stable — the km_survival ln-
    factor recipe; term magnitudes <= d_t keep round(x*1e6) far
    inside 2^53 where both engines' rounding agrees). One row out:
    (n_spells, o1, e1, v, z_value) with z = (O1 - E1)/sqrt(V) as one
    fixed-order double expression; z^2 is the 1-df chi-square.

    Scale shape: spells collapse map-side to the (duration, counts)
    grain — bounded by distinct durations (days), not spells; both
    windows run over that bounded relation; the final reduce is one
    row. Single-spell times with n_t = 1 carry v_t = 0 (the n_t - 1
    guard), matching the hypergeometric-variance convention.
    """
    from pyspark.sql.window import Window

    t = F.col("duration")
    per_t = df.groupBy("duration").agg(
        F.count(F.lit(1)).alias("_m"),
        F.sum(F.col("g1").cast("long")).alias("_m1"),
        F.sum(F.col("observed").cast("long")).alias("_d"),
        F.sum((F.col("observed") * F.col("g1")).cast("long")).alias("_d1"),
    )
    w = Window.orderBy(t).rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    stepped = per_t.select(
        "_d",
        "_d1",
        F.sum("_m").over(w).cast("long").alias("_n"),
        F.sum("_m1").over(w).cast("long").alias("_n1"),
    ).where(F.col("_d") > 0)
    frac = F.col("_n1") / F.col("_n").cast("double")
    e1 = F.round(F.col("_d") * frac, 6).cast("decimal(18,6)")
    v = F.when(F.col("_n") <= 1, F.lit(0).cast("decimal(18,6)")).otherwise(
        F.round(
            F.col("_d")
            * frac
            * (F.lit(1.0) - frac)
            * ((F.col("_n") - F.col("_d"))
               / (F.col("_n") - F.lit(1)).cast("double")),
            6,
        ).cast("decimal(18,6)")
    )
    agg = stepped.agg(
        F.sum("_d").cast("long").alias("d_total"),
        F.sum("_d1").cast("long").alias("o1"),
        F.sum(e1).cast("decimal(38,6)").alias("_e1s"),
        F.sum(v).cast("decimal(38,6)").alias("_vs"),
    )
    return agg.select(
        "d_total",
        "o1",
        F.col("_e1s").cast("double").alias("e1_expected"),
        F.col("_vs").cast("double").alias("v_variance"),
        F.expr(
            "CASE WHEN CAST(_vs AS DOUBLE) <= 0.0 THEN NULL "
            "ELSE (CAST(o1 AS DOUBLE) - CAST(_e1s AS DOUBLE)) "
            "/ sqrt(CAST(_vs AS DOUBLE)) END"
        ).alias("z_value"),
    )
