"""Round-6 SQL-surface + statistics suite.

Two families (VERDICT r5 items 6 and the beyond-reference widening):

- **Dialect surfaces** the reference's Snowflake SQL implies but no
  registered query exercised yet: QUALIFY (window-filter sugar — OSS
  Spark has no QUALIFY keyword, so the Spark side is the canonical
  window+filter expansion while the DuckDB oracle runs the literal
  QUALIFY), GROUP BY ALL, literal TABLESAMPLE, inline VALUES tables,
  try_* guarded arithmetic, count_if/bool_and/bool_or, max_by/min_by.
  (MERGE INTO as a literal SQL statement is verified UNSUPPORTED on
  the bundled catalogs — v1 tables raise
  UNSUPPORTED_FEATURE.TABLE_OPERATION; the DataFrame merge family
  `merge_upsert_roundtrip` covers the semantics and is driver-green.
  Round-7 re-attempt per VERDICT r6 item 7: installing a v2 catalog
  is impossible in this environment — `import delta` raises
  ModuleNotFoundError and ivy resolution of
  `io.delta:delta-spark_2.13:4.0.0` fails offline with
  `unresolved dependency: io.delta#delta-spark_2.13;4.0.0: not
  found`. Round 9 (VERDICT r8 item 5): the write-only Delta arm is
  DELETED — `merge_upsert` (staged overwrite) and `incremental_insert`
  (anti-join) are the supported upsert strategies, documented in
  write.py and SCALE.md.)
- **Distribution statistics** a training-data pipeline runs on its
  metrics: Mann-Whitney U (nonparametric A/B), two-sample
  Kolmogorov-Smirnov drift, exact-sufficient-statistics OLS with a
  built-in `regr_*` cross-check, day-bitmask retention, linear
  interpolation gap fill, a 2-D Pareto frontier, and the native batch
  `session_window`.

Cross-engine determinism doctrine (suite/__init__ docstring) applies:
integer/decimal sufficient statistics, one fixed-order double
expression at the edge, identical aliases both sides. Rank-based
statistics aggregate to the bounded CENTS grain (value is priced in
cents: ~49k distinct cells at any corpus size) before any
unpartitioned window, so the ordering step never sees row-scale data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nhl_data_warehouse_spark.operators.caching import pin
from nhl_data_warehouse_spark.operators.stats import ordered_sum
from nhl_data_warehouse_spark.suite.analytics import _Q1_PRIORITY_GRID_CTES
from nhl_data_warehouse_spark.suite.core import _SESSION_IDS_CTES
from nhl_data_warehouse_spark.suite.ingest import _value_sessions_sql
from nhl_data_warehouse_spark.suite.registry import load, register

# ---------------------------------------------------------------------------
# Dialect surfaces
# ---------------------------------------------------------------------------


@register(
    "qualify_top_parts",
    op_ids="Snowflake-dialect QUALIFY surface (reference warehouse "
    "idiom): window-filter sugar. OSS Spark has no QUALIFY keyword — "
    "the Spark side is its exact definitional expansion (window in a "
    "subquery, filter above); the oracle runs DuckDB's literal "
    "QUALIFY so the sugar's semantics are what is being checked",
    description="top-3 parts by retail price per brand via "
    "QUALIFY-equivalent window filtering (row_number, full tie-break)",
    oracle="""
        SELECT p_brand, p_partkey, p_retailprice,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY p_brand
                   ORDER BY p_retailprice DESC, p_partkey) AS BIGINT) AS rk
        FROM part
        QUALIFY rk <= 3
    """,
)
def qualify_top_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    (part,) = load(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey")
    )
    return (
        part.select(
            "p_brand",
            "p_partkey",
            "p_retailprice",
            F.row_number().over(w).cast("long").alias("rk"),
        )
        .where(F.col("rk") <= 3)
    )


@register(
    "group_by_all_revenue",
    op_ids="GROUP BY ALL dialect surface (Spark 3.4+/Snowflake/DuckDB "
    "shared sugar): grouping keys inferred as every non-aggregate "
    "select item — the SAME SQL text runs on both engines",
    description="orders per (priority, year) via literal GROUP BY ALL "
    "through spark.sql",
    oracle="""
        SELECT o_orderpriority,
               CAST(year(o_orderdate) AS BIGINT) AS order_year,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue
        FROM orders
        GROUP BY ALL
    """,
)
def group_by_all_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("v_gba_orders")
    return spark.sql("""
        SELECT o_orderpriority,
               CAST(year(o_orderdate) AS BIGINT) AS order_year,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue
        FROM v_gba_orders
        GROUP BY ALL
    """)


@register(
    "tablesample_hash_bucket",
    op_ids="literal TABLESAMPLE surface (BUCKET x OUT OF y, "
    "REPEATABLE seed) — the engine's own page/row sampler, checked "
    "the tolerance-band way: membership is engine-specific, but the "
    "sample-size concentration bound and without-replacement "
    "uniqueness are engine-independent booleans",
    description="TABLESAMPLE (BUCKET 1 OUT OF 4) REPEATABLE(42) over "
    "orders: exact total, 6-sigma Chernoff band on the sample "
    "fraction, and key-uniqueness of the sample",
    oracle="""
        SELECT COUNT(*) AS n_total,
               TRUE AS sample_within_6sigma,
               TRUE AS sample_keys_unique
        FROM orders
    """,
)
def tablesample_hash_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p=1/4 Bernoulli row sampling: |n_s − np| ≤ 6·sqrt(np(1−p))+1
    fails with probability < 2e-9 per run — a deliberate-bug detector
    (wrong bucket arithmetic, double sampling), not a flake source.
    The seed pins Spark-side reproducibility; the oracle never needs
    the membership, only the table's exact count and the booleans."""
    (orders,) = load(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("v_ts_orders")
    sample = spark.sql(
        "SELECT o_orderkey FROM v_ts_orders"
        " TABLESAMPLE (BUCKET 1 OUT OF 4) REPEATABLE (42)"
    )
    samp = sample.agg(
        F.count(F.lit(1)).alias("n_sample"),
        F.count_distinct("o_orderkey").alias("n_keys"),
    )
    total = orders.agg(F.count(F.lit(1)).alias("n_total"))
    return total.crossJoin(F.broadcast(samp)).select(
        "n_total",
        (
            F.abs(
                F.col("n_sample").cast("double")
                - F.col("n_total").cast("double") / 4.0
            )
            <= F.sqrt(F.col("n_total").cast("double") * 3.0 / 16.0) * 6.0 + 1.0
        ).alias("sample_within_6sigma"),
        (F.col("n_keys") == F.col("n_sample")).alias("sample_keys_unique"),
    )


# nations per market of an inline region -> market mapping; ``v``
# prefixes the table names (Spark reads temp views, the oracle tables)
_MARKET_NATIONS_SQL = """
        SELECT m.market, COUNT(*) AS n_nations,
               MIN(n.n_name) AS first_nation
        FROM {v}nation n
        JOIN {v}region r ON n.n_regionkey = r.r_regionkey
        JOIN (VALUES ('AFRICA', 'EMEA'), ('EUROPE', 'EMEA'),
                     ('MIDDLE EAST', 'EMEA'), ('AMERICA', 'AMER'),
                     ('ASIA', 'APAC')) AS m(r_name, market)
          ON r.r_name = m.r_name
        GROUP BY m.market
    """


@register(
    "values_inline_enrich",
    op_ids="inline VALUES table surface: a literal constant relation "
    "joined (broadcast by construction) to catalog data — the "
    "hand-maintained mapping-table idiom warehouses embed in SQL",
    description="nations per market segment, the segment coming from "
    "an inline VALUES mapping of region names",
    oracle=_MARKET_NATIONS_SQL.format(v=""),
)
def values_inline_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation, region = load(spark, sf_dir, "nation", "region")
    nation.createOrReplaceTempView("v_vi_nation")
    region.createOrReplaceTempView("v_vi_region")
    return spark.sql(_MARKET_NATIONS_SQL.format(v="v_vi_"))


@register(
    "try_arithmetic_guards",
    op_ids="ANSI-mode guarded arithmetic surface (try_divide / "
    "try_cast): Spark 4 runs ANSI SQL where bad casts and x/0 THROW — "
    "the try_* family is the permissive path ingest code must use; "
    "the oracle states the same semantics with CASE/TRY_CAST",
    description="per order-status: rows whose priority tag fails an "
    "integer cast (all of them — tags are '1-URGENT' style) and rows "
    "where a guarded division nulls out on a zero denominator, plus "
    "the exact sum of the surviving divisions",
    oracle="""
        SELECT o_orderstatus,
               COUNT(*) AS n_rows,
               COUNT(CASE WHEN TRY_CAST(o_orderpriority AS INTEGER)
                          IS NULL THEN 1 END) AS n_bad_int,
               COUNT(CASE WHEN o_orderkey % 2 = 0 THEN 1 END) AS n_null_div,
               CAST(SUM(CASE WHEN o_orderkey % 2 = 1 THEN
                   CAST(CAST(o_totalprice AS DECIMAL(18,2))
                        / (o_orderkey % 2) AS DECIMAL(28,2))
                   END) AS DOUBLE) AS sum_guarded_div
        FROM orders GROUP BY o_orderstatus
    """,
)
def try_arithmetic_guards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """try_divide(x, k%2) is NULL exactly on even keys; the surviving
    odd-key divisions are by 1, so the values are exactly 2-decimal
    and the scale-2 sum is exact. Scale 2, not the division's natural
    scale 8: a scale-s decimal is double-safe only while value*10^s
    fits 2^53 (DuckDB converts via int128 -> double -> /10^s — TWO
    roundings once the integer form overflows the mantissa), and the
    sf0.1 sum already breaks scale 8."""
    (orders,) = load(spark, sf_dir, "orders")
    guarded = F.try_divide(
        F.col("o_totalprice").cast("decimal(18,2)"), F.col("o_orderkey") % 2
    ).cast("decimal(28,2)")
    return orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(
            F.when(F.col("o_orderpriority").try_cast("integer").isNull(), 1)
        ).alias("n_bad_int"),
        F.count(F.when(F.col("o_orderkey") % 2 == 0, 1)).alias("n_null_div"),
        F.sum(guarded).cast("double").alias("sum_guarded_div"),
    )


@register(
    "bool_count_if_gates",
    op_ids="boolean-aggregate surface (count_if / bool_and / bool_or) "
    "— the quality-gate aggregates shared verbatim by Spark and "
    "DuckDB; the SAME SQL text runs on both engines",
    description="per order-status: big-order count and all/any price "
    "predicates as one pass of boolean aggregates",
    oracle="""
        SELECT o_orderstatus,
               COUNT(*) AS n_orders,
               CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big,
               bool_and(o_totalprice > 0) AS all_positive,
               bool_or(o_totalprice > 400000) AS any_huge
        FROM orders GROUP BY o_orderstatus
    """,
)
def bool_count_if_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("v_bg_orders")
    return spark.sql("""
        SELECT o_orderstatus,
               COUNT(*) AS n_orders,
               CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big,
               bool_and(o_totalprice > 0) AS all_positive,
               bool_or(o_totalprice > 400000) AS any_huge
        FROM v_bg_orders GROUP BY o_orderstatus
    """)


@register(
    "max_by_min_by_extremes",
    op_ids="max_by/min_by aggregate surface: the argmax idiom as one "
    "keyed partial aggregate (no window, no join-back) — with a "
    "composite (value, key) ordering struct so ties can never make "
    "the answer engine-dependent",
    description="per order priority: the key and price of the most "
    "and least expensive order (key-tie-broken), plus the extremes",
    oracle="""
        WITH ranked AS (
            SELECT o_orderpriority, o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                       ORDER BY o_totalprice DESC, o_orderkey DESC) AS rk_hi,
                   ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                       ORDER BY o_totalprice ASC, o_orderkey ASC) AS rk_lo
            FROM orders
        )
        SELECT o_orderpriority,
               MIN(CASE WHEN rk_hi = 1 THEN o_orderkey END) AS top_orderkey,
               MIN(CASE WHEN rk_hi = 1 THEN o_totalprice END) AS top_price,
               MIN(CASE WHEN rk_lo = 1 THEN o_orderkey END) AS bottom_orderkey,
               MIN(CASE WHEN rk_lo = 1 THEN o_totalprice END) AS bottom_price
        FROM ranked GROUP BY o_orderpriority
    """,
)
def max_by_min_by_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by with a struct ordering key: Spark compares
    structs lexicographically, so (price, key) makes the winner
    unique even when prices tie. The oracle can't spell arg_max over
    a composite (DuckDB arg_max takes scalar vals), so it states the
    same answer via ROW_NUMBER — the values, not the idiom, are what
    must match."""
    (orders,) = load(spark, sf_dir, "orders")
    hi = F.struct("o_totalprice", "o_orderkey")
    # min_by tie-break must mirror ORDER BY price ASC, key ASC — for
    # the struct ordering that is the plain (price, key) minimum
    return orders.groupBy("o_orderpriority").agg(
        F.max_by("o_orderkey", hi).alias("top_orderkey"),
        F.max("o_totalprice").alias("top_price"),
        F.min_by("o_orderkey", hi).alias("bottom_orderkey"),
        F.min("o_totalprice").alias("bottom_price"),
    )


@register(
    "session_window_stats",
    op_ids="native batch session_window operator (the merging-window "
    "aggregate; streaming twin already green as streaming_sessionize, "
    "hand-rolled batch twin as sessionize_events — this pins the "
    "BUILT-IN batch form on the same islands oracle)",
    description="4-hour-gap sessions per user via F.session_window in "
    "a plain batch aggregation: start, end (= last event + gap), "
    "event count and exact value sum per session",
    oracle=f"""
        WITH {_value_sessions_sql(14400000000)}
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 4 HOUR AS session_end,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM numbered GROUP BY user_id, session_id
    """,
)
def session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load(spark, sf_dir, "events")
    return (
        events.groupBy("user_id", F.session_window("ts", "4 hours"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# Distribution statistics over the bounded cents grain
# ---------------------------------------------------------------------------

# Mann-Whitney / KS reduce event values to integer CENTS first: the
# grain every rank statistic actually needs is the distinct-value
# histogram, and prices live on a finite cent grid (~49k cells here,
# bounded by the price range — not by corpus size), so the one
# unpartitioned ordering window runs over the histogram, never the
# rows. The final statistics are single fixed-order double expressions
# over all-integer sufficient statistics — the regression.py doctrine.

# the z-statistic's operation sequence is shared VERBATIM with the
# Spark operator (operators/stats.py) so both engines run the same
# IEEE op order
from nhl_data_warehouse_spark.operators.stats import (  # noqa: E402
    MW_MEAN_DIFF as _MW_FINAL,
    MW_SIGMA as _MW_SIGMA,
)


# event values in cents, flagged click (1) or view (0); their
# per-cent histogram; and both samples' running ECDF counts over it
_CLICK_VIEW_VALS_CTE = """vals AS (
        SELECT CAST(round(value * 100) AS BIGINT) AS c,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is1
        FROM events
        WHERE event_type IN ('click', 'view') AND value IS NOT NULL
    )"""

_CLICK_VIEW_HIST_CTES = f"""{_CLICK_VIEW_VALS_CTE},
    hist AS (
        SELECT c, SUM(is1) AS n1v, COUNT(*) - SUM(is1) AS n2v
        FROM vals GROUP BY c
    )"""

_ECDF_SUMS_SQL = """SUM(n1v) OVER (ORDER BY c
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS cum1,
       SUM(n2v) OVER (ORDER BY c
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS cum2"""


@register(
    "mann_whitney_order_values",
    op_ids="beyond-reference nonparametric two-sample test: "
    "Mann-Whitney U with midranks and the tie-corrected normal "
    "approximation, computed from ALL-INTEGER sufficient statistics "
    "(2R1 and sum(t^3 - t) over the cents histogram) so both engines "
    "state bit-identical U and z",
    description="click-vs-view event values: exact U statistic and "
    "tie-corrected z — the distribution-free A/B gate when value "
    "distributions are skewed (complements the parametric "
    "ab_value_ztest)",
    oracle=f"""
        WITH {_CLICK_VIEW_VALS_CTE},
        hist AS (
            SELECT c, SUM(is1) AS n1v, COUNT(*) AS nv
            FROM vals GROUP BY c
        ),
        cum AS (
            SELECT n1v, nv,
                   COALESCE(SUM(nv) OVER (ORDER BY c
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS cumn
            FROM hist
        ),
        stats AS (
            SELECT CAST(SUM(n1v) AS BIGINT) AS n1,
                   CAST(SUM(nv) AS BIGINT) AS n,
                   CAST(SUM(n1v * (2 * cumn + nv + 1)) AS BIGINT) AS r2,
                   CAST(SUM(nv * nv * nv - nv) AS BIGINT) AS tsum
            FROM cum
        ),
        u AS (
            SELECT n1, n - n1 AS n2, n, tsum,
                   r2 - n1 * (n1 + 1) AS u2
            FROM stats
        )
        SELECT n1 AS n_click, n2 AS n_view,
               CAST(u2 AS DOUBLE) / 2.0 AS u_statistic,
               ({_MW_FINAL}) / ({_MW_SIGMA}) AS z_value
        FROM u
    """,
)
def mann_whitney_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.stats import mann_whitney_u

    (events,) = load(spark, sf_dir, "events")
    two = events.where(F.col("event_type").isin("click", "view"))
    return mann_whitney_u(
        two, "value", F.col("event_type") == "click"
    ).select(
        F.col("n1").alias("n_click"),
        F.col("n2").alias("n_view"),
        "u_statistic",
        "z_value",
    )


@register(
    "ks_test_value_drift",
    op_ids="beyond-reference two-sample Kolmogorov-Smirnov drift "
    "test: sup-norm ECDF distance with the max taken over INTEGER "
    "cross-products (|cum1*n2 - cum2*n1|) so D is one final division "
    "— the drift gate run between corpus snapshots before retraining",
    description="click-vs-view event value distributions: exact KS D "
    "statistic over the cents histogram",
    oracle=f"""
        WITH {_CLICK_VIEW_HIST_CTES},
        cum AS (
            SELECT {_ECDF_SUMS_SQL}
            FROM hist
        ),
        tot AS (
            SELECT CAST(MAX(cum1) AS BIGINT) AS n1,
                   CAST(MAX(cum2) AS BIGINT) AS n2,
                   CAST(MAX(ABS(cum1 * (SELECT MAX(cum2) FROM cum)
                              - cum2 * (SELECT MAX(cum1) FROM cum)))
                        AS BIGINT) AS dnum
            FROM cum
        )
        SELECT n1 AS n_click, n2 AS n_view,
               CAST(dnum AS DOUBLE)
                   / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS d_stat
        FROM tot
    """,
)
def ks_test_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.stats import ks_two_sample

    (events,) = load(spark, sf_dir, "events")
    two = events.where(F.col("event_type").isin("click", "view"))
    return ks_two_sample(
        two, "value", F.col("event_type") == "click"
    ).select(
        F.col("n1").alias("n_click"), F.col("n2").alias("n_view"), "d_stat"
    )


# md5(event_id) split of the valued events: first hex digit 0-7 is
# the calibration half
_CONFORMAL_SPLIT_SQL = """substring(md5(CAST(event_id AS VARCHAR)), 1, 1)
               IN ('0','1','2','3','4','5','6','7') AS is_cal
    FROM events WHERE value IS NOT NULL"""


@register(
    "conformal_value_coverage",
    op_ids="beyond-reference distribution-free calibration gate: "
    "split-conformal interval + empirical coverage — k-th smallest "
    "nonconformity on a content-addressed md5 calibration half (k = "
    "ceil(0.9*(n+1)) by exact integer ceil-division), realized "
    "coverage on the eval half. All-integer: the predictor is the "
    "exact RATIONAL calibration mean, so scores scale to integer "
    "numerators |c*n - s| over the BOUNDED cents cell grain, the "
    "threshold is an integer order statistic off the residual-cell "
    "histogram, coverage an integer comparison + ONE division",
    description="90% split-conformal interval on event values "
    "(md5(event_id) split): calibration/eval sizes, rank k, interval "
    "half-width q, and realized eval coverage",
    oracle=f"""
        WITH base AS (
            SELECT CAST(round(value * 100) AS BIGINT) AS c,
                   {_CONFORMAL_SPLIT_SQL}
        ),
        calh AS (SELECT c, COUNT(*) AS nv FROM base WHERE is_cal GROUP BY 1),
        evh AS (SELECT c, COUNT(*) AS nv FROM base WHERE NOT is_cal
                GROUP BY 1),
        ct AS (
            SELECT CAST(SUM(nv) AS BIGINT) AS n_cal,
                   SUM(CAST(c AS HUGEINT) * nv) AS s_cal
            FROM calh
        ),
        kk AS (
            SELECT CAST((9 * (n_cal + 1) + 9) // 10 AS BIGINT) AS k,
                   n_cal, s_cal
            FROM ct
        ),
        rh AS (
            SELECT ABS(CAST(c AS HUGEINT) * ct.n_cal - ct.s_cal) AS r,
                   SUM(nv) AS rnv
            FROM calh CROSS JOIN ct GROUP BY 1
        ),
        cum AS (
            SELECT r, SUM(rnv) OVER (ORDER BY r
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS rcum
            FROM rh
        ),
        thr AS (
            SELECT MIN(r) AS q_num FROM cum CROSS JOIN kk WHERE rcum >= kk.k
        ),
        ev AS (
            SELECT CAST(SUM(nv) AS BIGINT) AS n_eval,
                   CAST(SUM(CASE WHEN ABS(CAST(c AS HUGEINT) * kk.n_cal
                                          - kk.s_cal) <= thr.q_num
                                 THEN nv ELSE 0 END) AS BIGINT) AS n_cov
            FROM evh CROSS JOIN kk CROSS JOIN thr
        )
        SELECT kk.n_cal, ev.n_eval, kk.k AS k_rank,
               CASE WHEN q_num IS NULL THEN CAST(NULL AS DOUBLE)
                    ELSE CAST(q_num AS DOUBLE)
                         / (CAST(kk.n_cal AS DOUBLE) * 100.0)
               END AS q_hat,
               CASE WHEN n_eval IS NULL OR n_eval = 0
                    THEN CAST(NULL AS DOUBLE)
                    WHEN q_num IS NULL THEN 1.0
                    ELSE CAST(n_cov AS DOUBLE) / CAST(n_eval AS DOUBLE)
               END AS coverage
        FROM kk CROSS JOIN thr CROSS JOIN ev
    """,
)
def conformal_value_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.stats import (
        split_conformal_coverage,
    )

    (events,) = load(spark, sf_dir, "events")
    return split_conformal_coverage(
        events, id_col="event_id", value_col="value",
    )


@register(
    "conformal_coverage_by_type",
    op_ids="beyond-reference SLICED split-conformal: one interval + "
    "realized coverage per event type (group-conditional coverage — "
    "the marginal guarantee can hide a badly-covered slice), every "
    "stage keyed by the slice: (g, cell) histograms, (g, r) residual "
    "cells, cumulative window PARTITIONED by g, per-slice threshold "
    "and coverage equi-joins — NO unpartitioned stage at all (the "
    "grouped_cusum_peak doctrine); same all-integer construction as "
    "the global gate",
    description="per-event-type 90% split-conformal interval "
    "(md5(event_id) split): calibration/eval sizes, rank k, interval "
    "half-width, realized coverage",
    oracle=f"""
        WITH base AS (
            SELECT event_type AS g,
                   CAST(round(value * 100) AS BIGINT) AS c,
                   {_CONFORMAL_SPLIT_SQL}
        ),
        calh AS (SELECT g, c, COUNT(*) AS nv FROM base WHERE is_cal
                 GROUP BY 1, 2),
        evh AS (SELECT g, c, COUNT(*) AS nv FROM base WHERE NOT is_cal
                GROUP BY 1, 2),
        ct AS (
            SELECT g, CAST(SUM(nv) AS BIGINT) AS n_cal,
                   SUM(CAST(c AS HUGEINT) * nv) AS s_cal
            FROM calh GROUP BY 1
        ),
        kk AS (
            SELECT g, n_cal, s_cal,
                   CAST((9 * (n_cal + 1) + 9) // 10 AS BIGINT) AS k
            FROM ct
        ),
        rh AS (
            SELECT calh.g,
                   ABS(CAST(c AS HUGEINT) * ct.n_cal - ct.s_cal) AS r,
                   SUM(nv) AS rnv
            FROM calh JOIN ct ON ct.g = calh.g GROUP BY 1, 2
        ),
        cum AS (
            SELECT g, r, SUM(rnv) OVER (PARTITION BY g ORDER BY r
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS rcum
            FROM rh
        ),
        thr AS (
            SELECT cum.g, MIN(r) AS q_num
            FROM cum JOIN kk ON kk.g = cum.g
            WHERE rcum >= kk.k GROUP BY 1
        ),
        ev AS (
            SELECT evh.g, CAST(SUM(nv) AS BIGINT) AS n_eval,
                   CAST(SUM(CASE WHEN ABS(CAST(c AS HUGEINT) * kk.n_cal
                                          - kk.s_cal) <= thr.q_num
                                 THEN nv ELSE 0 END) AS BIGINT) AS n_cov
            FROM evh
            JOIN kk ON kk.g = evh.g
            LEFT JOIN thr ON thr.g = evh.g
            GROUP BY 1
        )
        SELECT kk.g AS event_type, kk.n_cal,
               CAST(COALESCE(ev.n_eval, 0) AS BIGINT) AS n_eval,
               kk.k AS k_rank,
               CASE WHEN q_num IS NULL THEN CAST(NULL AS DOUBLE)
                    ELSE CAST(q_num AS DOUBLE)
                         / (CAST(kk.n_cal AS DOUBLE) * 100.0)
               END AS q_hat,
               CASE WHEN ev.n_eval IS NULL OR ev.n_eval = 0
                    THEN CAST(NULL AS DOUBLE)
                    WHEN q_num IS NULL THEN 1.0
                    ELSE CAST(n_cov AS DOUBLE) / CAST(ev.n_eval AS DOUBLE)
               END AS coverage
        FROM kk
        LEFT JOIN thr ON thr.g = kk.g
        LEFT JOIN ev ON ev.g = kk.g
    """,
)
def conformal_coverage_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.stats import (
        grouped_split_conformal_coverage,
    )

    (events,) = load(spark, sf_dir, "events")
    return grouped_split_conformal_coverage(
        events, group_col="event_type", id_col="event_id",
        value_col="value",
    )


@register(
    "qq_drift_deciles",
    op_ids="beyond-reference drift LOCALIZATION: exact decile QQ "
    "table between the two samples (KS says THAT, W1 says HOW MUCH, "
    "this says WHERE — tails vs body); discrete upper quantiles via "
    "integer cross-multiplication (100*cum >= q*n) over the bounded "
    "cents cell grain, 9-row decile grid broadcast, per-side keyed "
    "min, one 9-row join — the derive_cell_minutes recipe per decile",
    description="click-vs-view event value deciles side by side "
    "with exact differences — which part of the distribution moved",
    oracle=f"""
        WITH {_CLICK_VIEW_HIST_CTES},
        cum AS (
            SELECT c,
                   {_ECDF_SUMS_SQL}
            FROM hist
        ),
        tot AS (
            SELECT CAST(MAX(cum1) AS BIGINT) AS n1,
                   CAST(MAX(cum2) AS BIGINT) AS n2
            FROM cum
        ),
        grid AS (
            SELECT c, cum1, cum2, n1, n2, decile
            FROM cum CROSS JOIN tot
            CROSS JOIN (SELECT unnest(range(10, 100, 10)) AS decile)
        ),
        qa AS (
            SELECT decile, MIN(c) AS ca FROM grid
            WHERE n1 > 0 AND cum1 * 100 >= decile * n1 GROUP BY 1
        ),
        qb AS (
            SELECT decile, MIN(c) AS cb FROM grid
            WHERE n2 > 0 AND cum2 * 100 >= decile * n2 GROUP BY 1
        )
        SELECT CAST(qa.decile AS BIGINT) AS decile,
               CAST(ca AS DOUBLE) / 100 AS q1,
               CAST(cb AS DOUBLE) / 100 AS q2,
               CAST(ca - cb AS DOUBLE) / 100 AS q_diff
        FROM qa JOIN qb USING (decile)
    """,
)
def qq_drift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.stats import qq_drift_deciles

    (events,) = load(spark, sf_dir, "events")
    two = events.where(F.col("event_type").isin("click", "view"))
    return qq_drift_deciles(two, "value", F.col("event_type") == "click")


@register(
    "wasserstein_value_drift",
    op_ids="beyond-reference earth-mover drift gate: exact two-sample "
    "1-Wasserstein distance — the INTEGRAL companion to the KS sup "
    "(W1 weighs drift by mass moved x distance moved; a 1-cent shift "
    "of everything and a 10-dollar shift of 0.1% tie on KS but "
    "differ 1000x on W1): ECDFs are steps over the cents grain, so "
    "W1 is a finite sum of integer cross-products x integer gaps "
    "accumulated in DECIMAL(38,0) (order-free), ONE final division; "
    "bounded cell-grain window shared by cum and lead",
    description="click-vs-view event value distributions: exact W1 "
    "(earth-mover) distance in value units over the cents histogram",
    oracle=f"""
        WITH {_CLICK_VIEW_HIST_CTES},
        cum AS (
            SELECT c,
                   {_ECDF_SUMS_SQL},
                   LEAD(c) OVER (ORDER BY c) AS cnext
            FROM hist
        ),
        tot AS (
            SELECT CAST(MAX(cum1) AS BIGINT) AS n1,
                   CAST(MAX(cum2) AS BIGINT) AS n2
            FROM cum
        ),
        num AS (
            SELECT SUM(CAST(ABS(cum1 * tot.n2 - cum2 * tot.n1) AS HUGEINT)
                       * (cnext - c)) AS wnum
            FROM cum CROSS JOIN tot
            WHERE cnext IS NOT NULL
        )
        SELECT tot.n1 AS n_click, tot.n2 AS n_view,
               CASE WHEN tot.n1 = 0 OR tot.n2 = 0 THEN CAST(NULL AS DOUBLE)
                    ELSE CAST(COALESCE(wnum, 0) AS DOUBLE)
                         / (CAST(tot.n1 AS DOUBLE) * CAST(tot.n2 AS DOUBLE)
                            * 100.0)
               END AS w1_dist
        FROM tot CROSS JOIN num
    """,
)
def wasserstein_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.stats import wasserstein_two_sample

    (events,) = load(spark, sf_dir, "events")
    two = events.where(F.col("event_type").isin("click", "view"))
    return wasserstein_two_sample(
        two, "value", F.col("event_type") == "click"
    ).select(
        F.col("n1").alias("n_click"), F.col("n2").alias("n_view"), "w1_dist"
    )


@register(
    "ks_drift_by_priority",
    op_ids="beyond-reference SLICED two-sample Kolmogorov-Smirnov: "
    "one exact KS D per order priority (early-epoch vs late-epoch "
    "order values) — grouped_ks_two_sample keys EVERY stage by the "
    "slice (cents histogram on (slice, cell), cumulative window "
    "PARTITIONED by the slice, per-slice totals equi-joined back), "
    "so unlike the global ks_test_value_drift there is NO "
    "unpartitioned stage at all (the grouped_cusum_peak pattern); "
    "integer cross-product sup, one division per slice, explicit "
    "NULL on an empty side",
    description="per-priority KS D between pre-1995 and post-1995 "
    "order-value distributions — drift localized to the slice that "
    "moved, the sliced form of the retraining drift gate",
    oracle="""
        WITH vals AS (
            SELECT o_orderpriority AS g,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS c,
                   CASE WHEN o_orderdate < TIMESTAMP '1995-01-01'
                        THEN 1 ELSE 0 END AS is1
            FROM orders WHERE o_totalprice IS NOT NULL
        ),
        hist AS (
            SELECT g, c, SUM(is1) AS n1v, COUNT(*) - SUM(is1) AS n2v
            FROM vals GROUP BY 1, 2
        ),
        cum AS (
            SELECT g,
                   SUM(n1v) OVER (PARTITION BY g ORDER BY c
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum1,
                   SUM(n2v) OVER (PARTITION BY g ORDER BY c
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum2
            FROM hist
        ),
        tot AS (
            SELECT g, CAST(MAX(cum1) AS BIGINT) AS n1,
                   CAST(MAX(cum2) AS BIGINT) AS n2
            FROM cum GROUP BY 1
        ),
        d AS (
            SELECT c2.g, n1, n2,
                   CAST(MAX(ABS(cum1 * n2 - cum2 * n1)) AS BIGINT) AS dnum
            FROM cum c2 JOIN tot USING (g)
            GROUP BY 1, 2, 3
        )
        SELECT g AS o_orderpriority, n1, n2,
               CASE WHEN n1 = 0 OR n2 = 0 THEN CAST(NULL AS DOUBLE)
                    ELSE CAST(dnum AS DOUBLE)
                         / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
               END AS d_stat
        FROM d
    """,
)
def ks_drift_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.stats import (
        grouped_ks_two_sample,
    )

    (orders,) = load(spark, sf_dir, "orders")
    return grouped_ks_two_sample(
        orders.where(F.col("o_totalprice").isNotNull()),
        group_col="o_orderpriority",
        value_col="o_totalprice",
        is_group1=F.col("o_orderdate") < F.lit("1995-01-01").cast("timestamp"),
    )


@register(
    "bitmap_retention_rollup",
    op_ids="beyond-reference bitmap rollup: per-user day-of-month "
    "activity BITMASK built with bit_or(1 << day), retention read "
    "straight off the masks with shift/AND — the bitmap-index idiom "
    "that turns N-day retention into integer ops on one bigint per "
    "user (no self-join of day pairs)",
    description="day-over-day retention for January: per day d, users "
    "active on d, users also active on d+1, and the retention ratio — "
    "all derived from one per-user month bitmask",
    oracle="""
        WITH masks AS (
            SELECT user_id,
                   bit_or(CAST(1 AS BIGINT) << (day(ts) - 1)) AS mask
            FROM events GROUP BY user_id
        ),
        days AS (SELECT unnest(generate_series(1, 29)) AS d),
        flags AS (
            SELECT d.d,
                   CASE WHEN ((m.mask >> (d.d - 1)) & 1) = 1
                        THEN 1 ELSE 0 END AS active,
                   CASE WHEN ((m.mask >> (d.d - 1)) & 3) = 3
                        THEN 1 ELSE 0 END AS retained
            FROM days d CROSS JOIN masks m
        )
        SELECT CAST(d AS BIGINT) AS day_of_month,
               CAST(SUM(active) AS BIGINT) AS n_active,
               CAST(SUM(retained) AS BIGINT) AS n_retained,
               CASE WHEN SUM(active) = 0 THEN 0.0
                    ELSE CAST(SUM(retained) AS DOUBLE)
                         / CAST(SUM(active) AS DOUBLE)
               END AS retention
        FROM flags GROUP BY d
    """,
)
def bitmap_retention_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.timeseries import (
        day_bitmask_retention,
    )

    (events,) = load(spark, sf_dir, "events")
    return day_bitmask_retention(events, n_days=29)


@register(
    "linear_interp_gapfill",
    op_ids="beyond-reference time-series densification, interpolating "
    "form: date spine + LINEAR interpolation between the bracketing "
    "observations (gapfill_priority_revenue is the LOCF/zero-fill "
    "twin) — two ignore-nulls windows carry (value, day) of the "
    "previous and next observation to every gap row",
    description="per-priority daily revenue for 1995Q1 on a complete "
    "daily spine; gap days get the linear interpolation between the "
    "bracketing observed days (NULL outside the first/last "
    "observation), is_gap marks synthesized rows",
    oracle=f"""
        WITH daily AS (
            SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS order_day,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                        AS DOUBLE) AS revenue
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1995-01-01'
              AND o_orderdate < TIMESTAMP '1995-04-01'
            GROUP BY 1, 2
        ),
        {_Q1_PRIORITY_GRID_CTES},
        j AS (
            SELECT g.o_orderpriority, g.order_day, d.revenue,
                   CASE WHEN d.revenue IS NULL THEN 1 ELSE 0 END AS is_gap
            FROM grid g LEFT JOIN daily d USING (o_orderpriority, order_day)
        ),
        br AS (
            SELECT *,
                   LAST_VALUE(revenue IGNORE NULLS) OVER wb AS pv,
                   LAST_VALUE(CASE WHEN revenue IS NOT NULL
                                   THEN order_day END IGNORE NULLS)
                       OVER wb AS pd,
                   FIRST_VALUE(revenue IGNORE NULLS) OVER wf AS nv,
                   FIRST_VALUE(CASE WHEN revenue IS NOT NULL
                                    THEN order_day END IGNORE NULLS)
                       OVER wf AS nd
            FROM j
            WINDOW wb AS (PARTITION BY o_orderpriority ORDER BY order_day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   wf AS (PARTITION BY o_orderpriority ORDER BY order_day
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
        SELECT o_orderpriority, order_day,
               CASE WHEN is_gap = 0 THEN revenue
                    WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                        pv + (nv - pv)
                           * (CAST(datediff('day', pd, order_day) AS DOUBLE)
                              / CAST(datediff('day', pd, nd) AS DOUBLE))
                    ELSE NULL END AS revenue_interp,
               is_gap
        FROM br
    """,
)
def linear_interp_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observed rows keep their exact value (pd = nd = own day for
    them, so the formula would divide 0/0 — the CASE short-circuits
    first). The interpolation itself is one fixed-order double
    expression: pv + (nv - pv) * (dd1 / dd2), identical in both
    engines; revenue enters as the exact decimal day-sum cast once to
    double. Windows partition by priority — the spine length (one
    quarter) bounds the frame, not corpus size."""
    (orders,) = load(spark, sf_dir, "orders")
    daily = (
        orders.where(
            (F.col("o_orderdate") >= "1995-01-01")
            & (F.col("o_orderdate") < "1995-04-01")
        )
        .groupBy(
            "o_orderpriority",
            F.col("o_orderdate").cast("date").alias("order_day"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue")
        )
    )
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01").cast("date"),
                F.lit("1995-03-31").cast("date"),
            )
        ).alias("order_day")
    )
    grid = (
        daily.select("o_orderpriority").distinct().crossJoin(F.broadcast(spine))
    )
    from nhl_data_warehouse_spark.operators.timeseries import (
        linear_interpolate,
    )

    grid = grid.join(daily, ["o_orderpriority", "order_day"], "left")
    return linear_interpolate(
        grid, "o_orderpriority", "order_day", "revenue"
    ).select(
        "o_orderpriority",
        "order_day",
        F.col("value_interp").alias("revenue_interp"),
        "is_gap",
    )


@register(
    "regr_price_vs_quantity",
    op_ids="beyond-reference OLS surface: slope/intercept/R^2 from "
    "EXACT decimal sufficient statistics (the regression.py "
    "doctrine — built-in regr_* aggregates accumulate doubles in "
    "partition order and cannot hash-match cross-engine), plus a "
    "tolerance boolean pinning Spark's native regr_slope to the "
    "exact value, so the built-in aggregate is exercised too",
    description="per return-flag OLS of extended price on quantity: "
    "exact-stats slope, intercept, r2, n, and agreement of the "
    "built-in regr_slope within 1e-9 relative",
    oracle="""
        WITH c AS (
            SELECT l_returnflag,
                   CAST(round(l_quantity * 100) AS DECIMAL(20,0)) AS xc,
                   CAST(round(l_extendedprice * 100) AS DECIMAL(20,0)) AS yc
            FROM lineitem
        ),
        s AS (
            SELECT l_returnflag,
                   CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(SUM(xc) AS DOUBLE) AS sx,
                   CAST(SUM(yc) AS DOUBLE) AS sy,
                   CAST(SUM(xc * xc) AS DOUBLE) AS sxx,
                   CAST(SUM(xc * yc) AS DOUBLE) AS sxy,
                   CAST(SUM(yc * yc) AS DOUBLE) AS syy,
                   COUNT(*) AS n_items
            FROM c GROUP BY l_returnflag
        )
        SELECT l_returnflag,
               n_items,
               (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
               ((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n)
                   / 100.0 AS intercept,
               ((n * sxy - sx * sy) * (n * sxy - sx * sy))
                   / ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r2,
               TRUE AS regr_builtin_agrees
        FROM s
    """,
)
def regr_price_vs_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sufficient statistics are SCALE-0 decimals (integer cents):
    a scale-k decimal reaches double through value/10^k, and DuckDB
    performs that division in floating point (int128 -> double ->
    /10^k: TWO roundings) while Spark's BigDecimal cast rounds once —
    a 1-ulp divergence observed on the scale-4 r2 at sf0.001. An
    integer-valued decimal converts in a single correctly-rounded
    step in both engines. Cents scaling leaves slope and r2 invariant
    (x,y both x100); intercept comes back via one final /100.0."""
    (lineitem,) = load(spark, sf_dir, "lineitem")
    xc = F.round(F.col("l_quantity") * 100).cast("decimal(20,0)")
    yc = F.round(F.col("l_extendedprice") * 100).cast("decimal(20,0)")
    s = lineitem.select(
        "l_returnflag",
        xc.alias("xc"),
        yc.alias("yc"),
        "l_quantity",
        "l_extendedprice",
    ).groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("xc").cast("double").alias("sx"),
        F.sum("yc").cast("double").alias("sy"),
        F.sum(F.col("xc") * F.col("xc")).cast("double").alias("sxx"),
        F.sum(F.col("xc") * F.col("yc")).cast("double").alias("sxy"),
        F.sum(F.col("yc") * F.col("yc")).cast("double").alias("syy"),
        F.count(F.lit(1)).alias("n_items"),
        F.regr_slope(F.col("l_extendedprice"), F.col("l_quantity")).alias(
            "_builtin_slope"
        ),
    )
    slope = F.expr("(n * sxy - sx * sy) / (n * sxx - sx * sx)")
    return s.select(
        "l_returnflag",
        "n_items",
        slope.alias("slope"),
        F.expr(
            "((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n)"
            " / 100.0"
        ).alias("intercept"),
        F.expr(
            "((n * sxy - sx * sy) * (n * sxy - sx * sy))"
            " / ((n * sxx - sx * sx) * (n * syy - sy * sy))"
        ).alias("r2"),
        (
            F.abs(F.col("_builtin_slope") - slope)
            <= F.greatest(F.lit(1.0), F.abs(slope)) * 1e-9
        ).alias("regr_builtin_agrees"),
    )


@register(
    "pareto_frontier_orders",
    op_ids="beyond-reference skyline / Pareto-frontier operator "
    "(2-D dominance: cheaper-or-equal AND bigger-or-equal, one "
    "strict): O(n log n) sweep — per-price best size, then a strict "
    "running max over the price-sorted grid — where the oracle "
    "states the same set as the quadratic NOT EXISTS definition",
    description="parts on the (min retail price, max size) Pareto "
    "frontier: the undominated (price, size) points and how many "
    "parts sit on each",
    oracle="""
        WITH best AS (
            SELECT p_retailprice AS price, MAX(p_size) AS best_size
            FROM part GROUP BY 1
        ),
        frontier AS (
            SELECT * FROM best b
            WHERE NOT EXISTS (
                SELECT 1 FROM best c
                WHERE c.price < b.price AND c.best_size >= b.best_size)
        )
        SELECT f.price, CAST(f.best_size AS BIGINT) AS best_size,
               COUNT(*) AS n_parts
        FROM frontier f
        JOIN part p
          ON p.p_retailprice = f.price AND p.p_size = f.best_size
        GROUP BY 1, 2
    """,
)
def pareto_frontier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep form: a (price, size) point survives iff its per-price
    best size strictly exceeds every strictly-cheaper price's best
    size (equal size at lower price dominates; equal price folds into
    the per-price max). The one unpartitioned window runs on the
    distinct-PRICE grain — a price grid bounded by the catalog's
    pricing scheme, not by row count; at 100 TB the same sweep also
    shards by price range with per-shard maxima merged on the driver
    (a 2-pass associative max), so the frontier never needs a global
    sort of raw rows."""
    from nhl_data_warehouse_spark.operators.skyline import pareto_frontier_2d

    (part,) = load(spark, sf_dir, "part")
    return pareto_frontier_2d(part, "p_retailprice", "p_size").select(
        F.col("cost").alias("price"),
        F.col("best_gain").alias("best_size"),
        F.col("n_rows").alias("n_parts"),
    )


@register(
    "convert_timezone_hourly",
    op_ids="IANA timezone conversion surface (convert_timezone): "
    "UTC event times to America/Denver wall-clock before the "
    "hour-of-day rollup — the localize-before-bucketing step every "
    "user-behavior aggregation needs",
    description="events per Denver local hour-of-day: the data spans "
    "January only (one fixed UTC-7 regime, no DST crossing), so the "
    "oracle states the conversion as a constant offset while Spark "
    "runs the real IANA conversion — if the data ever grew across a "
    "DST boundary the two would loudly diverge",
    oracle="""
        SELECT CAST(hour(ts - INTERVAL 7 HOUR) AS BIGINT) AS local_hour,
               COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users
        FROM events GROUP BY 1
    """,
)
def convert_timezone_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load(spark, sf_dir, "events")
    local = F.convert_timezone(
        F.lit("UTC"), F.lit("America/Denver"), F.col("ts")
    )
    return events.groupBy(
        F.hour(local).cast("long").alias("local_hour")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
    )


@register(
    "except_all_multiset",
    op_ids="bag-semantics set operations (EXCEPT ALL / INTERSECT ALL, "
    "DataFrame exceptAll/intersectAll): multiset difference keeps "
    "max(0, cntA-cntB) copies and intersection keeps min(cntA, cntB) "
    "— the multiplicity-aware forms the DISTINCT set ops "
    "(intersect_custkeys / except_custkeys) deliberately are not",
    description="per quantity value: how many 'A'-flag lineitems "
    "survive EXCEPT ALL against the 'N'-flag bag, and the "
    "INTERSECT ALL overlap count, zero-filled over all quantities",
    oracle="""
        WITH a AS (SELECT CAST(l_quantity AS BIGINT) AS q
                   FROM lineitem WHERE l_returnflag = 'A'),
             b AS (SELECT CAST(l_quantity AS BIGINT) AS q
                   FROM lineitem WHERE l_returnflag = 'N'),
             ex AS (SELECT q, COUNT(*) AS n FROM
                        (SELECT q FROM a EXCEPT ALL SELECT q FROM b)
                    GROUP BY q),
             ix AS (SELECT q, COUNT(*) AS n FROM
                        (SELECT q FROM a INTERSECT ALL SELECT q FROM b)
                    GROUP BY q),
             keys AS (SELECT DISTINCT q FROM a
                      UNION SELECT DISTINCT q FROM b)
        SELECT k.q AS quantity,
               COALESCE(ex.n, 0) AS n_except_all,
               COALESCE(ix.n, 0) AS n_intersect_all
        FROM keys k
        LEFT JOIN ex ON ex.q = k.q
        LEFT JOIN ix ON ix.q = k.q
    """,
)
def except_all_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exceptAll/intersectAll lower to Catalyst's count-and-replicate
    plan (a keyed count join + generate), not a row-by-row loop — the
    same shape the oracle's bag operators use. Scale: both are one
    shuffle on the value key."""
    (lineitem,) = load(spark, sf_dir, "lineitem")
    a = lineitem.where(F.col("l_returnflag") == "A").select(
        F.col("l_quantity").cast("long").alias("q")
    )
    b = lineitem.where(F.col("l_returnflag") == "N").select(
        F.col("l_quantity").cast("long").alias("q")
    )
    ex = a.exceptAll(b).groupBy("q").agg(F.count(F.lit(1)).alias("n_ex"))
    ix = a.intersectAll(b).groupBy("q").agg(F.count(F.lit(1)).alias("n_ix"))
    keys = a.distinct().union(b.distinct()).distinct()
    return (
        keys.join(ex, "q", "left")
        .join(ix, "q", "left")
        .select(
            F.col("q").alias("quantity"),
            F.coalesce("n_ex", F.lit(0)).alias("n_except_all"),
            F.coalesce("n_ix", F.lit(0)).alias("n_intersect_all"),
        )
    )


@register(
    "arrow_grouped_median",
    op_ids="grouped applyInArrow surface (pyarrow Table in/out per "
    "group) — completes the Python-execution API matrix alongside "
    "pandas_udf / applyInPandas(WithState) / mapInPandas / mapInArrow "
    "/ UDTF / Python DataSource; the group payload is the bounded "
    "CENTS HISTOGRAM, not raw rows, so per-group Arrow state stays "
    "~50k cells at any corpus size",
    description="exact per-event-type median value via a weighted "
    "median over the cents histogram computed in a grouped Arrow "
    "kernel (numpy cumsum + searchsorted), with explicit rank picks "
    "so even-count interpolation is bit-identical to the oracle",
    oracle="""
        WITH c AS (
            SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
            FROM events WHERE value IS NOT NULL
        ),
        r AS (
            SELECT event_type, cents,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY cents) AS rk,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM c
        )
        SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_values,
               (CAST(MIN(CASE WHEN rk = (n + 1) // 2 THEN cents END)
                     AS DOUBLE)
                + CAST(MIN(CASE WHEN rk = n // 2 + 1 THEN cents END)
                       AS DOUBLE)) / 2.0 / 100.0 AS median_value
        FROM r GROUP BY event_type
    """,
)
def arrow_grouped_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow kernel receives (cents, n) histogram rows per group:
    cumulative counts locate the lower/upper median ranks
    ((n+1)//2 and n//2+1, 1-based) without expanding the bag. The
    final value is (lo + hi) / 2.0 / 100.0 in that exact op order on
    both engines. NOTE the function takes a plain (unannotated)
    pyarrow.Table argument — under `from __future__ import
    annotations` a type hint would arrive as an unresolvable string
    (the pandas_udf gotcha, same runner)."""
    import pyarrow as pa

    (events,) = load(spark, sf_dir, "events")
    hist = (
        events.where(F.col("value").isNotNull())
        .groupBy(
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )

    def weighted_median(t):
        import numpy as np

        cents = np.asarray(t.column("cents"), dtype=np.int64)
        counts = np.asarray(t.column("n"), dtype=np.int64)
        order = np.argsort(cents, kind="stable")
        cents, counts = cents[order], counts[order]
        cum = np.cumsum(counts)
        n = int(cum[-1])
        lo = cents[int(np.searchsorted(cum, (n + 1) // 2, side="left"))]
        hi = cents[int(np.searchsorted(cum, n // 2 + 1, side="left"))]
        return pa.table(
            {
                "event_type": pa.array(
                    [t.column("event_type")[0].as_py()], pa.string()
                ),
                "n_values": pa.array([n], pa.int64()),
                "median_value": pa.array(
                    [(float(lo) + float(hi)) / 2.0 / 100.0], pa.float64()
                ),
            }
        )

    return hist.groupBy("event_type").applyInArrow(
        weighted_median,
        schema="event_type string, n_values long, median_value double",
    )


@register(
    "pipe_syntax_rollup",
    op_ids="Spark 4 SQL pipe syntax surface (FROM ... |> WHERE |> "
    "AGGREGATE ... GROUP BY |> WHERE): the linear query-flow dialect "
    "lowered to the same Catalyst plan as its nested-SQL equivalent — "
    "the oracle IS that equivalent in plain ANSI form",
    description="1996 orders per priority through pipe operators: "
    "filter, aggregate with exact decimal revenue, then a post-"
    "aggregation filter — each stage one |> hop",
    oracle="""
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY o_orderpriority
        HAVING COUNT(*) > 10
    """,
)
def pipe_syntax_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("v_pipe_orders")
    return spark.sql("""
        FROM v_pipe_orders
        |> WHERE o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1997-01-01'
        |> AGGREGATE COUNT(*) AS n_orders,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                          AS DOUBLE) AS revenue
           GROUP BY o_orderpriority
        |> WHERE n_orders > 10
        |> SELECT o_orderpriority, n_orders, revenue
    """)


@register(
    "transpose_wide_metrics",
    op_ids="DataFrame.transpose surface (Spark 4): flip a wide "
    "per-group metrics relation so metrics become rows and groups "
    "become columns — the report-orientation pivot (distinct from "
    "PIVOT/UNPIVOT, which reshape around value columns; transpose "
    "reshapes the whole frame about its first/index column)",
    description="order metrics per status transposed: one row per "
    "metric (n_orders, revenue, max_price) with one column per "
    "status (F/O/P); all cells pre-cast to double, the one-type "
    "contract transpose requires",
    oracle="""
        WITH w AS (
            SELECT o_orderstatus AS s,
                   CAST(COUNT(*) AS DOUBLE) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                        AS DOUBLE) AS revenue,
                   MAX(o_totalprice) AS max_price
            FROM orders GROUP BY o_orderstatus
        )
        SELECT 'max_price' AS key,
               (SELECT max_price FROM w WHERE s = 'F') AS F,
               (SELECT max_price FROM w WHERE s = 'O') AS O,
               (SELECT max_price FROM w WHERE s = 'P') AS P
        UNION ALL
        SELECT 'n_orders',
               (SELECT n_orders FROM w WHERE s = 'F'),
               (SELECT n_orders FROM w WHERE s = 'O'),
               (SELECT n_orders FROM w WHERE s = 'P')
        UNION ALL
        SELECT 'revenue',
               (SELECT revenue FROM w WHERE s = 'F'),
               (SELECT revenue FROM w WHERE s = 'O'),
               (SELECT revenue FROM w WHERE s = 'P')
    """,
)
def transpose_wide_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transpose() collects the index column to the driver to name
    the output columns — by construction a bounded-cardinality
    operation (column count = distinct index values), so the scale
    contract is the same as any pivot: the GROUPS axis must be small;
    the metrics axis can be arbitrarily wide upstream."""
    (orders,) = load(spark, sf_dir, "orders")
    wide = orders.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
        F.max("o_totalprice").alias("max_price"),
    )
    return wide.transpose("status")


@register(
    "identifier_clause_read",
    op_ids="parameterized IDENTIFIER() clause + lateral column alias "
    "surface (Spark 3.4+): table names as bind parameters (SQL-"
    "injection-safe dynamic references) and select-list aliases "
    "consumed by later expressions in the SAME select",
    description="revenue bands per order year read through "
    "IDENTIFIER(:tab), with the band derived from a lateral alias "
    "chain (year -> decade) instead of repeated expressions",
    oracle="""
        SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
               (CAST(year(o_orderdate) AS BIGINT) // 10) * 10
                   AS order_decade,
               COUNT(*) AS n_orders
        FROM orders
        GROUP BY 1, 2
    """,
)
def identifier_clause_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer division dialects: Spark spells it `DIV`, DuckDB `//`
    — and DuckDB's CAST(float AS BIGINT) ROUNDS (1996/10 = 199.6 ->
    200), so a cast-based floor is wrong there; both engines' true
    integer division floors positive years identically. The lateral
    alias (order_year referenced by order_decade in the same select)
    is resolved by the analyzer, not re-evaluated."""
    (orders,) = load(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("v_id_orders")
    # the alias chain lives in the inner select: referencing a lateral
    # alias from GROUP BY is not supported yet
    # (UNSUPPORTED_FEATURE.LATERAL_COLUMN_ALIAS_IN_GROUP_BY)
    return spark.sql(
        """
        SELECT order_year, order_decade, COUNT(*) AS n_orders
        FROM (
            SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
                   order_year DIV 10 * 10 AS order_decade
            FROM IDENTIFIER(:tab)
        )
        GROUP BY order_year, order_decade
        """,
        args={"tab": "v_id_orders"},
    )


# ---------------------------------------------------------------------------
# round-7 additions: deterministic mode, schema-evolution union
# ---------------------------------------------------------------------------


@register(
    "deterministic_mode_values",
    op_ids="beyond-reference deterministic MODE aggregate: Spark 4's "
    "built-in mode() picks an arbitrary member of a tie class, so the "
    "registered form is the determinized idiom — max over "
    "(count, -value, value) structs on the bounded cents grain — that "
    "any engine can state exactly (most-frequent value, smallest "
    "value wins ties); the DuckDB oracle is the equivalent "
    "ROW_NUMBER pick (arg_max there cannot take a struct either)",
    description="per event type: the most frequent value (cents "
    "grain, smallest-value tie-break), its occurrence count, and the "
    "distinct-value count — one map-side-combined (type, cents) "
    "count then a 49k-cell max, no window over row-scale data",
    oracle="""
        WITH c AS (
            SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
            FROM events WHERE value IS NOT NULL
        ),
        g AS (
            SELECT event_type, cents, COUNT(*) AS cnt
            FROM c GROUP BY 1, 2
        ),
        r AS (
            SELECT event_type, cents, cnt,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY cnt DESC, cents ASC) AS rk,
                   COUNT(*) OVER (PARTITION BY event_type) AS n_distinct
            FROM g
        )
        SELECT event_type,
               CAST(cents AS DOUBLE) / 100.0 AS mode_value,
               CAST(cnt AS BIGINT) AS mode_count,
               CAST(n_distinct AS BIGINT) AS n_distinct_values
        FROM r WHERE rk = 1
    """,
)
def deterministic_mode_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load(spark, sf_dir, "events")
    counts = (
        events.where(F.col("value").isNotNull())
        .select(
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    best = F.max(
        F.struct(
            F.col("cnt").alias("cnt"),
            (-F.col("cents")).alias("neg_cents"),
            F.col("cents").alias("cents"),
        )
    )
    return counts.groupBy("event_type").agg(
        (best.getField("cents").cast("double") / 100.0).alias("mode_value"),
        best.getField("cnt").alias("mode_count"),
        F.count(F.lit(1)).alias("n_distinct_values"),
    )


@register(
    "union_by_name_evolution",
    op_ids="beyond-reference schema-evolution union: "
    "unionByName(allowMissingColumns=True) aligns two batches whose "
    "projections drifted (a column added, another dropped, order "
    "shuffled) by NAME with NULL fill — the ingestion-compat append "
    "path; DuckDB oracle is the literal UNION ALL BY NAME",
    description="1994 orders (with price) unioned by name with 1995 "
    "orders (with date instead) — missing columns NULL-filled, "
    "alignment by name not position; keys thinned with %50 for a "
    "bounded result",
    oracle="""
        SELECT o_orderkey, o_totalprice, o_orderpriority
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1994-01-01'
          AND o_orderdate < TIMESTAMP '1995-01-01'
          AND o_orderkey % 50 = 0
        UNION ALL BY NAME
        SELECT o_orderkey, o_orderdate, o_orderpriority
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1996-01-01'
          AND o_orderkey % 50 = 0
    """,
)
def union_by_name_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load(spark, sf_dir, "orders")
    thinned = orders.where(F.col("o_orderkey") % 50 == 0)
    a = thinned.where(
        (F.col("o_orderdate") >= "1994-01-01")
        & (F.col("o_orderdate") < "1995-01-01")
    ).select("o_orderkey", "o_totalprice", "o_orderpriority")
    b = thinned.where(
        (F.col("o_orderdate") >= "1995-01-01")
        & (F.col("o_orderdate") < "1996-01-01")
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    return a.unionByName(b, allowMissingColumns=True)


# ---------------------------------------------------------------------------
# Round-8 statistics: rank correlations, inequality, autocorrelation,
# Benford digit QA, and the ranking-quality eval (NDCG@k / MRR).
# ---------------------------------------------------------------------------


@register(
    "spearman_quantity_price",
    op_ids="beyond-reference rank correlation: exact tie-aware "
    "Spearman rho from ALL-INTEGER sufficient statistics on the "
    "joint (quantity, price-cents) histogram — doubled midranks are "
    "integers per marginal cell, Pearson-on-midranks reduces to six "
    "integer sums combined once in DECIMAL(38,0), one fixed-order "
    "double expression out (bit-stable cross-engine)",
    description="Spearman rank correlation between l_quantity and "
    "l_extendedprice with exact midrank tie handling",
    oracle="""
        WITH cells AS (
            SELECT CAST(round(l_quantity) AS BIGINT) AS cx,
                   CAST(round(l_extendedprice * 100) AS BIGINT) AS cy
            FROM lineitem
            WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        ),
        joint AS (SELECT cx, cy, COUNT(*) AS nxy FROM cells GROUP BY 1, 2),
        mx AS (SELECT cx, SUM(nxy) AS nv FROM joint GROUP BY 1),
        mxr AS (
            SELECT cx,
                   2 * COALESCE(SUM(nv) OVER (ORDER BY cx
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   + nv + 1 AS ax
            FROM mx
        ),
        my AS (SELECT cy, SUM(nxy) AS nv FROM joint GROUP BY 1),
        myr AS (
            SELECT cy,
                   2 * COALESCE(SUM(nv) OVER (ORDER BY cy
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   + nv + 1 AS ay
            FROM my
        ),
        j AS (
            SELECT nxy, ax, ay
            FROM joint JOIN mxr USING (cx) JOIN myr USING (cy)
        ),
        st AS (
            SELECT CAST(SUM(nxy) AS HUGEINT) AS n,
                   CAST(SUM(nxy * ax) AS HUGEINT) AS sx,
                   CAST(SUM(nxy * ay) AS HUGEINT) AS sy,
                   SUM(CAST(nxy AS HUGEINT) * ax * ax) AS sxx,
                   SUM(CAST(nxy AS HUGEINT) * ay * ay) AS syy,
                   SUM(CAST(nxy AS HUGEINT) * ax * ay) AS sxy
            FROM j
        )
        SELECT CAST(n AS BIGINT) AS n,
               CASE WHEN n * sxx = sx * sx OR n * syy = sy * sy
                    THEN CAST(NULL AS DOUBLE)
                    ELSE CAST(n * sxy - sx * sy AS DOUBLE)
                         / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                            * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) END
               AS rho
        FROM st
    """,
)
def spearman_quantity_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.stats import spearman_rho

    (lineitem,) = load(spark, sf_dir, "lineitem")
    return spearman_rho(lineitem, "l_quantity", "l_extendedprice", y_scale=100)


@register(
    "kendall_tau_quantity_discount",
    op_ids="beyond-reference rank correlation: exact Kendall tau-b "
    "from the joint histogram of two BOUNDED measurement grains "
    "(quantity 1-50 x discount cents 0-10) — concordant/discordant "
    "pair counts come from a cell-pair theta join over <= 550 grain "
    "cells (fixed as data grows), tie corrections are integer "
    "marginal sums, tau is two sqrt factors multiplied in fixed "
    "order",
    description="Kendall tau-b between l_quantity and l_discount "
    "with full tie correction, all-integer pair counts",
    oracle="""
        WITH cells AS (
            SELECT CAST(round(l_quantity) AS BIGINT) AS cx,
                   CAST(round(l_discount * 100) AS BIGINT) AS cy
            FROM lineitem
            WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
        ),
        joint AS (SELECT cx, cy, COUNT(*) AS nxy FROM cells GROUP BY 1, 2),
        pairs AS (
            SELECT CAST(COALESCE(SUM(CASE WHEN b.cy > a.cy
                       THEN a.nxy * b.nxy ELSE 0 END), 0) AS BIGINT) AS nc,
                   CAST(COALESCE(SUM(CASE WHEN b.cy < a.cy
                       THEN a.nxy * b.nxy ELSE 0 END), 0) AS BIGINT) AS nd
            FROM joint a JOIN joint b ON b.cx > a.cx
        ),
        tx AS (
            SELECT CAST(SUM((nv * (nv - 1)) // 2) AS BIGINT) AS n1t
            FROM (SELECT SUM(nxy) AS nv FROM joint GROUP BY cx)
        ),
        ty AS (
            SELECT CAST(SUM((nv * (nv - 1)) // 2) AS BIGINT) AS n2t
            FROM (SELECT SUM(nxy) AS nv FROM joint GROUP BY cy)
        ),
        tot AS (SELECT CAST(SUM(nxy) AS BIGINT) AS n FROM joint)
        SELECT n, nc, nd,
               CASE WHEN (n * (n - 1)) // 2 = n1t
                      OR (n * (n - 1)) // 2 = n2t
                    THEN CAST(NULL AS DOUBLE)
                    ELSE CAST(nc - nd AS DOUBLE)
                         / (sqrt(CAST((n * (n - 1)) // 2 - n1t AS DOUBLE))
                            * sqrt(CAST((n * (n - 1)) // 2 - n2t AS DOUBLE)))
               END AS tau_b
        FROM pairs, tx, ty, tot
    """,
)
def kendall_tau_quantity_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.stats import kendall_tau_b

    (lineitem,) = load(spark, sf_dir, "lineitem")
    return kendall_tau_b(lineitem, "l_quantity", "l_discount", y_scale=100)


def _daily_cents_sql(day: str, col: str) -> str:
    """``daily``: exact order revenue in cents (``col``) per ``day``."""
    return f"""daily AS (
        SELECT {day} AS d,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS {col}
        FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1
    )"""


@register(
    "gini_order_revenue",
    op_ids="beyond-reference inequality statistic: exact Gini "
    "coefficient over the cents value grain — midrank-weighted value "
    "sum S1 accumulates in DECIMAL(38,0) (cents * count * doubled "
    "rank passes 2^63), the only ordering is the cumulative window "
    "over price-range-bounded cells, output is one fixed-order "
    "double expression",
    description="Gini coefficient of order revenue concentration "
    "(o_totalprice), exact with midrank tie handling",
    oracle="""
        WITH h AS (
            SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c,
                   COUNT(*) AS nv
            FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1
        ),
        cum AS (
            SELECT c, nv,
                   COALESCE(SUM(nv) OVER (ORDER BY c
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS cum
            FROM h
        ),
        st AS (
            SELECT CAST(SUM(nv) AS BIGINT) AS n,
                   CAST(SUM(c * nv) AS BIGINT) AS sumv,
                   SUM(CAST(c AS HUGEINT) * nv * (2 * cum + nv + 1)) AS s1
            FROM cum
        )
        SELECT n, sumv,
               CASE WHEN sumv = 0 OR n = 0 THEN CAST(NULL AS DOUBLE)
                    ELSE CAST(s1 AS DOUBLE)
                         / (CAST(n AS DOUBLE) * CAST(sumv AS DOUBLE))
                         - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE) END
               AS gini
        FROM st
    """,
)
def gini_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.stats import gini_coefficient

    (orders,) = load(spark, sf_dir, "orders")
    return gini_coefficient(orders, "o_totalprice", scale=100)


def _acf_oracle() -> str:
    lead_cols = ",\n                   ".join(
        f"lead(x, {k}) OVER (ORDER BY t) AS x{k}" for k in range(1, 8)
    )
    per_lag_stats = ",\n                   ".join(
        f"SUM(CAST(x AS HUGEINT) * x{k}) AS sk{k},\n"
        f"                   SUM(CASE WHEN x{k} IS NOT NULL"
        f" THEN CAST(x AS HUGEINT) END) AS hk{k},\n"
        f"                   SUM(CAST(x{k} AS HUGEINT)) AS tk{k},\n"
        f"                   CAST(SUM(CASE WHEN x{k} IS NOT NULL"
        f" THEN 1 ELSE 0 END) AS BIGINT) AS np{k}"
        for k in range(1, 8)
    )
    rows = "\n        UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS lag, np{k} AS n_pairs,"
        " CASE WHEN n * sxx = sx * sx THEN CAST(NULL AS DOUBLE) ELSE"
        f" CAST(n * n * sk{k} - n * sx * (hk{k} + tk{k})"
        f" + (n - {k}) * sx * sx AS DOUBLE)"
        " / CAST(n * (n * sxx - sx * sx) AS DOUBLE) END AS acf FROM st"
        for k in range(1, 8)
    )
    return f"""
        WITH {_daily_cents_sql("o_orderdate", "x")},
        ser AS (SELECT x, row_number() OVER (ORDER BY d) AS t FROM daily),
        led AS (
            SELECT x,
                   {lead_cols}
            FROM ser
        ),
        st AS (
            SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                   SUM(CAST(x AS HUGEINT)) AS sx,
                   SUM(CAST(x AS HUGEINT) * x) AS sxx,
                   {per_lag_stats}
            FROM led
        )
        {rows}
    """


@register(
    "acf_daily_revenue",
    op_ids="beyond-reference time-series statistic: exact sample "
    "autocorrelation r_1..r_7 of the daily revenue series — the "
    "mean-centered products clear their rational denominators into "
    "DECIMAL(38,0) integer sums (n^2*Sk - n*Sx*(Hk+Tk) + (n-k)*Sx^2 "
    "over n*(n*Sxx - Sx^2)), the lead() window runs over the bounded "
    "DAY grain (the CUSUM contract), one double division per lag",
    description="autocorrelation of daily order revenue (cents) at "
    "lags 1-7: the seasonality screen run before curriculum/mixture "
    "scheduling on time-ordered corpora",
    oracle=_acf_oracle(),
)
def acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.timeseries import autocorrelation

    (orders,) = load(spark, sf_dir, "orders")
    daily = _daily_cents(orders)
    return autocorrelation(daily, "d", max_lag=7)


def _daily_cents(orders: DataFrame, *keys: Column) -> DataFrame:
    """Daily order revenue ``x`` in exact integer cents per day ``d``
    (and ``keys`` slice)."""
    return (
        orders.where(F.col("o_totalprice").isNotNull())
        .groupBy(*keys, F.col("o_orderdate").alias("d"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("x")
        )
    )


@register(
    "cusum_drift_peak",
    op_ids="beyond-reference distribution-drift screen: CUSUM "
    "changepoint peak of daily order revenue — the mean-centered "
    "cumulative sum cleared to exact integers (C_d * D = S_d * D - "
    "d * T in DECIMAL(38,0)), peak chosen by integer comparison with "
    "earliest-day tie-break, one double division at the end; the "
    "only window runs over the bounded day grain (the ACF contract). "
    "Complements cusum_revenue_drift (one-sided per-day S_t DETECTION "
    "series, floor-mean): this is two-sided changepoint LOCALIZATION "
    "— one argmax row, exact rational mean",
    description="most-likely changepoint of the daily revenue series: "
    "day of max |CUSUM|, its signed magnitude, and the daily mean — "
    "the source-mix-shift gate run on time-ordered corpora before "
    "trusting a chronological split",
    oracle=f"""
        WITH {_daily_cents_sql("o_orderdate", "x")},
        cum AS (
            SELECT d,
                   SUM(CAST(x AS HUGEINT)) OVER (ORDER BY d
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS s,
                   CAST(row_number() OVER (ORDER BY d) AS HUGEINT) AS idx
            FROM daily
        ),
        tot AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
                   CAST(SUM(x) AS BIGINT) AS t
            FROM daily
        ),
        scaled AS (
            SELECT d, n_days, t, s * n_days - idx * t AS sc
            FROM cum, tot
        ),
        pk AS (SELECT MAX(abs(sc)) AS pk FROM scaled)
        SELECT n_days,
               MIN(d) AS peak_day,
               CAST(min_by(sc, d) AS DOUBLE)
                   / (CAST(n_days AS DOUBLE) * 100.0) AS peak_cusum,
               CAST(t AS DOUBLE)
                   / (CAST(n_days AS DOUBLE) * 100.0) AS mean_daily
        FROM scaled, pk
        WHERE abs(sc) = pk.pk
        GROUP BY n_days, t
    """,
)
def cusum_drift_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.timeseries import cusum_peak

    (orders,) = load(spark, sf_dir, "orders")
    daily = _daily_cents(orders)
    return cusum_peak(daily, cents_scale=100)


@register(
    "cusum_drift_by_priority",
    op_ids="beyond-reference SLICED distribution-drift scorecard: "
    "per-order-priority CUSUM changepoint peaks — grouped_cusum_peak "
    "keys EVERY stage by the slice (prefix-sum window partitioned, "
    "per-slice totals broadcast back), so unlike the global "
    "cusum_drift_peak there is NO unpartitioned stage at all (the "
    "auc_by_language scorecard pattern); same integer-exact algebra "
    "and earliest-day tie-break",
    description="per-priority daily-revenue CUSUM peaks: slice, day "
    "count, changepoint day, signed |CUSUM| peak, daily mean — drift "
    "localized to the stream that moved",
    oracle="""
        WITH daily AS (
            SELECT o_orderpriority AS g, o_orderdate AS d,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS x
            FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1, 2
        ),
        cum AS (
            SELECT g, d,
                   SUM(CAST(x AS HUGEINT)) OVER (PARTITION BY g ORDER BY d
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS s,
                   CAST(row_number() OVER (PARTITION BY g ORDER BY d)
                        AS HUGEINT) AS idx
            FROM daily
        ),
        tot AS (
            SELECT g, CAST(COUNT(*) AS BIGINT) AS n_days,
                   CAST(SUM(x) AS BIGINT) AS t
            FROM daily GROUP BY 1
        ),
        scaled AS (
            SELECT c.g, c.d, t.n_days, t.t,
                   c.s * t.n_days - c.idx * t.t AS sc
            FROM cum c JOIN tot t USING (g)
        ),
        pk AS (SELECT g, MAX(abs(sc)) AS pk FROM scaled GROUP BY 1)
        SELECT s.g AS o_orderpriority, s.n_days,
               MIN(s.d) AS peak_day,
               CAST(min_by(s.sc, s.d) AS DOUBLE)
                   / (CAST(s.n_days AS DOUBLE) * 100.0) AS peak_cusum,
               CAST(s.t AS DOUBLE)
                   / (CAST(s.n_days AS DOUBLE) * 100.0) AS mean_daily
        FROM scaled s JOIN pk USING (g)
        WHERE abs(s.sc) = pk.pk
        GROUP BY s.g, s.n_days, s.t
    """,
)
def cusum_drift_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.timeseries import (
        grouped_cusum_peak,
    )

    (orders,) = load(spark, sf_dir, "orders")
    daily = _daily_cents(orders, F.col("o_orderpriority"))
    return grouped_cusum_peak(daily, "o_orderpriority", cents_scale=100)


@register(
    "seasonal_naive_mase",
    op_ids="beyond-reference forecast backtest gate: MASE + sMAPE of "
    "the seasonal-naive forecast f(d)=y(d-7) on a train/eval date "
    "split — the persistence baseline every forecasting benchmark "
    "scales against, scored on the actual series. Determinism: "
    "integer-cents day totals, the forecast is an EQUI-JOIN on the "
    "shifted date key (no window; gaps self-exclude identically), "
    "MASE one fixed-order double of four exact integers, sMAPE terms "
    "rounded 12dp and summed as DECIMAL (the average_precision "
    "order-free recipe), degenerate splits explicit NULL",
    description="seasonal-naive(7) backtest of daily order revenue "
    "split at 1997-01-01: train/eval day counts, MASE, sMAPE",
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS v
            FROM orders GROUP BY 1
        ),
        j AS (
            SELECT a.d, a.v, b.v AS f
            FROM daily a JOIN daily b ON a.d = b.d + 7
        ),
        t AS (
            SELECT
                CAST(SUM(CASE WHEN d < DATE '1997-01-01' THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_train,
                CAST(SUM(CASE WHEN d >= DATE '1997-01-01' THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_eval,
                CAST(SUM(CASE WHEN d < DATE '1997-01-01'
                              THEN ABS(v - f) END) AS BIGINT) AS ae_train,
                CAST(SUM(CASE WHEN d >= DATE '1997-01-01'
                              THEN ABS(v - f) END) AS BIGINT) AS ae_eval,
                CAST(SUM(CASE WHEN d >= DATE '1997-01-01' THEN
                    CAST(CASE WHEN v + f > 0
                              THEN round(2.0 * CAST(ABS(v - f) AS DOUBLE)
                                         / CAST(v + f AS DOUBLE), 12)
                              ELSE 0.0 END AS DECIMAL(28,12))
                END) AS DECIMAL(38,12)) AS sm_dec
            FROM j
        )
        SELECT n_train, n_eval,
               CASE WHEN n_train = 0 OR n_eval = 0 OR ae_train = 0
                    THEN CAST(NULL AS DOUBLE)
                    ELSE (CAST(ae_eval AS DOUBLE) / CAST(n_eval AS DOUBLE))
                         / (CAST(ae_train AS DOUBLE)
                            / CAST(n_train AS DOUBLE))
               END AS mase,
               CASE WHEN n_eval = 0 THEN CAST(NULL AS DOUBLE)
                    ELSE CAST(sm_dec AS DOUBLE) / CAST(n_eval AS DOUBLE)
               END AS smape
        FROM t
    """,
)
def seasonal_naive_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.timeseries import (
        seasonal_naive_backtest,
    )

    (orders,) = load(spark, sf_dir, "orders")
    return seasonal_naive_backtest(
        orders, "o_orderdate", "o_totalprice", split_date="1997-01-01",
    )


@register(
    "dow_revenue_anomalies",
    op_ids="beyond-reference calendar-aware anomaly detection: each "
    "day's revenue z-scored against ITS DAY-OF-WEEK's exact "
    "population moments (integer cents, DECIMAL(38,0) squared sums, "
    "the zscore_outliers fixed-order double expression), so the "
    "weekly cycle stops masquerading as drift — the single-outlier "
    "complement to the CUSUM level-shift family; degenerate slices "
    "excluded by the INTEGER variance guard n*ss > s*s",
    description="days whose revenue is >1.5 population standard "
    "deviations from their day-of-week mean: date, dow (0=Sunday), "
    "day total, z-score",
    oracle=f"""
        WITH {_daily_cents_sql("CAST(o_orderdate AS DATE)", "v")},
        dw AS (
            SELECT d, v, CAST(dayofweek(d) AS BIGINT) AS dow FROM daily
        ),
        m AS (
            SELECT dow AS m_dow, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(v) AS BIGINT) AS s,
                   SUM(CAST(v AS HUGEINT) * v) AS ssd
            FROM dw GROUP BY 1
        ),
        g AS (
            SELECT m_dow, n, s, CAST(ssd AS DOUBLE) AS ss
            FROM m
            WHERE n >= 2 AND CAST(n AS HUGEINT) * ssd
                             > CAST(s AS HUGEINT) * CAST(s AS HUGEINT)
        )
        SELECT d, dow,
               CAST(v AS DOUBLE) / 100.0 AS day_total,
               (CAST(v AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                   / sqrt(ss / CAST(n AS DOUBLE)
                          - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                            * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))) AS z
        FROM dw JOIN g ON dw.dow = g.m_dow
        WHERE abs((CAST(v AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                  / sqrt(ss / CAST(n AS DOUBLE)
                         - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                           * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))) > 1.5
    """,
)
def dow_revenue_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.timeseries import (
        dow_seasonal_anomalies,
    )

    (orders,) = load(spark, sf_dir, "orders")
    return dow_seasonal_anomalies(
        orders.where(F.col("o_totalprice").isNotNull()),
        time_col="o_orderdate",
        value_col="o_totalprice",
    )


@register(
    "weekly_seasonal_decompose",
    op_ids="beyond-reference classical additive decomposition: 7-day "
    "centered-MA trend + weekly seasonal (per-DOW mean of the EXACT "
    "INTEGER detrended series 7*v - s7, re-centered by the "
    "ordered-fold week mean) + residual — windows over the bounded "
    "day grain (the ACF/CUSUM contract), fixed-order doubles only at "
    "the edge",
    description="per day: revenue, 7-day centered trend (NULL at the "
    "3-day edges), zero-sum weekly seasonal, and the residual that "
    "separates cycle from genuinely unexplained movement",
    oracle=f"""
        WITH {_daily_cents_sql("CAST(o_orderdate AS DATE)", "v")},
        st AS (
            SELECT d, CAST(dayofweek(d) AS BIGINT) AS dow, v,
                   CASE WHEN COUNT(v) OVER w7 = 7
                        THEN SUM(v) OVER w7 END AS s7
            FROM daily
            WINDOW w7 AS (
                ORDER BY datediff('day', DATE '1970-01-01', d)
                RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        ),
        d7s AS (
            SELECT dow, CAST(SUM(7 * v - s7) AS BIGINT) AS sd7,
                   CAST(COUNT(*) AS BIGINT) AS nd
            FROM st WHERE s7 IS NOT NULL GROUP BY 1
        ),
        dm AS (
            SELECT dow,
                   CAST(sd7 AS DOUBLE)
                       / (CAST(nd AS DOUBLE) * 7.0 * 100.0) AS raw_seasonal
            FROM d7s
        ),
        ctr AS (
            SELECT SUM(raw_seasonal ORDER BY dow) AS season_sum,
                   CAST(COUNT(*) AS BIGINT) AS n_dows
            FROM dm
        ),
        sea AS (
            SELECT dow AS m_dow,
                   raw_seasonal - season_sum / CAST(n_dows AS DOUBLE)
                       AS seasonal
            FROM dm CROSS JOIN ctr
        )
        SELECT st.d, st.dow,
               CAST(v AS DOUBLE) / 100.0 AS day_total,
               CAST(s7 AS DOUBLE) / (7.0 * 100.0) AS trend,
               sea.seasonal,
               CAST(v AS DOUBLE) / 100.0
                   - CAST(s7 AS DOUBLE) / (7.0 * 100.0)
                   - sea.seasonal AS resid
        FROM st LEFT JOIN sea ON st.dow = sea.m_dow
    """,
)
def weekly_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.timeseries import (
        seasonal_decompose_daily,
    )

    (orders,) = load(spark, sf_dir, "orders")
    return seasonal_decompose_daily(
        orders.where(F.col("o_totalprice").isNotNull()),
        time_col="o_orderdate",
        value_col="o_totalprice",
    )


@register(
    "theil_sen_revenue_trend",
    op_ids="beyond-reference robust trend estimation: Theil-Sen "
    "median-of-pairwise-slopes over the daily revenue series (plus "
    "the median-residual intercept) — the ~29%-contamination-proof "
    "alternative to regr_price_vs_quantity's OLS; the pair theta "
    "join runs over the BOUNDED day grain (kendall_tau_b doctrine: "
    "D(D-1)/2 pairs fixed by the time range, broadcast nested loop "
    "over a constant-size relation), slopes are single double "
    "divisions of exact integers; the SLOPE median reads the two "
    "middle ranks off a micro-unit cell histogram (floor of one "
    "engine-identical double expression, map-side-combined groupBy, "
    "prefix sums — the single-reducer exact percentile over millions "
    "of slopes measured 10x the whole pair join and is the "
    "anti-pattern this form replaces); the intercept median is exact "
    "percentile over DAY-count residuals only (exact_percentiles "
    "recipe), 6dp-rounded with the -0.0 guard",
    description="robust daily-revenue trend: pairwise-slope median "
    "(cents/day) and median-residual intercept — the drift-rate "
    "number one corrupted day cannot move",
    oracle="""
        WITH daily AS (
            SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
                        AS BIGINT) AS de,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS x
            FROM orders WHERE o_totalprice IS NOT NULL
            GROUP BY o_orderdate
        ),
        slc AS (
            SELECT CAST(FLOOR((CAST(b.x - a.x AS DOUBLE) * 1000000.0)
                              / CAST(b.de - a.de AS DOUBLE)) AS BIGINT)
                       AS c,
                   COUNT(*) AS nv
            FROM daily a JOIN daily b ON b.de > a.de
            GROUP BY 1
        ),
        cumh AS (
            SELECT c, nv,
                   COALESCE(SUM(nv) OVER (ORDER BY c
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS cum,
                   CAST(SUM(nv) OVER () AS BIGINT) AS n_pairs
            FROM slc
        ),
        s AS (
            SELECT lo.n_pairs,
                   (CAST(lo.c AS DOUBLE) + CAST(hi.c AS DOUBLE))
                       / (2.0 * 1000000.0) AS sl
            FROM (SELECT * FROM cumh
                  WHERE cum < (n_pairs + 1) // 2
                    AND cum + nv >= (n_pairs + 1) // 2) lo,
                 (SELECT * FROM cumh
                  WHERE cum < n_pairs // 2 + 1
                    AND cum + nv >= n_pairs // 2 + 1) hi
        ),
        f AS (
            SELECT s.n_pairs, s.sl,
                   quantile_cont(CAST(d.x AS DOUBLE)
                                 - s.sl * CAST(d.de AS DOUBLE), 0.5) AS ic
            FROM daily d, s
            GROUP BY s.n_pairs, s.sl
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
               n_pairs,
               ROUND(sl, 6) + 0.0 AS slope_per_day,
               ROUND(ic, 6) + 0.0 AS intercept
        FROM f
    """,
)
def theil_sen_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.timeseries import theil_sen_trend

    (orders,) = load(spark, sf_dir, "orders")
    daily = _daily_cents(orders)
    return theil_sen_trend(daily)


@register(
    "hhi_supplier_concentration",
    op_ids="beyond-reference concentration index: per-nation "
    "Herfindahl-Hirschman index of supplier revenue shares — the "
    "source-diversity gate a corpus pipeline runs per shard "
    "(one dominant source = HHI near 1). Exact algebra: "
    "HHI = sum(s_i^2) / T^2 clears the rational shares, so the two "
    "DECIMAL(38,0) integer sums feed ONE double division; two-level "
    "keyed aggregate (map-side combined) over broadcast dim joins — "
    "pairs with gini_order_revenue (rank-based inequality) as the "
    "share-based twin",
    description="per-nation supplier-revenue concentration: supplier "
    "count, total revenue, HHI in [1/n, 1], and the normalized HHI — "
    "dominance screening at the (nation, supplier) grain",
    oracle="""
        WITH per_supp AS (
            SELECT n.n_name AS nation, l.l_suppkey,
                   CAST(SUM(CAST(round(l.l_extendedprice
                                       * (1 - l.l_discount) * 100)
                                 AS BIGINT)) AS BIGINT) AS cents
            FROM lineitem l
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            GROUP BY 1, 2
        ),
        agg AS (
            SELECT nation,
                   CAST(COUNT(*) AS BIGINT) AS n_suppliers,
                   CAST(SUM(cents) AS BIGINT) AS t,
                   SUM(CAST(cents AS HUGEINT) * cents) AS ssq
            FROM per_supp GROUP BY 1
        )
        SELECT nation, n_suppliers,
               CAST(t AS DOUBLE) / 100.0 AS total_revenue,
               CAST(ssq AS DOUBLE)
                   / (CAST(t AS DOUBLE) * CAST(t AS DOUBLE)) AS hhi,
               CASE WHEN n_suppliers > 1 THEN
                   (CAST(ssq AS DOUBLE)
                        / (CAST(t AS DOUBLE) * CAST(t AS DOUBLE))
                    - 1.0 / CAST(n_suppliers AS DOUBLE))
                   / (1.0 - 1.0 / CAST(n_suppliers AS DOUBLE))
               END AS hhi_normalized
        FROM agg
    """,
)
def hhi_supplier_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, supplier, nation = load(
        spark, sf_dir, "lineitem", "supplier", "nation"
    )
    per_supp = (
        lineitem.join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            lineitem["l_suppkey"] == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"), F.col("l_suppkey"))
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("long")
            )
            .cast("long")
            .alias("cents")
        )
    )
    agg = per_supp.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.sum("cents").cast("long").alias("t"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents"))
        .cast("decimal(38,0)")
        .alias("ssq"),
    )
    return agg.select(
        "nation",
        "n_suppliers",
        F.expr("CAST(t AS DOUBLE) / 100.0").alias("total_revenue"),
        F.expr(
            "CAST(ssq AS DOUBLE) / (CAST(t AS DOUBLE) * CAST(t AS DOUBLE))"
        ).alias("hhi"),
        F.expr(
            "CASE WHEN n_suppliers > 1 THEN"
            " (CAST(ssq AS DOUBLE)"
            "      / (CAST(t AS DOUBLE) * CAST(t AS DOUBLE))"
            "  - 1.0 / CAST(n_suppliers AS DOUBLE))"
            " / (1.0 - 1.0 / CAST(n_suppliers AS DOUBLE)) END"
        ).alias("hhi_normalized"),
    )


@register(
    "benford_price_digits",
    op_ids="beyond-reference data-quality screen: Benford "
    "first-significant-digit analysis of order totals — digit "
    "extraction is integer/string-exact (first char of the cents "
    "BIGINT), expected shares are 6dp-rounded log10(1+1/d) constants "
    "(the rounded-ln rule absorbs libm ulp differences), the "
    "chi-square distance folds the 9 digit cells in digit order on "
    "both engines",
    description="observed vs Benford-expected first-digit counts of "
    "o_totalprice with per-digit deviation and the total chi-square "
    "distance — the fabricated-data / unit-mix-error screen",
    oracle="""
        WITH c AS (
            SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
            WHERE o_totalprice IS NOT NULL AND o_totalprice > 0
        ),
        d AS (
            SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT)
                       AS digit,
                   CAST(COUNT(*) AS BIGINT) AS n_obs
            FROM c GROUP BY 1
        ),
        t AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM d),
        e AS (
            SELECT digit, n_obs,
                   n * round(log10(1 + 1.0 / digit), 6) AS expected_n,
                   (n_obs - n * round(log10(1 + 1.0 / digit), 6))
                   * (n_obs - n * round(log10(1 + 1.0 / digit), 6))
                   / (n * round(log10(1 + 1.0 / digit), 6)) AS dev
            FROM d, t
        ),
        chi AS (SELECT SUM(dev ORDER BY digit) AS chi2 FROM e)
        SELECT digit, n_obs, expected_n, dev, chi2 FROM e, chi
    """,
)
def benford_price_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chi-square total folds per-digit deviations in digit order
    via an ordered array aggregate (<= 9 cells), mirroring the
    oracle's ordered-aggregate SUM(dev ORDER BY digit) — same IEEE
    sequence, no unordered double sum anywhere."""
    (orders,) = load(spark, sf_dir, "orders")
    digits = (
        orders.where(
            F.col("o_totalprice").isNotNull() & (F.col("o_totalprice") > 0)
        )
        .select(
            F.substring(
                F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
                1,
                1,
            )
            .cast("long")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    tot = digits.agg(F.sum("n_obs").cast("long").alias("n"))
    p = F.round(F.log10(1 + 1.0 / F.col("digit")), 6)
    e = (
        digits.crossJoin(F.broadcast(tot))
        .withColumn("expected_n", F.col("n") * p)
        .withColumn(
            "dev",
            (F.col("n_obs") - F.col("expected_n"))
            * (F.col("n_obs") - F.col("expected_n"))
            / F.col("expected_n"),
        )
    )
    e = pin(e)
    e.count()  # chi2 consumer + the row output share one computation
    chi = e.agg(ordered_sum("digit", "dev").alias("chi2"))
    return e.crossJoin(F.broadcast(chi)).select(
        "digit", "n_obs", "expected_n", "dev", "chi2"
    )


@register(
    "ranking_ndcg_mrr_eval",
    op_ids="beyond-reference ranking-quality evaluation: per-group "
    "STANDARD NDCG@10 and MRR of a score-descending ranking against "
    "graded relevance — IDCG normalizes by the FULL candidate set's "
    "relevance top-k (ADVICE r8: buried relevant items score 0, not "
    "NULL), discount weights are 6dp-rounded log2 (the rounded-ln "
    "rule), DCG/IDCG fold the <= k per-group terms in rank order on "
    "both engines (F.aggregate over a rank-sorted array vs DuckDB's "
    "ordered-aggregate SUM), both windows share the group-key "
    "partitioning — one exchange",
    description="per-user standard NDCG@10 and MRR of the event-value "
    "ranking against graded event-type relevance (purchase=3, "
    "signup=2, click=1) — the retrieval-eval companion to "
    "classifier_auc_eval",
    oracle="""
        WITH ranked AS (
            SELECT user_id,
                   CASE event_type WHEN 'purchase' THEN 3.0
                                   WHEN 'signup' THEN 2.0
                                   WHEN 'click' THEN 1.0
                                   ELSE 0.0 END AS rel,
                   row_number() OVER (PARTITION BY user_id
                       ORDER BY value DESC, event_id) AS rnk
            FROM events WHERE value IS NOT NULL
        ),
        ideal AS (
            SELECT user_id, rel, rnk,
                   row_number() OVER (PARTITION BY user_id
                       ORDER BY rel DESC, rnk) AS irank
            FROM ranked
        ),
        agg AS (
            SELECT user_id,
                   CAST(SUM(CASE WHEN rnk <= 10 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_ranked,
                   SUM(CASE WHEN rnk <= 10
                            THEN rel / round(log2(rnk + 1), 6) END
                       ORDER BY rnk) AS dcg,
                   SUM(CASE WHEN irank <= 10
                            THEN rel / round(log2(irank + 1), 6) END
                       ORDER BY irank) AS idcg,
                   MIN(CASE WHEN rel > 0 AND rnk <= 10 THEN rnk END) AS fr
            FROM ideal GROUP BY 1
        )
        SELECT user_id, n_ranked,
               CASE WHEN idcg > 0 THEN dcg / idcg END AS ndcg,
               CASE WHEN fr IS NOT NULL THEN 1.0 / fr END AS mrr
        FROM agg
    """,
)
def ranking_ndcg_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.ranking import ndcg_mrr_at_k

    (events,) = load(spark, sf_dir, "events")
    rel = (
        F.when(F.col("event_type") == "purchase", 3.0)
        .when(F.col("event_type") == "signup", 2.0)
        .when(F.col("event_type") == "click", 1.0)
        .otherwise(0.0)
    )
    return ndcg_mrr_at_k(
        events.where(F.col("value").isNotNull()),
        group_col="user_id",
        score_col="value",
        tiebreak_col="event_id",
        relevance=rel,
        k=10,
    )


_SESS_CTE = f"""
    {_SESSION_IDS_CTES}, sess AS (
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               MIN(ts) AS session_start, MAX(ts) AS session_end
        FROM numbered GROUP BY user_id, session_id
    )
"""


@register(
    "session_overlap_pairs",
    op_ids="beyond-reference interval-x-interval OVERLAP join — the "
    "missing member of the temporal-join family (as-of, "
    "point-in-interval, event-gap pairs): both interval sets explode "
    "to fixed time cells, pairs meet on a cell EQUI-join (never a "
    "theta join), and the responsibility rule (only the cell holding "
    "the later start emits) makes each pair appear exactly once with "
    "NO dedup shuffle; oracle is the plain quadratic overlap join, "
    "so a green hash is an exact-equivalence proof",
    description="cross-user concurrent sessions: pairs of 30-min-gap "
    "sessions from different users (a.user < b.user) whose "
    "[start,end] intervals overlap, with exact overlap microseconds",
    oracle=f"""
        WITH {_SESS_CTE}
        SELECT a.user_id AS a_user_id,
               a.session_id AS a_session_id,
               b.user_id AS b_user_id,
               b.session_id AS b_session_id,
               least(epoch_us(a.session_end), epoch_us(b.session_end))
               - greatest(epoch_us(a.session_start), epoch_us(b.session_start))
                   AS overlap_us
        FROM sess a JOIN sess b
          ON a.user_id < b.user_id
         AND a.session_start <= b.session_end
         AND b.session_start <= a.session_end
    """,
)
def session_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.rangejoin import (
        interval_overlap_join,
    )
    from nhl_data_warehouse_spark.operators.sessions import sessionize_batch

    (events,) = load(spark, sf_dir, "events")
    sess = sessionize_batch(events, gap_minutes=30).select(
        "user_id",
        "session_id",
        "session_start",
        "session_end",
    )
    sess = pin(sess)
    sess.count()  # both sides of the self-join share one computation
    pairs = interval_overlap_join(
        sess, sess, "session_start", "session_end", cell_minutes=60
    )
    return pairs.where(F.col("a_user_id") < F.col("b_user_id")).select(
        "a_user_id", "a_session_id", "b_user_id", "b_session_id", "overlap_us"
    )


def _bootstrap_oracle() -> str:
    from nhl_data_warehouse_spark.operators.sampling import (
        POISSON1_HEX_THRESHOLDS,
    )

    # 4 replicates per md5: replicate b reads 8-hex window b%4 of
    # md5(salt + b//4 | key) — mirrors poisson_bootstrap_weight
    case_chain = "\n                   + ".join(
        f"CASE WHEN substr(md5('boot' || CAST(b // 4 AS VARCHAR) || '|'"
        f" || CAST(o_orderkey AS VARCHAR)), 1 + 8 * (b % 4), 8) >= '{t}'"
        " THEN 1 ELSE 0 END"
        for t in POISSON1_HEX_THRESHOLDS
    )
    return f"""
        WITH reps AS (
            SELECT CAST(unnest(generate_series(0, 31))
                        AS BIGINT) AS b
        ),
        weighted AS (
            SELECT b,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS x,
                   {case_chain} AS wt
            FROM orders, reps
            WHERE o_totalprice IS NOT NULL
        ),
        st AS (
            SELECT b, CAST(SUM(wt * x) AS BIGINT) AS sx,
                   CAST(SUM(wt) AS BIGINT) AS sw
            FROM weighted GROUP BY b
        )
        SELECT b, sw AS n_eff,
               CASE WHEN sw > 0 THEN CAST(sx AS DOUBLE) / CAST(sw AS DOUBLE)
                    END AS mean_value
        FROM st
    """


@register(
    "bootstrap_revenue_ci",
    op_ids="beyond-reference distributed bootstrap: 32 Poisson(1) "
    "resampling replicates of mean order revenue in ONE "
    "map-side-combined pass — weights are deterministic "
    "inverse-CDF draws from content-addressed md5 (the sampling "
    "family's hex-threshold idiom), so the full bootstrap is "
    "reproducible on any engine/partitioning with no RNG state and "
    "no row shuffle; each replicate mean is a ratio of exact integer "
    "sums",
    description="32 bootstrap replicate means of order revenue "
    "(cents) for percentile confidence intervals — the error bar "
    "every corpus-level statistic needs at 100 TB, costed at one "
    "scan",
    oracle=_bootstrap_oracle(),
)
def bootstrap_revenue_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.sampling import (
        poisson_bootstrap_means,
    )

    (orders,) = load(spark, sf_dir, "orders")
    vals = orders.where(F.col("o_totalprice").isNotNull()).select(
        F.col("o_orderkey"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return poisson_bootstrap_means(
        vals, ["o_orderkey"], "cents", n_replicates=32, salt="boot"
    )


@register(
    "key_skew_report",
    op_ids="beyond-reference shuffle diagnostics: exact key-frequency "
    "profile (count of keys, exact discrete p50/p99 key frequency "
    "via the counts-of-counts histogram, max/mean skew ratio, "
    "deterministic hottest key) — the should-I-salt report that "
    "feeds salted_join's replicate factor; two keyed aggregates and "
    "one bounded-grain window, never a row-scale sort",
    description="order-count-per-customer skew profile: key count, "
    "exact p50/p99 orders-per-customer, max/mean skew ratio, hottest "
    "customer key",
    oracle="""
        WITH counts AS (
            SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY 1
        ),
        tot AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
                   CAST(SUM(cnt) AS BIGINT) AS n_rows,
                   CAST(MAX(cnt) AS BIGINT) AS max_cnt
            FROM counts
        ),
        coc AS (SELECT cnt, COUNT(*) AS nk FROM counts GROUP BY 1),
        cum AS (
            SELECT cnt, SUM(nk) OVER (ORDER BY cnt
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumk
            FROM coc
        ),
        pcts AS (
            SELECT CAST(MIN(CASE WHEN 2 * cumk >= n_keys THEN cnt END)
                        AS BIGINT) AS p50_cnt,
                   CAST(MIN(CASE WHEN 100 * cumk >= 99 * n_keys THEN cnt END)
                        AS BIGINT) AS p99_cnt
            FROM cum, tot
        ),
        hot AS (
            SELECT CAST(MIN(o_custkey) AS BIGINT) AS hot_key
            FROM counts, tot WHERE cnt = max_cnt
        )
        SELECT n_keys, n_rows, max_cnt, p50_cnt, p99_cnt,
               CAST(max_cnt AS DOUBLE) * CAST(n_keys AS DOUBLE)
                   / CAST(n_rows AS DOUBLE) AS skew_ratio,
               hot_key
        FROM tot, pcts, hot
    """,
)
def key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.skew import key_skew_report as rep

    (orders,) = load(spark, sf_dir, "orders")
    return rep(orders, "o_custkey")


# ---------------------------------------------------------------------------
# Round-13 additions: k-sample tests + multiple-testing control
# ---------------------------------------------------------------------------

# the H / W / BH operation sequences are shared VERBATIM with the
# Spark operators (operators/stats.py) — the MW_SIGMA convention
from nhl_data_warehouse_spark.operators.stats import (  # noqa: E402
    bf_w_expr as _bf_w_expr,
    bh_z_thresholds as _bh_z_thresholds,
    kw_h_expr as _kw_h_expr,
)

_KW_GROUPS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_KW_IN = ", ".join(f"'{g}'" for g in _KW_GROUPS)
_KW_CASES = ",\n                   ".join(
    f"CASE WHEN o_orderpriority = '{g}' THEN 1 ELSE 0 END AS g{i}"
    for i, g in enumerate(_KW_GROUPS, start=1)
)
_KW_HSUMS = ",\n                   ".join(
    f"SUM(g{i}) AS n{i}v" for i in range(1, 6)
)
_KW_STATS = ",\n                   ".join(
    f"CAST(SUM(n{i}v) AS BIGINT) AS n{i},\n                   "
    f"SUM(CAST(n{i}v AS HUGEINT) * (2 * cumn + nv + 1)) AS two_r{i}"
    for i in range(1, 6)
)


@register(
    "kruskal_wallis_priority_values",
    op_ids="beyond-reference k-sample rank test: Kruskal-Wallis H "
    "(one-way ANOVA on ranks) across a DECLARED group enumeration, "
    "tie-corrected, from ALL-INTEGER sufficient statistics (per-group "
    "2R_i and sum(t^3 - t) off ONE combined cents histogram, "
    "DECIMAL(38,0) cross-products) — H is one fixed-order double "
    "expression over the k pivoted integer pairs, shared verbatim "
    "with the oracle",
    description="do order values differ by priority? Kruskal-Wallis "
    "H across the five TPC-H order priorities (df = 4), the k-sample "
    "generalization of the Mann-Whitney A/B gate",
    oracle=f"""
        WITH vals AS (
            SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c,
                   {_KW_CASES}
            FROM orders
            WHERE o_totalprice IS NOT NULL
              AND o_orderpriority IN ({_KW_IN})
        ),
        hist AS (
            SELECT c, COUNT(*) AS nv,
                   {_KW_HSUMS}
            FROM vals GROUP BY c
        ),
        cum AS (
            SELECT *, COALESCE(SUM(nv) OVER (ORDER BY c
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumn
            FROM hist
        ),
        stats AS (
            SELECT CAST(SUM(nv) AS BIGINT) AS n,
                   SUM(CAST(nv AS HUGEINT) * nv * nv - nv) AS tsum,
                   {_KW_STATS}
            FROM cum
        )
        SELECT n, CAST(5 AS INT) AS k_groups,
               ({_kw_h_expr(5)}) AS h_statistic
        FROM stats
    """,
)
def kruskal_wallis_priority_values(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from nhl_data_warehouse_spark.operators.stats import kruskal_wallis_h

    (orders,) = load(spark, sf_dir, "orders")
    return kruskal_wallis_h(
        orders, "o_totalprice", "o_orderpriority", _KW_GROUPS
    )


_BF_GROUPS = ["A", "N", "R"]
_BF_PIVOT = ",\n                   ".join(
    f"COALESCE(SUM(CASE WHEN g = '{g}' THEN ng END), 0) AS n{i},\n"
    f"                   COALESCE(SUM(CASE WHEN g = '{g}' THEN s1 END), 0)"
    f" AS s1_{i},\n"
    f"                   COALESCE(SUM(CASE WHEN g = '{g}' THEN s2 END), 0)"
    f" AS s2_{i}"
    for i, g in enumerate(_BF_GROUPS, start=1)
)


@register(
    "brown_forsythe_quantity_spread",
    op_ids="beyond-reference variance-homogeneity test: "
    "Brown-Forsythe W (median-centered Levene) from ALL-INTEGER "
    "sufficient statistics — per-group medians EXACT on the cents "
    "grid (2*median via two conditional MINs over the per-group "
    "cumulative histogram), doubled deviations |2c - 2med| integer, "
    "(n, sum Z', sum Z'^2) in DECIMAL(38,0), W one fixed-order "
    "double expression; the SPREAD-drift gate the location tests "
    "(MW/KW) miss",
    description="is quantity dispersion homogeneous across return "
    "flags? Brown-Forsythe W over A/N/R (df = 2, n - 3)",
    oracle=f"""
        WITH vals AS (
            SELECT l_returnflag AS g,
                   CAST(round(l_quantity * 100) AS BIGINT) AS c
            FROM lineitem
            WHERE l_quantity IS NOT NULL AND l_returnflag IN ('A','N','R')
        ),
        hist AS (SELECT g, c, COUNT(*) AS cnt FROM vals GROUP BY 1, 2),
        cumh AS (
            SELECT g, c, cnt, SUM(cnt) OVER (PARTITION BY g ORDER BY c
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
            FROM hist
        ),
        tot AS (SELECT g, SUM(cnt) AS ng FROM hist GROUP BY 1),
        med AS (
            SELECT cumh.g AS g,
                   MIN(CASE WHEN cm >= (ng + 1) // 2 THEN c END)
                 + MIN(CASE WHEN cm >= (ng + 2) // 2 THEN c END) AS med2
            FROM cumh JOIN tot ON cumh.g = tot.g GROUP BY 1
        ),
        per AS (
            SELECT hist.g AS g, CAST(SUM(cnt) AS BIGINT) AS ng,
                   SUM(CAST(ABS(2 * c - med2) AS HUGEINT) * cnt) AS s1,
                   SUM(CAST(ABS(2 * c - med2) AS HUGEINT)
                       * ABS(2 * c - med2) * cnt) AS s2
            FROM hist JOIN med ON hist.g = med.g GROUP BY 1
        ),
        one AS (
            SELECT CAST(SUM(ng) AS BIGINT) AS n,
                   SUM(s1) AS s1all,
                   {_BF_PIVOT}
            FROM per
        )
        SELECT n, CAST(3 AS INT) AS k_groups,
               ({_bf_w_expr(3)}) AS w_statistic
        FROM one
    """,
)
def brown_forsythe_quantity_spread(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from nhl_data_warehouse_spark.operators.stats import brown_forsythe_w

    (lineitem,) = load(spark, sf_dir, "lineitem")
    return brown_forsythe_w(
        lineitem, "l_quantity", "l_returnflag", _BF_GROUPS
    )


_BH_M = 25  # p_brand is the 25-value TPC-H enumeration Brand#1..#25
_BH_ALPHA = 0.05
_BH_ZC = _bh_z_thresholds(_BH_M, _BH_ALPHA)
_BH_ZLIST = ", ".join(f"CAST('{z!r}' AS DOUBLE)" for z in _BH_ZC)


@register(
    "bh_fdr_brand_price_screen",
    op_ids="beyond-reference multiple-testing control: "
    "Benjamini-Hochberg step-up FDR selection over an m=25 "
    "one-vs-rest Mann-Whitney screen (per-brand price drift), all m "
    "tests priced off ONE combined cents histogram (shared midranks "
    "+ tie sum, DECIMAL(38,0) cross-products); the BH ladder is "
    "precomputed driver-side (math.erfc bisection) and embedded as "
    "shared double literals, so the runtime plan is "
    "transcendental-free — rank windows run over the m test rows, "
    "never data",
    description="which brands' lineitem prices differ from the rest? "
    "25 one-vs-rest MWU z's + BH step-up at FDR alpha=0.05 "
    "(p_rank, k*-rejection per brand)",
    oracle=f"""
        WITH vals AS (
            SELECT p.p_brand AS g,
                   CAST(round(l.l_extendedprice * 100) AS BIGINT) AS c
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE l.l_extendedprice IS NOT NULL AND p.p_brand IS NOT NULL
        ),
        comb AS (SELECT c, COUNT(*) AS nv FROM vals GROUP BY 1),
        cumh AS (
            SELECT c, nv, COALESCE(SUM(nv) OVER (ORDER BY c
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumn
            FROM comb
        ),
        gtot AS (
            SELECT CAST(SUM(nv) AS BIGINT) AS n,
                   SUM(CAST(nv AS HUGEINT) * nv * nv - nv) AS tsum
            FROM cumh
        ),
        per AS (SELECT g, c, COUNT(*) AS ngv FROM vals GROUP BY 1, 2),
        grp AS (
            SELECT g, CAST(SUM(ngv) AS BIGINT) AS n1,
                   SUM(CAST(ngv AS HUGEINT) * (2 * cumn + nv + 1)) AS two_r
            FROM per JOIN cumh USING (c) GROUP BY 1
        ),
        scr AS (
            SELECT g, n1, n - n1 AS n2, n, tsum,
                   two_r - CAST(n1 AS HUGEINT) * (n1 + 1) AS u2
            FROM grp, gtot
        ),
        z AS (
            SELECT g, n1, n2,
                   CAST(u2 AS DOUBLE) / 2.0 AS u_statistic,
                   ({{MW_FINAL}}) / ({{MW_SIGMA}}) AS z_value
            FROM scr
        ),
        ranked AS (
            SELECT g, n1, n2, u_statistic, z_value,
                   ROW_NUMBER() OVER (
                       ORDER BY ABS(z_value) DESC NULLS LAST, g) AS p_rank
            FROM z
        ),
        ok AS (
            SELECT *,
                   CASE WHEN p_rank <= {_BH_M}
                             AND ABS(z_value) >= ([{_BH_ZLIST}])[p_rank]
                        THEN p_rank ELSE 0 END AS okk
            FROM ranked
        ),
        ks AS (SELECT MAX(okk) AS k_star FROM ok)
        SELECT g AS p_brand, n1 AS n_brand, n2 AS n_rest,
               u_statistic, z_value, CAST(p_rank AS INT) AS p_rank,
               p_rank <= k_star AS rejected
        FROM ok, ks
    """.replace("{MW_FINAL}", _MW_FINAL).replace("{MW_SIGMA}", _MW_SIGMA),
)
def bh_fdr_brand_price_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.stats import (
        bh_fdr_select,
        mwu_screen_by_group,
    )

    lineitem, part = load(spark, sf_dir, "lineitem", "part")
    joined = lineitem.join(
        F.broadcast(part), lineitem["l_partkey"] == part["p_partkey"]
    )
    scr = mwu_screen_by_group(joined, "l_extendedprice", "p_brand")
    sel = bh_fdr_select(scr, _BH_ZC)
    return sel.select(
        F.col("g").alias("p_brand"),
        F.col("n1").alias("n_brand"),
        F.col("n2").alias("n_rest"),
        "u_statistic",
        "z_value",
        "p_rank",
        "rejected",
    )


@register(
    "selfjoin_cardinality_estimate",
    op_ids="beyond-reference CBO join-size statistics: exact "
    "self-equi-join output cardinality sum(c_k^2) vs the System-R "
    "uniformity estimate n^2/d and the end-biased-histogram estimate "
    "(exact top-100 heavy-hitter counts + uniform remainder) — the "
    "planning statistic that gates a pairwise blocking stage; "
    "squares in DECIMAL(38,0), top-k off a deterministic "
    "TakeOrdered (count desc, key asc), estimates and error ratios "
    "fixed-order double expressions",
    description="events self-join on user_id: exact pair count vs "
    "uniform and heavy-hitter-corrected estimates with error ratios",
    oracle="""
        WITH per AS (
            SELECT user_id AS k, COUNT(*) AS c FROM events GROUP BY 1
        ),
        tot AS (
            SELECT CAST(SUM(c) AS BIGINT) AS n_rows,
                   CAST(COUNT(*) AS BIGINT) AS n_keys,
                   SUM(CAST(c AS HUGEINT) * c) AS exact_d
            FROM per
        ),
        top AS (SELECT c FROM per ORDER BY c DESC, k ASC LIMIT 100),
        ta AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS tk,
                   CAST(COALESCE(SUM(c), 0) AS BIGINT) AS tn,
                   COALESCE(SUM(CAST(c AS HUGEINT) * c), 0) AS texact
            FROM top
        )
        SELECT n_rows, n_keys,
               CAST(exact_d AS DOUBLE) AS exact_pairs,
               CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE)
                   / CAST(n_keys AS DOUBLE) AS est_uniform,
               CAST(texact AS DOUBLE)
                   + CASE WHEN n_keys - tk <= 0 THEN 0.0
                          ELSE (CAST(n_rows - tn AS DOUBLE)
                                * CAST(n_rows - tn AS DOUBLE))
                               / CAST(n_keys - tk AS DOUBLE) END
                   AS est_topk,
               (CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE)
                   / CAST(n_keys AS DOUBLE)) / CAST(exact_d AS DOUBLE)
                   AS err_uniform,
               (CAST(texact AS DOUBLE)
                   + CASE WHEN n_keys - tk <= 0 THEN 0.0
                          ELSE (CAST(n_rows - tn AS DOUBLE)
                                * CAST(n_rows - tn AS DOUBLE))
                               / CAST(n_keys - tk AS DOUBLE) END)
                   / CAST(exact_d AS DOUBLE) AS err_topk
        FROM tot, ta
    """,
)
def selfjoin_cardinality_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from nhl_data_warehouse_spark.operators.skew import join_size_estimate

    (events,) = load(spark, sf_dir, "events")
    return join_size_estimate(events, "user_id")
