"""Analytics suite: time-series densification, product analytics
(funnel/cohort), reshaping, layout keys, and exact sketches — the
warehouse-analytics surface beyond the reference's dbt models
(its Snowflake would reach these via generate_series / UNPIVOT /
window SQL; here each is a native DataFrame plan with a DuckDB
oracle).

Determinism follows ``suite/__init__``: decimal-cast sums, one double
division per ratio, integer day arithmetic, unique tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nhl_data_warehouse_spark.operators import layout, sketches, timeseries
from nhl_data_warehouse_spark.operators.caching import checkpoint, pin
from nhl_data_warehouse_spark.suite.registry import load, register
from nhl_data_warehouse_spark.suite.training import (
    _OLS_SUMS_SQL,
    _hex_int_sql,
    _ols_fit_sql,
)

DEC = "decimal(18,2)"


@register(
    "unpivot_monthly_metrics",
    op_ids="§2.5 reshaping: UNPIVOT/melt (wide metrics -> long "
    "(metric, value) rows; inverse of pivot)",
    description="monthly order metrics unpivoted to long form — the "
    "metric-catalog shape BI layers and feature stores consume",
    oracle="""
        WITH wide AS (
            SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
                   COUNT(*) AS n_orders,
                   SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sum_total,
                   COUNT(DISTINCT o_custkey) AS n_custs
            FROM orders GROUP BY 1
        )
        SELECT order_month, 'n_orders' AS metric,
               CAST(n_orders AS DOUBLE) AS value FROM wide
        UNION ALL
        SELECT order_month, 'sum_total', CAST(sum_total AS DOUBLE)
        FROM wide
        UNION ALL
        SELECT order_month, 'n_custs', CAST(n_custs AS DOUBLE)
        FROM wide
    """,
)
def unpivot_monthly_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load(spark, sf_dir, "orders")
    wide = orders.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("order_month")
    ).agg(
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("sum_total"),
        F.count_distinct("o_custkey").cast("double").alias("n_custs"),
    )
    return wide.unpivot(
        ["order_month"], ["n_orders", "sum_total", "n_custs"], "metric", "value"
    )


# every (priority seen in the ``daily`` CTE, day of 1995Q1) cell
_Q1_PRIORITY_GRID_CTES = """spine AS (
        SELECT CAST(unnest(generate_series(DATE '1995-01-01',
                                           DATE '1995-03-31',
                                           INTERVAL 1 DAY)) AS DATE)
                   AS order_day
    ),
    grid AS (
        SELECT k.o_orderpriority, s.order_day
        FROM (SELECT DISTINCT o_orderpriority FROM daily) k
        CROSS JOIN spine s
    )"""


def _priority_days(orders: DataFrame, end: str, *aggs) -> DataFrame:
    """``aggs`` per (priority, order day) over the orders from
    1995-01-01 up to ``end``."""
    return (
        orders.filter(
            (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < end)
        )
        .groupBy(
            "o_orderpriority",
            F.col("o_orderdate").cast("date").alias("order_day"),
        )
        .agg(*aggs)
    )


@register(
    "gapfill_priority_revenue",
    op_ids="beyond-reference time-series densification: date spine + "
    "zero-fill + forward-fill (gaps-and-islands grouping)",
    description="per-priority daily revenue for 1995Q1 on a complete "
    "daily spine; missing days get 0 orders and the last observed "
    "revenue (NULL before first observation), is_gap marks synthesized "
    "rows",
    oracle=f"""
        WITH daily AS (
            SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS order_day,
                   COUNT(*) AS n_orders,
                   SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1995-01-01'
              AND o_orderdate < TIMESTAMP '1995-04-01'
            GROUP BY 1, 2
        ),
        {_Q1_PRIORITY_GRID_CTES},
        j AS (
            SELECT g.o_orderpriority, g.order_day, d.n_orders, d.revenue,
                   CASE WHEN d.n_orders IS NULL THEN 1 ELSE 0 END AS is_gap
            FROM grid g LEFT JOIN daily d USING (o_orderpriority, order_day)
        ),
        grp AS (
            SELECT *, COUNT(CASE WHEN is_gap = 0 THEN 1 END) OVER (
                       PARTITION BY o_orderpriority ORDER BY order_day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
            FROM j
        )
        SELECT o_orderpriority, order_day,
               COALESCE(n_orders, 0) AS n_orders,
               CAST(MAX(revenue) OVER (PARTITION BY o_orderpriority, g)
                    AS DOUBLE) AS revenue_ffill,
               is_gap
        FROM grp
    """,
)
def gapfill_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load(spark, sf_dir, "orders")
    daily = _priority_days(
        orders,
        "1995-04-01",
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast(DEC)).alias("revenue"),
    )
    out = timeseries.gap_fill(
        daily,
        key_col="o_orderpriority",
        day_col="order_day",
        start="1995-01-01",
        end="1995-03-31",
        zero_fill=["n_orders"],
        ffill=["revenue"],
    )
    # exact decimal fill internally; double final schema (driver W1)
    return out.withColumn("revenue_ffill", F.col("revenue_ffill").cast("double"))


@register(
    "rolling_7d_revenue",
    op_ids="§2.6 time-range window (RANGE BETWEEN over epoch days — "
    "true trailing-7-days, not 7-rows)",
    description="per-priority trailing 7-day revenue sum/count/avg "
    "over 1995 daily aggregates; calendar gaps shorten the frame",
    oracle="""
        WITH daily AS (
            SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS order_day,
                   SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1995-01-01'
              AND o_orderdate < TIMESTAMP '1996-01-01'
            GROUP BY 1, 2
        )
        SELECT o_orderpriority, order_day, CAST(revenue AS DOUBLE) AS revenue,
               CAST(SUM(revenue) OVER w AS DOUBLE) AS rolling_7d_sum,
               COUNT(revenue) OVER w AS rolling_7d_n,
               CAST(SUM(revenue) OVER w AS DOUBLE) / (COUNT(revenue) OVER w)
                   AS rolling_7d_avg
        FROM daily
        WINDOW w AS (
            PARTITION BY o_orderpriority
            ORDER BY date_diff('day', DATE '1970-01-01', order_day)
            RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def rolling_7d_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load(spark, sf_dir, "orders")
    daily = _priority_days(
        orders, "1996-01-01", F.sum(F.col("o_totalprice").cast(DEC)).alias("revenue")
    )
    out = timeseries.rolling_days(daily, "o_orderpriority", "order_day", "revenue")
    # exact decimal window sums internally; double final schema (W1)
    return out.withColumn("revenue", F.col("revenue").cast("double")).withColumn(
        "rolling_7d_sum", F.col("rolling_7d_sum").cast("double")
    )


@register(
    "time_weighted_avg_value",
    op_ids="beyond-reference time-weighted average (TimescaleDB "
    "time_weight shape, LOCF weighting: each value weighted by how "
    "long it was current — the correct aggregate for irregularly "
    "sampled gauges; one keyed lead window + one partial-agg group-by)",
    description="per-user time-weighted mean event value: durations are "
    "exact integer microseconds to the next event, value carried as "
    "decimal through the weighted sum, one double division at the "
    "end; the open-ended last observation is excluded (LOCF)",
    oracle="""
        WITH d AS (
            SELECT user_id,
                   CAST(value AS DECIMAL(18,2)) AS v,
                   epoch_us(LEAD(ts) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id))
                     - epoch_us(ts) AS dur_us
            FROM events
        )
        SELECT user_id,
               round(CAST(SUM(v * dur_us) AS DOUBLE)
                 / CAST(CAST(SUM(dur_us) AS BIGINT) AS DOUBLE), 6)
                   AS time_weighted_avg,
               CAST(CAST(SUM(dur_us) AS BIGINT) AS DOUBLE) / 1000000.0
                   AS observed_seconds
        FROM d WHERE dur_us IS NOT NULL
        GROUP BY user_id
    """,
)
def time_weighted_avg_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load(spark, sf_dir, "events")
    return timeseries.time_weighted_avg(events)


@register(
    "psi_value_drift",
    op_ids="beyond-reference distribution-drift monitoring: Population "
    "Stability Index between the first and second halves of the event "
    "span (shared global bin edges, per-bin (q-p)*ln(q/p) "
    "contributions — the snapshot-drift alarm a serving/training "
    "pipeline schedules)",
    description="10-bin PSI of event value, reference = before the "
    "epoch midpoint: per-bin counts, shares, and 6dp contribution; "
    "bins empty on either side carry NULL contribution (epsilon "
    "policy left to the caller)",
    oracle="""
        WITH stats AS (
            SELECT min(value) AS lo, max(value) AS hi,
                   CAST((min(epoch_us(ts)) + max(epoch_us(ts))) / 2 AS BIGINT)
                       AS mid_us
            FROM events
        ),
        binned AS (
            SELECT CAST(LEAST(floor((e.value - s.lo) / (s.hi - s.lo) * 10), 9)
                        AS BIGINT) AS bin,
                   CASE WHEN epoch_us(e.ts) < s.mid_us THEN 1 ELSE 0 END
                       AS is_ref
            FROM events e, stats s
        ),
        counts AS (
            SELECT bin, CAST(SUM(is_ref) AS BIGINT) AS n_ref,
                   CAST(SUM(1 - is_ref) AS BIGINT) AS n_cur
            FROM binned GROUP BY bin
        ),
        tot AS (
            SELECT CAST(SUM(n_ref) AS BIGINT) AS tr,
                   CAST(SUM(n_cur) AS BIGINT) AS tc
            FROM counts
        )
        SELECT bin, n_ref, n_cur,
               CAST(n_ref AS DOUBLE) / tr AS p_ref,
               CAST(n_cur AS DOUBLE) / tc AS p_cur,
               CASE WHEN n_ref > 0 AND n_cur > 0 THEN
                    round((CAST(n_cur AS DOUBLE) / tc - CAST(n_ref AS DOUBLE) / tr)
                          * round(ln((CAST(n_cur AS DOUBLE) / tc)
                                     / (CAST(n_ref AS DOUBLE) / tr)), 6), 6)
                      + 0.0
               END AS psi_contrib
        FROM counts, tot
    """,
)
def psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load(spark, sf_dir, "events")
    return sketches.psi_drift(events, n_bins=10)


@register(
    "funnel_conversion",
    op_ids="beyond-reference product analytics: ordered funnel "
    "(view -> click -> purchase, each stage strictly after the prior)",
    description="users completing each funnel stage in order: first "
    "view, first click after that view, first purchase after that "
    "click — three stage-joins over the events stream",
    oracle="""
        WITH v AS (
            SELECT user_id, MIN(ts) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY 1
        ),
        c AS (
            SELECT e.user_id, MIN(e.ts) AS t2
            FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
            WHERE e.event_type = 'click' GROUP BY 1
        ),
        p AS (
            SELECT e.user_id, MIN(e.ts) AS t3
            FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
            WHERE e.event_type = 'purchase' GROUP BY 1
        )
        SELECT (SELECT COUNT(*) FROM v) AS n_view_users,
               (SELECT COUNT(*) FROM c) AS n_click_users,
               (SELECT COUNT(*) FROM p) AS n_purchase_users
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # stacked windows over ONE user partitioning: all three stage
    # timestamps compute in a single shuffle of the (narrow) event
    # projection — no self-joins. Each window reads the previous
    # window's column; Catalyst stacks same-partitioning Window nodes
    # without re-exchanging, and the final global count is a 1-row agg.
    from pyspark.sql.window import Window

    (events,) = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    e = events.select("user_id", "event_type", "ts")
    e = e.withColumn(
        "t1", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    )
    e = e.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("t1")),
                F.col("ts"),
            )
        ).over(w),
    )
    e = e.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("t2")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = e.groupBy("user_id").agg(
        F.first("t1").alias("t1"),
        F.first("t2").alias("t2"),
        F.first("t3").alias("t3"),
    )
    return per_user.agg(
        F.count("t1").alias("n_view_users"),
        F.count("t2").alias("n_click_users"),
        F.count("t3").alias("n_purchase_users"),
    )


@register(
    "cohort_retention",
    op_ids="beyond-reference product analytics: weekly cohort "
    "retention matrix (first-seen week x activity-week offset)",
    description="users bucketed by first-activity week; distinct "
    "active users per (cohort week, weeks-since-cohort) — the "
    "retention triangle",
    oracle="""
        WITH first_seen AS (
            SELECT user_id,
                   CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
            FROM events GROUP BY 1
        ),
        activity AS (
            SELECT DISTINCT user_id,
                   CAST(date_trunc('week', ts) AS DATE) AS active_week
            FROM events
        )
        SELECT f.cohort_week,
               date_diff('day', f.cohort_week, a.active_week) // 7
                   AS week_offset,
               COUNT(*) AS n_active_users
        FROM first_seen f JOIN activity a USING (user_id)
        GROUP BY 1, 2
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load(spark, sf_dir, "events")
    events = pin(events.select("user_id", "ts"))
    first_seen = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = events.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("active_week")
    ).distinct()
    return (
        first_seen.join(activity, on="user_id")
        .groupBy(
            "cohort_week",
            F.expr("datediff(active_week, cohort_week) div 7").alias(
                "week_offset"
            ),
        )
        .agg(F.count(F.lit(1)).alias("n_active_users"))
    )


# orders on a 16-bit (custkey, order day) grid with their Z-value
_ORDERS_ZXY_SQL = f"""(
    SELECT o_orderkey,
           o_custkey & 65535 AS x,
           date_diff('day', DATE '1992-01-01',
                     CAST(o_orderdate AS DATE)) & 65535 AS y,
           {layout.z_value_sql()}
               AS z_key
    FROM orders
)"""


@register(
    "zorder_file_assignment",
    op_ids="beyond-reference data layout: Z-order (Morton) interleave "
    "key + range file assignment (multi-dim scan pruning)",
    description="orders assigned to 32 Z-ordered files over "
    "(custkey, order day) so file min/max stats prune on both "
    "dimensions — the OPTIMIZE ZORDER idea as a deterministic sort key",
    oracle=f"""
        SELECT o_orderkey, x, y, z_key,
               NTILE(32) OVER (ORDER BY z_key, o_orderkey) AS file_id
        FROM {_ORDERS_ZXY_SQL}
    """,
)
def zorder_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load(spark, sf_dir, "orders")
    xy = orders.select(
        "o_orderkey",
        F.col("o_custkey").bitwiseAND(F.lit(65535)).alias("x"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1992-01-01"))
        .bitwiseAND(F.lit(65535))
        .alias("y"),
    )
    return layout.zorder_file_assignment(xy, "o_orderkey", n_files=32)


@register(
    "zorder_skipping_stats",
    op_ids="beyond-reference data-skipping manifest: per-file min/max "
    "stats over the Z-ordered layout + conjunctive range-predicate "
    "pruning verdict (the Parquet row-group / lake file-stats rule)",
    description="32-file manifest over the Z-ordered orders layout with "
    "the scan/skip verdict for x IN [0,500] AND y IN [1100,1500] — "
    "because the layout interleaves both dimensions, the 2-dim "
    "predicate prunes ~29 of 32 files; this is the metadata pass a "
    "100 TB scan planner runs instead of reading data",
    oracle=f"""
        WITH assigned AS (
            SELECT o_orderkey, x, y,
                   NTILE(32) OVER (ORDER BY z_key, o_orderkey) AS file_id
            FROM {_ORDERS_ZXY_SQL}
        )
        SELECT file_id, COUNT(*) AS n_rows,
               MIN(x) AS min_x, MAX(x) AS max_x,
               MIN(y) AS min_y, MAX(y) AS max_y,
               (MAX(x) >= 0 AND MIN(x) <= 500
                AND MAX(y) >= 1100 AND MIN(y) <= 1500) AS scanned
        FROM assigned
        GROUP BY file_id
    """,
)
def zorder_skipping_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    assigned = zorder_assignment(spark, sf_dir).select("file_id", "x", "y")
    return layout.skipping_manifest(
        assigned,
        pred_ranges={"x": (0, 500), "y": (1100, 1500)},
    )


@register(
    "countmin_token_freq",
    op_ids="beyond-reference exact-deterministic count-min sketch "
    "(depth 4 x width 256, md5-bucket hash family; estimate >= truth)",
    description="CMS frequency estimates for every distinct document "
    "token next to true counts — the mergeable heavy-hitter sketch "
    "with engine-portable integer determinism",
    oracle=f"""
        WITH toks AS (
            SELECT unnest(list_filter(string_split(text, ' '),
                                      x -> x <> '')) AS term
            FROM documents
        ),
        occ AS (
            {" UNION ALL ".join(
                f"SELECT term, {i} AS row_id, "
                f"substring(md5('{salt}' || term), 1, 2) AS bucket FROM toks"
                for i, salt in enumerate(sketches.CMS_SALTS)
            )}
        ),
        counters AS (
            SELECT row_id, bucket, COUNT(*) AS c FROM occ GROUP BY 1, 2
        ),
        probes AS (SELECT DISTINCT term, row_id, bucket FROM occ),
        truth AS (SELECT term, COUNT(*) AS true_count FROM toks GROUP BY 1)
        SELECT t.term, t.true_count, MIN(c.c) AS cms_estimate
        FROM truth t
        JOIN probes p USING (term)
        JOIN counters c USING (row_id, bucket)
        GROUP BY 1, 2
    """,
)
def countmin_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load(spark, sf_dir, "documents")
    toks = documents.select(
        F.explode(
            F.filter(F.split("text", " "), lambda t: t != "")
        ).alias("term")
    )
    return sketches.countmin_estimates(toks)


# lineitem count per (customer nation, supplier nation) trade edge
_NATION_TRADE_SQL = """SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
           COUNT(*) AS weight
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY 1, 2"""


def _pagerank_oracle() -> str:
    # unrolled iterations, mirroring operators/graph.py round-for-round
    its = []
    prev = "r0"
    for i in range(1, 4):
        its.append(f"""
        c{i} AS (
            SELECT t.dst AS node,
                   SUM(CAST(round(CAST(r.pr AS DOUBLE) * t.p, 12)
                            AS DECIMAL(24,12))) AS s
            FROM trans t JOIN {prev} r ON t.src = r.node GROUP BY 1
        ),
        r{i} AS (
            SELECT r.node,
                   CAST(round(0.006 + 0.85 * COALESCE(CAST(c.s AS DOUBLE), 0.0),
                              6) AS DECIMAL(12,6)) AS pr
            FROM {prev} r LEFT JOIN c{i} c USING (node)
        )""")
        prev = f"r{i}"
    return f"""
        WITH edges AS (
            {_NATION_TRADE_SQL}
        ),
        outw AS (SELECT src, SUM(weight) AS w FROM edges GROUP BY src),
        trans AS (
            SELECT src, dst, CAST(weight AS DOUBLE) / CAST(w AS DOUBLE) AS p
            FROM edges JOIN outw USING (src)
        ),
        r0 AS (
            SELECT n_nationkey AS node, CAST(0.04 AS DECIMAL(12,6)) AS pr
            FROM nation
        ),{",".join(its)}
        SELECT node, CAST(pr AS DOUBLE) AS pr FROM {prev}
    """


@register(
    "pagerank_trade_graph",
    op_ids="beyond-reference iterative graph algorithm: weighted "
    "PageRank (3 iterations, broadcast rank vector, decimal-exact "
    "per-iteration rounding)",
    description="nation-level trade graph (customer nation -> supplier "
    "nation, lineitem-count weights); each iteration is one broadcast "
    "join + aggregate, the edge list never re-shuffles",
    oracle=_pagerank_oracle(),
)
def pagerank_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.graph import pagerank

    nation, customer, supplier, orders, lineitem = load(
        spark, sf_dir, "nation", "customer", "supplier", "orders", "lineitem"
    )
    edges = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("weight"))
    )
    ranks = pagerank(
        nation.select(F.col("n_nationkey").alias("node")),
        edges,
    )
    return ranks.withColumnRenamed("rank", "pr")


@register(
    "ivm_join_view_merge",
    op_ids="beyond-reference incremental JOIN-view maintenance: "
    "d(F JOIN D) = dF JOIN D for a static dimension side, so the "
    "join-bearing mart refreshes as merge(agg(base JOIN dim), "
    "agg(delta JOIN dim)) — only the delta pays the join, the "
    "O(delta) nightly pattern for join views (incremental_agg_merge "
    "is the join-free half); exactly equal to from-scratch recompute "
    "by distributivity, which IS what the oracle computes",
    description="orders split 90/10 by orderkey into base/delta, "
    "nation revenue view maintained incrementally (delta joins "
    "customer alone, partial aggregates merged) — oracle recomputes "
    "the full join directly",
    oracle="""
        SELECT c_nationkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1
    """,
)
def ivm_join_view_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.incremental import join_view_delta

    orders, customer = load(spark, sf_dir, "orders", "customer")
    base = orders.where(F.col("o_orderkey") % 10 < 9)
    delta = orders.where(F.col("o_orderkey") % 10 == 9)
    return join_view_delta(
        base,
        delta,
        customer.select("c_custkey", "c_nationkey"),
        fact_key="o_custkey",
        dim_key="c_custkey",
        group_col="c_nationkey",
        value_col=F.col("o_totalprice").cast("decimal(18,2)"),
    )


@register(
    "incremental_agg_merge",
    op_ids="beyond-reference incremental aggregate maintenance: "
    "algebraic partial states (count/sum/sumsq/min/max) merged across "
    "deltas == from-scratch recompute, decimal-exact",
    description="lineitem split into history (<1997) and delta "
    "(>=1997) halves, aggregated independently, states merged, "
    "metrics derived — the O(delta) nightly pattern; oracle is the "
    "direct single-pass aggregate",
    oracle="""
        SELECT l_returnflag,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                   AS sum_v,
               CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(12,2))
                             * CAST(l_quantity AS DECIMAL(12,2))
                             AS DECIMAL(24,4))) AS DOUBLE) AS sumsq_v,
               MIN(l_quantity) AS min_v,
               MAX(l_quantity) AS max_v,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                   / COUNT(*) AS avg_v,
               CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(12,2))
                             * CAST(l_quantity AS DECIMAL(12,2))
                             AS DECIMAL(24,4))) AS DOUBLE) / COUNT(*)
                   - (CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                      / COUNT(*))
                      * (CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                         / COUNT(*)) AS var_v
        FROM lineitem
        GROUP BY 1
    """,
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators import incremental

    (lineitem,) = load(spark, sf_dir, "lineitem")
    history = lineitem.filter(F.col("l_shipdate") < "1997-01-01")
    delta = lineitem.filter(F.col("l_shipdate") >= "1997-01-01")
    s1 = incremental.algebraic_state(history, ["l_returnflag"], "l_quantity")
    s2 = incremental.algebraic_state(delta, ["l_returnflag"], "l_quantity")
    out = incremental.finish(incremental.merge_states(s1, s2))
    # exact decimal states internally; double final schema (driver W1)
    return out.withColumn("sum_v", F.col("sum_v").cast("double")).withColumn(
        "sumsq_v", F.col("sumsq_v").cast("double")
    )


@register(
    "snapshot_diff_orders",
    op_ids="beyond-reference snapshot reconciliation (key-level diff of "
    "two table versions: added/removed/changed/unchanged via narrow "
    "per-key fingerprints — wide payloads never shuffle)",
    description="orders vs a deterministically perturbed next snapshot "
    "(keys %97 removed, %89 reprioritized, %101 cloned as new keys); "
    "one change_type per key — the backfill/migration audit op",
    oracle="""
        WITH new AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 89 = 0 THEN 'X-RECLASSIFIED'
                        ELSE o_orderpriority END AS o_orderpriority,
                   o_totalprice
            FROM orders WHERE o_orderkey % 97 <> 0
            UNION ALL
            SELECT o_orderkey + 10000000, o_orderpriority, o_totalprice
            FROM orders WHERE o_orderkey % 101 = 0
        )
        SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
               CASE WHEN o.o_orderkey IS NULL THEN 'added'
                    WHEN n.o_orderkey IS NULL THEN 'removed'
                    WHEN o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
                      OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
                        THEN 'changed'
                    ELSE 'unchanged' END AS change_type
        FROM orders o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    """,
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.cdc import snapshot_diff

    (orders,) = load(spark, sf_dir, "orders")
    old = orders.select("o_orderkey", "o_orderpriority", "o_totalprice")
    new = (
        old.filter(F.col("o_orderkey") % 97 != 0)
        .withColumn(
            "o_orderpriority",
            F.when(
                F.col("o_orderkey") % 89 == 0, F.lit("X-RECLASSIFIED")
            ).otherwise(F.col("o_orderpriority")),
        )
        .unionByName(
            old.filter(F.col("o_orderkey") % 101 == 0).withColumn(
                "o_orderkey", F.col("o_orderkey") + 10000000
            )
        )
    )
    return snapshot_diff(
        old, new, keys=["o_orderkey"],
        compare_cols=["o_orderpriority", "o_totalprice"],
    )


@register(
    "copurchase_pairs",
    op_ids="beyond-reference co-occurrence mining (bipartite projection "
    "self-join, the market-basket / entity-collocation shape)",
    description="top-30 part pairs by number of orders containing both — "
    "distinct (order, part), self-join on the order key with item_a < item_b",
    oracle="""
        WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        SELECT a.l_partkey AS item_a, b.l_partkey AS item_b,
               COUNT(*) AS n_groups
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        ORDER BY n_groups DESC, item_a ASC, item_b ASC
        LIMIT 30
    """,
)
def copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators import graph

    (lineitem,) = load(spark, sf_dir, "lineitem")
    return graph.cooccurrence_pairs(
        lineitem, group_col="l_orderkey", item_col="l_partkey", top_k=30
    )


# part pairs co-purchased in >= 2 orders (the ``items`` CTE holds
# the distinct (order, part) rows), and both directions of each edge
_COPURCHASE_PAIRS_SQL = """SELECT a.l_partkey AS i, b.l_partkey AS j
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2"""

_COPURCHASE_DIRECTED_CTES = f"""items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
        {_COPURCHASE_PAIRS_SQL}
    ),
    directed AS (
        SELECT i, j FROM edges
        UNION ALL SELECT j AS i, i AS j FROM edges
    )"""


@register(
    "copurchase_assortativity",
    op_ids="beyond-reference graph topology gate: Newman degree "
    "assortativity r of the co-purchase projection (edges = part "
    "pairs sharing >= 2 orders, the neighbor_jaccard pruning) — "
    "hub-to-hub vs hub-to-periphery in ONE scalar, the "
    "will-components-chain check before clustering; exact: over the "
    "doubled directed edge list Sx=Sy/Sxx=Syy by symmetry, so r = "
    "(M*Sxy - Sx^2)/(M*Sxx - Sx^2) from DECIMAL(38,0) integer sums, "
    "one final division, NULL on degenerate graphs",
    description="degree assortativity of the part co-purchase graph "
    "(>= 2 shared orders): node count, edge count, Newman r",
    oracle=f"""
        WITH {_COPURCHASE_DIRECTED_CTES},
        deg AS (SELECT i AS n, CAST(COUNT(*) AS BIGINT) AS d
                FROM directed GROUP BY 1),
        m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS m2,
                   SUM(CAST(du.d AS HUGEINT)) AS sx,
                   SUM(CAST(du.d AS HUGEINT) * dv.d) AS sxy,
                   SUM(CAST(du.d AS HUGEINT) * du.d) AS sxx
            FROM directed e
            JOIN deg du ON du.n = e.i
            JOIN deg dv ON dv.n = e.j
        ),
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg)
        SELECT n_nodes,
               CAST(m2 // 2 AS BIGINT) AS n_edges,
               CASE WHEN m2 = 0 OR m2 * sxx - sx * sx = 0
                    THEN CAST(NULL AS DOUBLE)
                    ELSE CAST(m2 * sxy - sx * sx AS DOUBLE)
                         / CAST(m2 * sxx - sx * sx AS DOUBLE)
               END AS assortativity
        FROM m CROSS JOIN nn
    """,
)
def copurchase_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators import graph

    (lineitem,) = load(spark, sf_dir, "lineitem")
    return graph.degree_assortativity(
        lineitem, group_col="l_orderkey", item_col="l_partkey"
    )


@register(
    "label_propagation_communities",
    op_ids="beyond-reference density community detection: "
    "synchronous label propagation (Raghavan LPA) over the "
    "co-purchase projection — the locally-dominant-label structure "
    "connectivity clustering cannot see (CC merges everything "
    "reachable; LPA splits weakly-bridged dense groups). "
    "DETERMINISTIC LPA: synchronous rounds (t+1 reads only t), fixed "
    "3 rounds, most-frequent neighbor label with smallest-label "
    "tie-break — a pure function of the graph; per round one "
    "node-keyed join + (node,label) combine + degree-bounded "
    "per-node window",
    description="community label per part after 3 synchronous LPA "
    "rounds on the >= 2-shared-orders co-purchase graph",
    oracle=f"""
        WITH {_COPURCHASE_DIRECTED_CTES},
        l0 AS (SELECT DISTINCT i AS n, i AS lbl FROM directed),
        r1 AS (SELECT d.i AS v, l0.lbl, COUNT(*) AS cnt
               FROM directed d JOIN l0 ON l0.n = d.j GROUP BY 1, 2),
        l1 AS (SELECT v AS n, lbl FROM (
                   SELECT v, lbl, ROW_NUMBER() OVER (
                       PARTITION BY v ORDER BY cnt DESC, lbl ASC) AS rn
                   FROM r1) WHERE rn = 1),
        r2 AS (SELECT d.i AS v, l1.lbl, COUNT(*) AS cnt
               FROM directed d JOIN l1 ON l1.n = d.j GROUP BY 1, 2),
        l2 AS (SELECT v AS n, lbl FROM (
                   SELECT v, lbl, ROW_NUMBER() OVER (
                       PARTITION BY v ORDER BY cnt DESC, lbl ASC) AS rn
                   FROM r2) WHERE rn = 1),
        r3 AS (SELECT d.i AS v, l2.lbl, COUNT(*) AS cnt
               FROM directed d JOIN l2 ON l2.n = d.j GROUP BY 1, 2),
        l3 AS (SELECT v AS n, lbl FROM (
                   SELECT v, lbl, ROW_NUMBER() OVER (
                       PARTITION BY v ORDER BY cnt DESC, lbl ASC) AS rn
                   FROM r3) WHERE rn = 1)
        SELECT n AS l_partkey, lbl AS community FROM l3
    """,
)
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators import graph

    (lineitem,) = load(spark, sf_dir, "lineitem")
    return graph.label_propagation(
        lineitem, group_col="l_orderkey", item_col="l_partkey",
    )


@register(
    "copurchase_kcore",
    op_ids="beyond-reference k-core decomposition (Matula-Beck "
    "synchronous peeling, fixed 4 rounds — the label_propagation "
    "determinism doctrine): repeatedly delete nodes of degree < k; "
    "the survivors are the maximal mutually-dense subgraph — the "
    "is-there-a-dense-core-at-all gauge (template farms survive "
    "high-k peeling; organic near-dup pairs fall out round 1). Per "
    "round one map-side degree aggregate + two |V|-broadcast "
    "semi-joins; edges only shrink; converged at both test scales "
    "so the fixed-round result IS the exact 2-core",
    description="2-core of the >= 2-shared-orders co-purchase graph "
    "after 4 synchronous peel rounds: surviving parts with their "
    "in-core degree",
    oracle=f"""
        WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        e0 AS MATERIALIZED (
            {_COPURCHASE_PAIRS_SQL}
        ),
        d1 AS (SELECT n, COUNT(*) AS deg FROM (
                   SELECT i AS n FROM e0 UNION ALL SELECT j FROM e0)
               GROUP BY n),
        k1 AS MATERIALIZED (SELECT n FROM d1 WHERE deg >= 2),
        e1 AS MATERIALIZED (
            SELECT e.i, e.j FROM e0 e
            JOIN k1 ka ON e.i = ka.n JOIN k1 kb ON e.j = kb.n),
        d2 AS (SELECT n, COUNT(*) AS deg FROM (
                   SELECT i AS n FROM e1 UNION ALL SELECT j FROM e1)
               GROUP BY n),
        k2 AS MATERIALIZED (SELECT n FROM d2 WHERE deg >= 2),
        e2 AS MATERIALIZED (
            SELECT e.i, e.j FROM e1 e
            JOIN k2 ka ON e.i = ka.n JOIN k2 kb ON e.j = kb.n),
        d3 AS (SELECT n, COUNT(*) AS deg FROM (
                   SELECT i AS n FROM e2 UNION ALL SELECT j FROM e2)
               GROUP BY n),
        k3 AS MATERIALIZED (SELECT n FROM d3 WHERE deg >= 2),
        e3 AS MATERIALIZED (
            SELECT e.i, e.j FROM e2 e
            JOIN k3 ka ON e.i = ka.n JOIN k3 kb ON e.j = kb.n),
        d4 AS (SELECT n, COUNT(*) AS deg FROM (
                   SELECT i AS n FROM e3 UNION ALL SELECT j FROM e3)
               GROUP BY n),
        k4 AS MATERIALIZED (SELECT n FROM d4 WHERE deg >= 2),
        e4 AS MATERIALIZED (
            SELECT e.i, e.j FROM e3 e
            JOIN k4 ka ON e.i = ka.n JOIN k4 kb ON e.j = kb.n)
        SELECT n AS node, CAST(COUNT(*) AS BIGINT) AS core_degree
        FROM (SELECT i AS n FROM e4 UNION ALL SELECT j FROM e4)
        GROUP BY n
    """,
)
def copurchase_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators import graph

    (lineitem,) = load(spark, sf_dir, "lineitem")
    edges = graph._shared_group_edges(lineitem, "l_orderkey", "l_partkey")
    return graph.kcore_peel(
        edges.select(F.col("_i").alias("a"), F.col("_j").alias("b")), k=2, rounds=4
    )


@register(
    "neighbor_jaccard_pairs",
    op_ids="beyond-reference bipartite node similarity (Jaccard of "
    "order sets — the degree-normalized co-occurrence that surfaces "
    "items co-occurring SPECIFICALLY with each other, not merely "
    "popular ones): group-keyed self-equi-join for intersections, "
    "map-side-combined degree aggregate equi-joined back, min_shared "
    "prunes before the degree joins",
    description="top-30 part pairs by Jaccard similarity of their "
    "order sets (>= 2 shared orders), with both degrees and the "
    "intersection size — deterministic (jaccard desc, item_a, item_b) "
    "order",
    oracle="""
        WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        inter AS (
            SELECT a.l_partkey AS item_a, b.l_partkey AS item_b,
                   CAST(COUNT(*) AS BIGINT) AS n_shared
            FROM items a JOIN items b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING COUNT(*) >= 2
        ),
        deg AS (
            SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS d
            FROM items GROUP BY 1
        )
        SELECT item_a, item_b,
               da.d AS deg_a, db.d AS deg_b, n_shared,
               CAST(n_shared AS DOUBLE)
                   / CAST(da.d + db.d - n_shared AS DOUBLE) AS jaccard
        FROM inter
        JOIN deg da ON item_a = da.l_partkey
        JOIN deg db ON item_b = db.l_partkey
        ORDER BY jaccard DESC, item_a ASC, item_b ASC
        LIMIT 30
    """,
)
def neighbor_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators import graph

    (lineitem,) = load(spark, sf_dir, "lineitem")
    return graph.neighbor_jaccard(
        lineitem,
        group_col="l_orderkey",
        item_col="l_partkey",
        min_shared=2,
        top_k=30,
    )


@register(
    "equi_depth_bins",
    op_ids="beyond-reference exact quantile binning (scale-safe "
    "two-level-rank NTILE; approx_value_percentiles is the sketch twin)",
    description="8 equal-population order-price bins, bit-identical to a "
    "globally ordered ntile with a (price, orderkey) tiebreak but computed "
    "with value buckets + partitioned windows; per-bin count and exact bounds",
    oracle="""
        WITH binned AS (
            SELECT ntile(8) OVER (ORDER BY o_totalprice ASC, o_orderkey ASC)
                       AS bin,
                   o_totalprice
            FROM orders
        )
        SELECT bin, COUNT(*) AS n_orders,
               MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
        FROM binned GROUP BY bin
    """,
)
def equi_depth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-depth binning via the scale-safe two-level rank
    (``layout.equal_depth_assign``): uniform value buckets + partitioned
    per-bucket windows, bit-identical to the oracle's global NTILE but
    with no single-partition sort (round-3 fix of the W2 baseline).
    The sketch twin at 100 TB remains approx_value_percentiles."""
    (orders,) = load(spark, sf_dir, "orders")
    binned = layout.equal_depth_assign(
        orders.select("o_totalprice", "o_orderkey"),
        value_col="o_totalprice",
        id_col="o_orderkey",
        n_tiles=8,
    )
    return (
        binned.select("o_totalprice", F.col("__tile").alias("bin"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


# co-supply triangles, each once: x < y < z along the a < b edges
_COSUPPLY_TRI_CTE = """tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM edges e1
        JOIN edges e2 ON e2.a = e1.a AND e2.b > e1.b
        JOIN edges e3 ON e3.a = e1.b AND e3.b = e2.b
    )"""

_COSUPPLY_EDGES_SQL = """
        shared AS (
            SELECT s_a, s_b, COUNT(*) AS n_shared FROM (
                SELECT p1.l_partkey, p1.l_suppkey AS s_a, p2.l_suppkey AS s_b
                FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) p1
                JOIN (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) p2
                  ON p1.l_partkey = p2.l_partkey AND p1.l_suppkey < p2.l_suppkey
            ) GROUP BY s_a, s_b
        ),
        edges AS (
            SELECT s_a AS a, s_b AS b FROM shared
            WHERE CAST(n_shared AS DOUBLE) >
                  1.1 * (SELECT CAST(SUM(n_shared) AS DOUBLE) / COUNT(*)
                         FROM shared)
        )
"""


def _cosupply_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark side of ``_COSUPPLY_EDGES_SQL``: supplier pairs (a < b)
    sharing more parts than 1.1x the mean over all co-supplying
    pairs, as ``(_a, _b)``. They come from a groupBy(a, b) over an
    a < b self-join, so they are canonical by construction and go to
    the triangle core (``graph._deg_tri``) without the canonicalize
    exchange and distinct."""
    (lineitem,) = load(spark, sf_dir, "lineitem")
    ps = lineitem.select("l_partkey", "l_suppkey").distinct()
    shared = (
        ps.alias("p1")
        .join(
            ps.alias("p2"),
            (F.col("p1.l_partkey") == F.col("p2.l_partkey"))
            & (F.col("p1.l_suppkey") < F.col("p2.l_suppkey")),
        )
        .groupBy(
            F.col("p1.l_suppkey").alias("a"), F.col("p2.l_suppkey").alias("b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    # two consumers (the mean broadcast's build job and the edge
    # filter) would otherwise each execute the full distinct +
    # self-join + aggregate pipeline — persist halves the upstream
    # cost (harness.run_query reclaims it with release_cached)
    shared = pin(shared)
    mean_shared = shared.agg(
        (F.sum("n_shared").cast("double") / F.count(F.lit(1))).alias("m")
    )
    return (
        shared.join(F.broadcast(mean_shared))
        .filter(F.col("n_shared").cast("double") > 1.1 * F.col("m"))
        .select("a", "b")
        .select(F.col("a").alias("_a"), F.col("b").alias("_b"))
    )


@register(
    "cosupply_clustering_coeff",
    op_ids="beyond-reference per-node LOCAL clustering coefficient "
    "cc(v) = 2*T(v)/(deg(v)*(deg(v)-1)) — the [0,1] neighborhood-"
    "density field that makes triangle counts comparable across "
    "nodes (assortativity is the one-scalar graph summary; this is "
    "its per-node refinement: cluster cores ~1, bridges ~0); "
    "inherits the O(m^1.5) degree-ordered wedge scheme, one exact "
    "integer division per node, degree<2 explicit NULL",
    description="per-supplier local clustering coefficient on the "
    "co-supply graph (> 1.1x mean shared parts): degree, triangle "
    "count, coefficient",
    oracle=f"""
        WITH {_COSUPPLY_EDGES_SQL},
        deg AS (
            SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
                SELECT a AS node FROM edges
                UNION ALL SELECT b FROM edges
            ) GROUP BY node
        ),
        {_COSUPPLY_TRI_CTE},
        tcount AS (
            SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
            FROM (SELECT x AS node FROM tri UNION ALL
                  SELECT y FROM tri UNION ALL
                  SELECT z FROM tri)
            GROUP BY node
        )
        SELECT d.node, d.degree,
               CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles,
               CASE WHEN d.degree < 2 THEN CAST(NULL AS DOUBLE)
                    ELSE CAST(2 * COALESCE(t.n_triangles, 0) AS DOUBLE)
                         / CAST(d.degree * (d.degree - 1) AS DOUBLE)
               END AS clustering_coeff
        FROM deg d LEFT JOIN tcount t USING (node)
    """,
)
def cosupply_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.graph import _coefficients

    return _coefficients(_cosupply_edges(spark, sf_dir))


@register(
    "triangle_cosupply",
    op_ids="beyond-reference distributed triangle counting (degree-ordered "
    "orientation — Suri-Vassilvitskii wedge scheme, O(m^1.5) shuffle bound)",
    description="suppliers co-supplying the same part above 1.1x the mean "
    "shared-part count form an undirected graph; per-supplier triangle "
    "participation counts — the clustering-coefficient / community-density "
    "primitive",
    oracle=f"""
        WITH {_COSUPPLY_EDGES_SQL},
        {_COSUPPLY_TRI_CTE}
        SELECT node, COUNT(*) AS n_triangles
        FROM (SELECT x AS node FROM tri UNION ALL
              SELECT y FROM tri UNION ALL
              SELECT z FROM tri)
        GROUP BY node
    """,
)
def triangle_cosupply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.graph import _deg_tri

    return _deg_tri(_cosupply_edges(spark, sf_dir))[1]


@register(
    "bfs_trade_hops",
    op_ids="beyond-reference bounded multi-hop reachability (frontier BFS: "
    "per-level broadcast join + anti-join, min-hop semantics)",
    description="directed nation trade graph (customer nation -> supplier "
    "nation, edges above 1.1x mean lineitem weight); minimum hop distance "
    "from nation 0 within 4 hops",
    oracle=f"""
        WITH RECURSIVE w AS (
            {_NATION_TRADE_SQL}
        ),
        edges AS (
            SELECT src, dst FROM w
            WHERE CAST(weight AS DOUBLE) >
                  1.1 * (SELECT CAST(SUM(weight) AS DOUBLE) / COUNT(*) FROM w)
        ),
        reach(node, hop) AS (
            SELECT CAST(0 AS INTEGER), 0
            UNION
            SELECT e.dst, r.hop + 1
            FROM reach r JOIN edges e ON e.src = r.node
            WHERE r.hop < 4
        )
        SELECT node, MIN(hop) AS hop FROM reach GROUP BY node
    """,
)
def bfs_trade_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.graph import bfs_hops

    nation, customer, supplier, orders, lineitem = load(
        spark, sf_dir, "nation", "customer", "supplier", "orders", "lineitem"
    )
    w = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("weight"))
    )
    mean_w = w.agg(
        (F.sum("weight").cast("double") / F.count(F.lit(1))).alias("m")
    )
    edges = (
        w.join(F.broadcast(mean_w))
        .filter(F.col("weight").cast("double") > 1.1 * F.col("m"))
        .select("src", "dst")
    )
    seeds = nation.select(F.col("n_nationkey").alias("node")).filter(
        F.col("node") == 0
    )
    return bfs_hops(edges, seeds, max_hops=4)


_REACH_RECURSIVE_SQL = """
    WITH RECURSIVE {extra}reach(node, hop) AS (
        SELECT CAST(0 AS BIGINT), 0
        UNION ALL
        SELECT e.dst, r.hop + 1
        FROM reach r JOIN {edges} e ON e.src = r.node
        WHERE r.hop < 4
    )
    SELECT node, MIN(hop) AS hop FROM reach GROUP BY node
"""

_REACH_EDGES_SQL = """
    WITH w AS (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*) AS weight
        FROM {lineitem} l
        JOIN {orders} o ON l.l_orderkey = o.o_orderkey
        JOIN {customer} c ON o.o_custkey = c.c_custkey
        JOIN {supplier} s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2
    )
    SELECT src, dst FROM w
    WHERE CAST(weight AS DOUBLE) >
          1.1 * (SELECT CAST(SUM(weight) AS DOUBLE) / COUNT(*) FROM w)
"""


@register(
    "recursive_cte_reachability",
    op_ids="§2 SQL surface: WITH RECURSIVE (Spark 4 recursive CTE) — "
    "the iterative bfs_trade_hops computed as one declarative SQL "
    "recursion, letting the engine drive the fixpoint loop",
    description="minimum hop distance from nation 0 over the directed "
    "trade graph via a recursive CTE: UNION ALL walk enumeration "
    "bounded at 4 hops, MIN(hop) collapse — the same recursion text "
    "runs on both engines (the walk count is bounded by out-degree^4, "
    "so the hop guard, not dedup, terminates). The edge list is "
    "materialized ONCE before the recursion: Spark inlines CTEs, so a "
    "recursive reference to an unmaterialized edge pipeline would "
    "re-derive the 4-table join every iteration (measured 2x at "
    "sf0.1) — persist the iteration-invariant subplan, recurse over "
    "the small result",
    oracle=_REACH_RECURSIVE_SQL.format(
        extra="edge_m AS ("
        + _REACH_EDGES_SQL.format(
            lineitem="lineitem",
            orders="orders",
            customer="customer",
            supplier="supplier",
        )
        + "), ",
        edges="edge_m",
    ),
)
def recursive_cte_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, orders, customer, supplier = load(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier"
    )
    lineitem.createOrReplaceTempView("v_rc_lineitem")
    orders.createOrReplaceTempView("v_rc_orders")
    customer.createOrReplaceTempView("v_rc_customer")
    supplier.createOrReplaceTempView("v_rc_supplier")
    # localCheckpoint, not persist: the recursion's UnionLoop replans
    # its step plan each iteration and does NOT consult the cache
    # manager, so a persisted view still inlines the whole 4-table
    # edge pipeline per hop (measured 2x the iterative BFS at sf0.1).
    # Checkpointing truncates the lineage — the loop body scans the
    # materialized nation-level edge list (dimension-scale) instead.
    edges = checkpoint(
        spark.sql(
            _REACH_EDGES_SQL.format(
                lineitem="v_rc_lineitem",
                orders="v_rc_orders",
                customer="v_rc_customer",
                supplier="v_rc_supplier",
            )
        )
    )
    edges.createOrReplaceTempView("v_rc_edges")
    return spark.sql(_REACH_RECURSIVE_SQL.format(extra="", edges="v_rc_edges"))


@register(
    "customer_price_trend",
    op_ids="beyond-reference per-group OLS trend (regr_slope shape on "
    "exact integer sufficient statistics: one keyed shuffle with "
    "map-side partial sums, closed-form per-group arithmetic — "
    "summation-order independent, unlike Spark's double-accumulator "
    "regr_slope)",
    description="per-customer OLS slope/intercept of order price "
    "(cents) over order date (epoch days): the 'is this entity's "
    "spend trending up' fit, exact across engines",
    oracle=f"""
        WITH pts AS (
            SELECT o_custkey,
                   epoch_us(o_orderdate) // 86400000000 AS x,
                   CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS y
            FROM orders
        ),
        stats AS (
            SELECT o_custkey,
                   {_OLS_SUMS_SQL}
            FROM pts GROUP BY o_custkey
        )
        SELECT o_custkey, n, {_ols_fit_sql("slope", "intercept")}
        FROM stats
    """,
)
def customer_price_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.regression import grouped_ols

    (orders,) = load(spark, sf_dir, "orders")
    pts = orders.select(
        "o_custkey",
        # integer `div`, not `/`: double division rounds the quotient
        # before the cast truncates it, which can land on the next day
        F.expr("unix_micros(o_orderdate) div 86400000000").alias("_x"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("_y"),
    )
    return grouped_ols(pts, "o_custkey", "_x", "_y")


@register(
    "rfm_customer_segments",
    op_ids="beyond-reference RFM segmentation (per-customer aggregate "
    "+ three scale-safe two-level-rank NTILE passes; exact integer "
    "cents make ranking ties engine-stable)",
    description="recency/frequency/monetary quintiles per customer "
    "with the combined rfm_code — the classic campaign/churn mart "
    "segmentation",
    oracle="""
        WITH per AS (
            SELECT o_custkey,
                   CAST(MAX(CAST(o_orderdate AS DATE)) AS DATE) AS last_d,
                   CAST(COUNT(*) AS BIGINT) AS frequency,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                        AS BIGINT) AS cents
            FROM orders GROUP BY o_custkey
        ),
        cm AS (SELECT CAST(MAX(CAST(o_orderdate AS DATE)) AS DATE) AS cmax
               FROM orders),
        feats AS (
            SELECT o_custkey,
                   CAST(date_diff('day', last_d, cmax) AS BIGINT)
                       AS recency_days,
                   frequency, cents
            FROM per, cm
        ),
        scored AS (
            SELECT o_custkey, recency_days, frequency, cents,
                   NTILE(5) OVER (ORDER BY recency_days ASC, o_custkey ASC)
                       AS r_tile,
                   NTILE(5) OVER (ORDER BY frequency ASC, o_custkey ASC)
                       AS f_tile,
                   NTILE(5) OVER (ORDER BY cents ASC, o_custkey ASC)
                       AS m_tile
            FROM feats
        )
        SELECT o_custkey, recency_days, frequency,
               CAST(cents AS DOUBLE) / 100.0 AS monetary,
               CAST(r_tile AS INT) AS r_tile,
               CAST(f_tile AS INT) AS f_tile,
               CAST(m_tile AS INT) AS m_tile,
               CAST(r_tile * 100 + f_tile * 10 + m_tile AS INT) AS rfm_code
        FROM scored
    """,
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.mart import rfm_segments

    (orders,) = load(spark, sf_dir, "orders")
    return rfm_segments(orders)


@register(
    "km_order_gap_survival",
    op_ids="beyond-reference Kaplan-Meier survival (right-censored "
    "inter-order gaps; per-customer lead window -> distinct-duration "
    "reduction; every KM window runs over the dimension-scale "
    "distinct-durations relation)",
    description="survival curve of days-between-orders: completed "
    "gaps are events, the tail gap to the corpus max date is "
    "censored; emits log S(t) as a decimal-summed chain of "
    "6dp-rounded ln factors",
    oracle="""
        WITH cm AS (SELECT CAST(MAX(CAST(o_orderdate AS DATE)) AS DATE) AS cmax
                    FROM orders),
        seq AS (
            SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
                   LEAD(CAST(o_orderdate AS DATE)) OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey) AS nxt
            FROM orders
        ),
        spells AS (
            SELECT CAST(date_diff('day', d, COALESCE(nxt, cmax)) AS BIGINT)
                       AS duration,
                   CASE WHEN nxt IS NULL THEN 0 ELSE 1 END AS observed
            FROM seq, cm
        ),
        per_t AS (
            SELECT duration, COUNT(*) AS m,
                   SUM(observed) AS n_events,
                   SUM(1 - observed) AS n_censored
            FROM spells GROUP BY duration
        ),
        stepped AS (
            SELECT duration,
                   CAST(SUM(m) OVER (ORDER BY duration
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                        AS BIGINT) AS n_at_risk,
                   CAST(n_events AS BIGINT) AS n_events,
                   CAST(n_censored AS BIGINT) AS n_censored
            FROM per_t
        ),
        factored AS (
            SELECT *,
                   CASE WHEN n_events = n_at_risk OR n_events = 0
                        THEN CAST(0 AS DECIMAL(12,6))
                        ELSE CAST(ROUND(ln(1.0 - n_events
                                           / CAST(n_at_risk AS DOUBLE)), 6)
                                  AS DECIMAL(12,6)) END AS factor,
                   CASE WHEN n_events = n_at_risk THEN 1 ELSE 0 END AS dies
            FROM stepped
        )
        SELECT duration, n_at_risk, n_events, n_censored,
               CASE WHEN MAX(dies) OVER (ORDER BY duration
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
                    THEN NULL
                    ELSE CAST(SUM(factor) OVER (ORDER BY duration
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS DOUBLE) END AS log_survival
        FROM factored
    """,
)
def km_order_gap_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load(spark, sf_dir, "orders")
    spells = _order_gap_spells(orders, orders, "o_custkey")
    return timeseries.km_survival(spells)


def _order_gap_spells(src: DataFrame, orders: DataFrame, key: str) -> DataFrame:
    """Per order of ``src``: the ``duration`` in days to the customer's
    next order, ``observed`` 0 when the spell is censored at the
    corpus's last order date, and the ``key`` column."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = src.select(
        key,
        F.col("o_orderdate").cast("date").alias("d"),
        F.lead(F.col("o_orderdate").cast("date")).over(w).alias("nxt"),
    )
    cm = orders.agg(F.max(F.col("o_orderdate").cast("date")).alias("cmax"))
    # one pass, no union: the censored tail spell is just
    # coalesce(next_order, corpus_max) — evaluating `seq` once
    return seq.crossJoin(F.broadcast(cm)).select(
        F.datediff(F.coalesce("nxt", "cmax"), "d").cast("long").alias("duration"),
        F.col("nxt").isNotNull().cast("int").alias("observed"),
        key,
    )


@register(
    "association_rules_lift",
    op_ids="beyond-reference association-rule mining (support / "
    "directional confidence / lift over the bounded-fan-out pair "
    "join; exact-integer ratios, broadcast item counts and 1-row "
    "basket total)",
    description="top-30 part pairs by lift with support and both "
    "confidences — the counts-to-recommendation step after "
    "co-occurrence mining",
    oracle="""
        WITH items AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
                       FROM lineitem),
        ic AS (SELECT i, COUNT(*) AS n_item FROM items GROUP BY i),
        tot AS (SELECT COUNT(DISTINCT g) AS n_groups FROM items),
        pairs AS (
            SELECT a.i AS item_a, b.i AS item_b, COUNT(*) AS n_ab
            FROM items a JOIN items b ON a.g = b.g AND a.i < b.i
            GROUP BY 1, 2 HAVING COUNT(*) >= 3
        )
        SELECT item_a, item_b, CAST(n_ab AS BIGINT) AS n_ab,
               CAST(na.n_item AS BIGINT) AS n_a,
               CAST(nb.n_item AS BIGINT) AS n_b,
               n_ab / CAST(tot.n_groups AS DOUBLE) AS support,
               n_ab / CAST(na.n_item AS DOUBLE) AS conf_a_to_b,
               n_ab / CAST(nb.n_item AS DOUBLE) AS conf_b_to_a,
               CAST(n_ab AS DOUBLE) * tot.n_groups
                   / CAST(na.n_item * nb.n_item AS DOUBLE) AS lift
        FROM pairs
        JOIN ic na ON na.i = item_a
        JOIN ic nb ON nb.i = item_b
        CROSS JOIN tot
        ORDER BY lift DESC, item_a ASC, item_b ASC
        LIMIT 30
    """,
)
def association_rules_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators import graph

    (lineitem,) = load(spark, sf_dir, "lineitem")
    return graph.association_rules(
        lineitem, group_col="l_orderkey", item_col="l_partkey",
        min_pair_count=3,
    )


# order prices in cents, ranked within each priority (ties by key)
_PRICE_RANKED_CTE = """ranked AS (
        SELECT o_orderpriority,
               CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
               ROW_NUMBER() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY CAST(ROUND(o_totalprice * 100, 0) AS BIGINT),
                            o_orderkey) AS rn,
               COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM orders
    )"""


def _price_ranked(orders: DataFrame) -> DataFrame:
    """Spark twin of ``_PRICE_RANKED_CTE``: each order's price in
    cents with its row number ``rn`` (by cents, then key) and the row
    count ``n`` of its priority."""
    from pyspark.sql.window import Window

    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("cents"), F.col("o_orderkey")
    )
    wn = Window.partitionBy("o_orderpriority")
    return orders.select(
        "o_orderpriority", cents.alias("cents"), "o_orderkey"
    ).select(
        "o_orderpriority",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )


@register(
    "winsorized_mean_revenue",
    op_ids="beyond-reference robust aggregate (rank-based winsorized "
    "mean: CLAMP floor(5%) rows per tail to the boundary rank's value "
    "instead of dropping them — trimmed_mean_revenue's twin that "
    "keeps n constant, the robust center preferred when downstream "
    "weights depend on counts); boundary values read as conditional "
    "MIN/MAX aggregates off the same exact integer rank, winsorized "
    "sum assembled from integers, ONE double division at the edge",
    description="per-priority 5%-winsorized mean order price: tails "
    "clamped to the p5/p95 rank values, n_orders unchanged — with "
    "the clamp bounds reported",
    oracle=f"""
        WITH {_PRICE_RANKED_CTE},
        agg AS (
            SELECT o_orderpriority,
                   CAST(MAX(n) AS BIGINT) AS n_orders,
                   CAST(MAX(n) // 20 AS BIGINT) AS k,
                   CAST(MIN(CASE WHEN rn > n // 20 THEN cents END)
                        AS BIGINT) AS lo_cents,
                   CAST(MAX(CASE WHEN rn <= n - n // 20 THEN cents END)
                        AS BIGINT) AS hi_cents,
                   CAST(SUM(CASE WHEN rn > n // 20 AND rn <= n - n // 20
                                 THEN cents ELSE 0 END) AS BIGINT)
                       AS kept_sum
            FROM ranked GROUP BY o_orderpriority
        )
        SELECT o_orderpriority, n_orders,
               CAST(lo_cents AS DOUBLE) / 100.0 AS lo_clamp,
               CAST(hi_cents AS DOUBLE) / 100.0 AS hi_clamp,
               CAST(kept_sum + k * lo_cents + k * hi_cents AS DOUBLE)
                   / CAST(n_orders AS DOUBLE) / 100.0
                   AS winsorized_mean_price
        FROM agg
    """,
)
def winsorized_mean_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load(spark, sf_dir, "orders")
    ranked = _price_ranked(orders)
    k = F.floor(F.col("n") / 20)
    agg = ranked.groupBy("o_orderpriority").agg(
        F.max("n").cast("long").alias("n_orders"),
        F.floor(F.max("n") / 20).cast("long").alias("k"),
        F.min(F.when(F.col("rn") > k, F.col("cents")))
        .cast("long")
        .alias("lo_cents"),
        F.max(F.when(F.col("rn") <= F.col("n") - k, F.col("cents")))
        .cast("long")
        .alias("hi_cents"),
        F.sum(
            F.when(
                (F.col("rn") > k) & (F.col("rn") <= F.col("n") - k),
                F.col("cents"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("kept_sum"),
    )
    return agg.select(
        "o_orderpriority",
        "n_orders",
        F.expr("CAST(lo_cents AS DOUBLE) / 100.0").alias("lo_clamp"),
        F.expr("CAST(hi_cents AS DOUBLE) / 100.0").alias("hi_clamp"),
        F.expr(
            "CAST(kept_sum + k * lo_cents + k * hi_cents AS DOUBLE)"
            " / CAST(n_orders AS DOUBLE) / 100.0"
        ).alias("winsorized_mean_price"),
    )


@register(
    "trimmed_mean_revenue",
    op_ids="beyond-reference robust aggregate (rank-based trimmed "
    "mean: drop floor(5%) rows per tail by exact integer rank, "
    "decimal-exact mean of the rest — fully integer-deterministic, "
    "no interpolated percentile boundary to drift cross-engine)",
    description="per-priority 5%-trimmed mean order price: the "
    "outlier-robust revenue center a dashboard should quote when "
    "whale orders distort the plain mean",
    oracle=f"""
        WITH {_PRICE_RANKED_CTE}
        SELECT o_orderpriority,
               CAST(MAX(n) AS BIGINT) AS n_orders,
               CAST(COUNT(*) AS BIGINT) AS n_kept,
               CAST(SUM(cents) AS DOUBLE) / COUNT(*) / 100.0
                   AS trimmed_mean_price
        FROM ranked
        WHERE rn > n // 20 AND rn <= n - n // 20
        GROUP BY o_orderpriority
    """,
)
def trimmed_mean_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load(spark, sf_dir, "orders")
    ranked = _price_ranked(orders)
    kept = ranked.filter(
        (F.col("rn") > F.expr("n div 20")) & (F.col("rn") <= F.col("n") - F.expr("n div 20"))
    )
    return kept.groupBy("o_orderpriority").agg(
        F.max("n").cast("long").alias("n_orders"),
        F.count(F.lit(1)).alias("n_kept"),
        (
            F.sum("cents").cast("double") / F.count(F.lit(1)) / F.lit(100.0)
        ).alias("trimmed_mean_price"),
    )


@register(
    "window_funnel_levels",
    op_ids="beyond-reference windowed ordered funnel (ClickHouse "
    "windowFunnel shape: deepest strictly-ordered step chain within "
    "a time window of the anchor event; greedy-earliest hop keeps "
    "per-(user, anchor) state bounded)",
    description="view -> click -> purchase completed within 6 hours "
    "of the anchoring view: users counted at their deepest level — "
    "the time-bounded conversion metric the unbounded funnel "
    "overstates",
    oracle="""
        WITH s1 AS (SELECT user_id, ts AS t1 FROM events
                    WHERE event_type = 'view'),
        s2 AS (
            SELECT s1.user_id, s1.t1, MIN(e.ts) AS t2
            FROM s1 JOIN events e
              ON e.user_id = s1.user_id AND e.event_type = 'click'
             AND e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL 6 HOUR
            GROUP BY 1, 2
        ),
        s3 AS (
            SELECT s2.user_id, MIN(e.ts) AS t3
            FROM s2 JOIN events e
              ON e.user_id = s2.user_id AND e.event_type = 'purchase'
             AND e.ts > s2.t2 AND e.ts <= s2.t1 + INTERVAL 6 HOUR
            GROUP BY 1
        ),
        lv AS (
            SELECT user_id,
                   CASE WHEN user_id IN (SELECT user_id FROM s3) THEN 3
                        WHEN user_id IN (SELECT user_id FROM s2) THEN 2
                        ELSE 1 END AS funnel_level
            FROM (SELECT DISTINCT user_id FROM s1)
        )
        SELECT funnel_level, CAST(COUNT(*) AS BIGINT) AS n_users
        FROM lv GROUP BY funnel_level
    """,
)
def window_funnel_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.sessions import window_funnel

    (events,) = load(spark, sf_dir, "events")
    lv = window_funnel(events, window_seconds=6 * 3600)
    return lv.groupBy("funnel_level").agg(F.count(F.lit(1)).alias("n_users"))


@register(
    "ewma_monthly_spend",
    op_ids="beyond-reference recursive time-series smoothing (per-key "
    "EWMA via applyInPandas — the unbounded-depth recursion SQL "
    "windows cannot express; Arrow-batched, linear per group)",
    description="exponentially weighted moving average of each "
    "customer's monthly spend, seeded at the first month "
    "(ewm(adjust=False) semantics) — anomaly baselines / trend "
    "smoothing; left-to-right IEEE recursion is engine-exact with no "
    "rounding needed",
    oracle="""
        WITH m AS (
            SELECT o_custkey,
                   CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       AS spend
            FROM orders GROUP BY 1, 2
        ),
        p AS (
            SELECT o_custkey, month, spend,
                   list(spend) OVER (
                       PARTITION BY o_custkey ORDER BY month
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS pre
            FROM m
        )
        SELECT o_custkey, month, spend,
               list_reduce(pre, (acc, x) -> 0.5 * x + 0.5 * acc) AS ewma_spend
        FROM p
    """,
)
def ewma_monthly_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        "o_custkey",
        F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
    ).agg(F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("spend"))
    return timeseries.ewma(monthly, "o_custkey", "month", "spend", out_col="ewma_spend")


@register(
    "holt_monthly_spend",
    op_ids="beyond-reference two-state recursive smoothing (Holt "
    "level+trend — the EWMA extension that keeps up with trending "
    "series; unbounded-depth recursion SQL windows cannot express): "
    "bucketed applyInPandas with an explicit per-key numpy loop, "
    "bit-reproducible vs a RECURSIVE-CTE oracle stepping rank t->t+1 "
    "with identical double expressions (DuckDB's list_reduce struct "
    "fold REJECTED — its in-place accumulator corrupts multi-field "
    "recursions); FP-exact alpha=0.5/beta=0.25",
    description="Holt linear smoothing of each customer's monthly "
    "spend: running level, trend, and one-step forecast per month",
    oracle="""
        WITH RECURSIVE m AS (
            SELECT o_custkey,
                   CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       AS spend,
                   ROW_NUMBER() OVER (
                       PARTITION BY o_custkey
                       ORDER BY CAST(date_trunc('month', o_orderdate) AS DATE)
                   ) AS rn
            FROM orders GROUP BY 1, 2
        ),
        h AS (
            SELECT o_custkey, rn, month, spend,
                   spend AS l, CAST(0 AS DOUBLE) AS b
            FROM m WHERE rn = 1
            UNION ALL
            SELECT m.o_custkey, m.rn, m.month, m.spend,
                   0.5 * m.spend + 0.5 * (h.l + h.b) AS l,
                   0.25 * ((0.5 * m.spend + 0.5 * (h.l + h.b)) - h.l)
                       + 0.75 * h.b AS b
            FROM h JOIN m ON m.o_custkey = h.o_custkey AND m.rn = h.rn + 1
        )
        SELECT o_custkey, month, spend,
               l AS holt_level, b AS holt_trend, l + b AS holt_forecast
        FROM h
    """,
)
def holt_monthly_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        "o_custkey",
        F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
    ).agg(F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("spend"))
    return timeseries.holt_linear(monthly, "o_custkey", "spend")


@register(
    "value_mad_by_type",
    op_ids="beyond-reference robust dispersion via GROUPED_AGG pandas "
    "UDF (the vectorized-UDAF API surface: per-group Arrow batch, "
    "one keyed pass — completing scalar/grouped-map/map-iter Python "
    "coverage)",
    description="median absolute deviation of event value per event "
    "type — the robust outlier gauge; exact interpolated-median "
    "semantics matching DuckDB's mad() bit-for-bit",
    oracle="""
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               mad(value) AS mad
        FROM events GROUP BY event_type
    """,
)
def value_mad_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.regression import mad_by_group

    (events,) = load(spark, sf_dir, "events")
    return mad_by_group(events, "event_type", "value")


@register(
    "order_value_moments",
    op_ids="beyond-reference reproducible distributed statistics: "
    "mean/variance/skewness from exact integer-cents power sums "
    "(order-free decimal accumulation, ONE fixed double expression "
    "at the end; sqrt not pow for the 1.5 power — builtin skewness() "
    "is summation-order dependent and engine-divergent)",
    description="per order priority: population mean, variance, and "
    "skewness of order value, bit-identical across engines because "
    "every accumulation is exact and the float math is one fixed "
    "expression",
    oracle="""
        WITH c AS (
            SELECT o_orderpriority,
                   CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT)
                       AS cents
            FROM orders
        ),
        s AS (
            SELECT o_orderpriority,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(cents) AS s1,
                   SUM(cents * cents) AS s2,
                   SUM(cents * cents * cents) AS s3
            FROM c GROUP BY o_orderpriority
        )
        SELECT o_orderpriority, n,
               (CAST(s1 AS DOUBLE) / n) / 100.0 AS mean,
               (CAST(s2 AS DOUBLE) / n
                - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
               / (100.0 * 100.0) AS var_pop,
               CASE WHEN (CAST(s2 AS DOUBLE) / n
                          - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
                         <= 0.0 THEN 0.0
                    ELSE (CAST(s3 AS DOUBLE) / n
                          - 3.0 * (CAST(s1 AS DOUBLE) / n)
                                * (CAST(s2 AS DOUBLE) / n)
                          + 2.0 * (CAST(s1 AS DOUBLE) / n)
                                * (CAST(s1 AS DOUBLE) / n)
                                * (CAST(s1 AS DOUBLE) / n))
                         / ((CAST(s2 AS DOUBLE) / n
                             - (CAST(s1 AS DOUBLE) / n)
                               * (CAST(s1 AS DOUBLE) / n))
                            * sqrt(CAST(s2 AS DOUBLE) / n
                                   - (CAST(s1 AS DOUBLE) / n)
                                     * (CAST(s1 AS DOUBLE) / n)))
               END AS skewness
        FROM s
    """,
)
def order_value_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.regression import grouped_moments

    (orders,) = load(spark, sf_dir, "orders")
    return grouped_moments(orders, "o_orderpriority", "o_totalprice")


@register(
    "weighted_median_price",
    op_ids="beyond-reference exact weighted median (lower median at "
    "2*cum >= W — integer-exact threshold, one keyed cumulative "
    "window + one keyed min-agg; the robust center for rows of "
    "unequal importance)",
    description="quantity-weighted median extended price per return "
    "flag: half the shipped quantity lies at or below it",
    oracle="""
        WITH cum AS (
            SELECT l_returnflag, l_extendedprice,
                   SUM(CAST(l_quantity AS BIGINT)) OVER (
                       PARTITION BY l_returnflag
                       ORDER BY l_extendedprice, l_orderkey, l_linenumber
                       ROWS UNBOUNDED PRECEDING
                   ) AS cw,
                   SUM(CAST(l_quantity AS BIGINT)) OVER (
                       PARTITION BY l_returnflag
                   ) AS tw
            FROM lineitem
        )
        SELECT l_returnflag,
               MIN(l_extendedprice) AS weighted_median,
               CAST(MAX(tw) AS BIGINT) AS total_weight
        FROM cum WHERE 2 * cw >= tw
        GROUP BY l_returnflag
    """,
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.regression import weighted_median

    (lineitem,) = load(spark, sf_dir, "lineitem")
    return weighted_median(
        lineitem,
        "l_returnflag",
        "l_extendedprice",
        "l_quantity",
        id_cols=["l_orderkey", "l_linenumber"],
    )


@register(
    "monthly_revenue_growth",
    op_ids="§2.6 period-over-period windows: LAG(1)/LAG(12) over the "
    "monthly rollup — MoM and YoY growth on the bounded month "
    "relation (the row-scale work is one keyed aggregate; the lag "
    "window runs over ~84 month rows)",
    description="monthly revenue with month-over-month and "
    "year-over-year percentage change (exact decimal revenue, one "
    "fixed-order double ratio; NULL where no prior period exists)",
    oracle="""
        WITH m AS (
            SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       AS revenue
            FROM orders GROUP BY 1
        )
        SELECT month, revenue,
               (revenue - LAG(revenue, 1) OVER (ORDER BY month))
                   / LAG(revenue, 1) OVER (ORDER BY month) AS mom_growth,
               (revenue - LAG(revenue, 12) OVER (ORDER BY month))
                   / LAG(revenue, 12) OVER (ORDER BY month) AS yoy_growth
        FROM m
    """,
)
def monthly_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    (orders,) = load(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("revenue"))
    # the month relation is bounded (~84 rows for 7 years) — the
    # unpartitioned lag window is correct by construction here
    w = Window.orderBy("month")
    mom = (F.col("revenue") - F.lag("revenue", 1).over(w)) / F.lag(
        "revenue", 1
    ).over(w)
    yoy = (F.col("revenue") - F.lag("revenue", 12).over(w)) / F.lag(
        "revenue", 12
    ).over(w)
    return monthly.select(
        "month", "revenue", mom.alias("mom_growth"), yoy.alias("yoy_growth")
    )


@register(
    "cumulative_new_users",
    op_ids="beyond-reference cumulative-unique growth curve: first-seen "
    "reduction (keyed min aggregate — the row-scale work) then a "
    "cumulative sum over the bounded month relation; never a "
    "cumulative DISTINCT over raw events",
    description="per month: first-time event users and the running "
    "total of distinct users ever seen — the audience growth curve, "
    "computed from the per-user first month",
    oracle="""
        WITH firsts AS (
            SELECT user_id,
                   MIN(CAST(date_trunc('month', ts) AS DATE)) AS first_month
            FROM events GROUP BY user_id
        ),
        per AS (
            SELECT first_month AS month, CAST(COUNT(*) AS BIGINT) AS new_users
            FROM firsts GROUP BY first_month
        )
        SELECT month, new_users,
               CAST(SUM(new_users) OVER (
                   ORDER BY month ROWS UNBOUNDED PRECEDING
               ) AS BIGINT) AS cumulative_users
        FROM per
    """,
)
def cumulative_new_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    (events,) = load(spark, sf_dir, "events")
    firsts = events.groupBy("user_id").agg(
        F.min(F.date_trunc("month", "ts").cast("date")).alias("first_month")
    )
    per = firsts.groupBy(F.col("first_month").alias("month")).agg(
        F.count(F.lit(1)).cast("long").alias("new_users")
    )
    # bounded month relation — unpartitioned cumsum is correct here
    w = Window.orderBy("month").rowsBetween(Window.unboundedPreceding, 0)
    return per.select(
        "month",
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cumulative_users"),
    )


# 1-based ranks of the order statistics bracketing quantile p of c
# values and the interpolation fraction (percentile_cont)
_INTERP_RANKS_SQL = """CAST(floor((c - 1) * p) AS BIGINT) + 1 AS klo,
       LEAST(CAST(floor((c - 1) * p) AS BIGINT) + 2, c) AS khi,
       (c - 1) * p - floor((c - 1) * p) AS f"""


@register(
    "hybrid_exact_quantiles",
    op_ids="beyond-reference EXACT global percentile_cont at scale "
    "(operators/quantiles.py): GK-sketch bracket (deterministic rank "
    "bound) -> strictly-below offset count -> band-partitioned window "
    "refine; 3 scans, no global sort, no collect — the 100TB-exact "
    "path the sort-based per-group percentile cannot take",
    description="exact interpolated p50/p90/p99 of lineitem extended "
    "price via sketch-bracketed band selection (bit-equal to a full "
    "sort's percentile_cont)",
    oracle=f"""
        WITH n AS (SELECT COUNT(*) AS c FROM lineitem),
        params AS (SELECT CAST(p AS DOUBLE) AS p
                   FROM (VALUES (0.5), (0.9), (0.99)) t(p)),
        k AS (
            SELECT p,
                   {_INTERP_RANKS_SQL}
            FROM params, n
        ),
        o AS (SELECT l_extendedprice AS v,
                     ROW_NUMBER() OVER (ORDER BY l_extendedprice) AS rn
              FROM lineitem),
        sel AS (
            SELECT k.p, k.f,
                   MAX(CASE WHEN o.rn = k.klo THEN o.v END) AS lo,
                   MAX(CASE WHEN o.rn = k.khi THEN o.v END) AS hi
            FROM k JOIN o ON o.rn IN (k.klo, k.khi)
            GROUP BY k.p, k.f
        )
        SELECT p, lo + (hi - lo) * f AS quantile FROM sel
    """,
)
def hybrid_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.quantiles import exact_quantiles

    (lineitem,) = load(spark, sf_dir, "lineitem")
    return exact_quantiles(lineitem, "l_extendedprice", [0.5, 0.9, 0.99])


@register(
    "ab_value_ztest",
    op_ids="beyond-reference experimentation analytics "
    "(operators/regression.py:welch_ab_stats): deterministic hash "
    "split -> Welch two-sample z from exact decimal power sums — "
    "bit-stable across engines because every accumulation is exact "
    "and the statistic is ONE fixed-order expression in the scaled "
    "integer domain",
    description="A/B split of event values by md5(user_id) with "
    "per-variant counts, means, and the Welch z-score",
    oracle="""
        WITH v AS (
            SELECT CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1)
                             IN ('0','1','2','3','4','5','6','7')
                        THEN 'A' ELSE 'B' END AS variant,
                   CAST(CAST(value AS DECIMAL(18,2)) * 100 AS HUGEINT) AS cents
            FROM events
        ),
        s AS (
            SELECT
                CAST(SUM(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                CAST(SUM(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                SUM(CASE WHEN variant = 'A' THEN cents END) AS s1a,
                SUM(CASE WHEN variant = 'A' THEN cents * cents END) AS s2a,
                SUM(CASE WHEN variant = 'B' THEN cents END) AS s1b,
                SUM(CASE WHEN variant = 'B' THEN cents * cents END) AS s2b
            FROM v
        )
        SELECT n_a, n_b,
               (CAST(s1a AS DOUBLE) / n_a) / 100.0 AS mean_a,
               (CAST(s1b AS DOUBLE) / n_b) / 100.0 AS mean_b,
               (CAST(s1a AS DOUBLE) / n_a - CAST(s1b AS DOUBLE) / n_b)
               / sqrt((CAST(s2a AS DOUBLE) / n_a
                       - (CAST(s1a AS DOUBLE) / n_a)
                         * (CAST(s1a AS DOUBLE) / n_a)) / n_a
                      + (CAST(s2b AS DOUBLE) / n_b
                         - (CAST(s1b AS DOUBLE) / n_b)
                           * (CAST(s1b AS DOUBLE) / n_b)) / n_b)
                   AS z_score
        FROM s
    """,
)
def ab_value_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.regression import welch_ab_stats

    (events,) = load(spark, sf_dir, "events")
    variant = F.when(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 1).isin(
            *"01234567"
        ),
        F.lit("A"),
    ).otherwise(F.lit("B"))
    return welch_ab_stats(events.withColumn("variant", variant))


@register(
    "cuped_adjusted_ab",
    op_ids="beyond-reference variance-reduced experimentation "
    "(CUPED, Deng et al. — what an experimentation platform actually "
    "ships on top of the Welch gate): per-user pre/post cent totals "
    "via ONE user-keyed combine, md5 content-addressed variants, "
    "pooled theta = cov(pre,post)/var(pre) and both variants' "
    "adjusted means as fixed-order doubles over DECIMAL(38,0) moment "
    "sums; var_reduction = squared pre/post correlation; zero "
    "pre-variance -> explicit NULLs",
    description="CUPED-adjusted A/B comparison of per-user post-"
    "period event spend (split 2024-01-16, pre-period as covariate): "
    "variant sizes, raw and adjusted means, theta, variance "
    "reduction, adjusted diff",
    oracle="""
        WITH pu AS (
            SELECT user_id AS u,
                   CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                                 THEN CAST(round(value * 100) AS BIGINT)
                                 ELSE 0 END) AS BIGINT) AS x,
                   CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                                 THEN CAST(round(value * 100) AS BIGINT)
                                 ELSE 0 END) AS BIGINT) AS y
            FROM events GROUP BY 1
        ),
        v AS (
            SELECT x, y,
                   substring(md5(CAST(u AS VARCHAR)), 1, 1)
                       IN ('0','1','2','3','4','5','6','7') AS ia
            FROM pu
        ),
        m AS (
            SELECT CAST(SUM(CASE WHEN ia THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_a,
                   CAST(SUM(CASE WHEN NOT ia THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_b,
                   SUM(CASE WHEN ia THEN CAST(x AS HUGEINT) END) AS sxa,
                   SUM(CASE WHEN ia THEN CAST(y AS HUGEINT) END) AS sya,
                   SUM(CASE WHEN NOT ia THEN CAST(x AS HUGEINT) END) AS sxb,
                   SUM(CASE WHEN NOT ia THEN CAST(y AS HUGEINT) END) AS syb,
                   SUM(CAST(x AS HUGEINT) * y) AS sxy,
                   SUM(CAST(x AS HUGEINT) * x) AS sxx,
                   SUM(CAST(y AS HUGEINT) * y) AS syy
            FROM v
        )
        SELECT n_a, n_b,
               (CAST(sya AS DOUBLE) / n_a) / 100.0 AS mean_post_a,
               (CAST(syb AS DOUBLE) / n_b) / 100.0 AS mean_post_b,
               CASE WHEN (n_a + n_b) * sxx - (sxa + sxb) * (sxa + sxb) > 0
                    THEN CAST((n_a + n_b) * sxy
                              - (sxa + sxb) * (sya + syb) AS DOUBLE)
                         / CAST((n_a + n_b) * sxx
                                - (sxa + sxb) * (sxa + sxb) AS DOUBLE)
               END AS theta,
               CASE WHEN (n_a + n_b) * sxx - (sxa + sxb) * (sxa + sxb) > 0
                    THEN (CAST(sya AS DOUBLE) / n_a
                          - (CAST((n_a + n_b) * sxy
                                  - (sxa + sxb) * (sya + syb) AS DOUBLE)
                             / CAST((n_a + n_b) * sxx
                                    - (sxa + sxb) * (sxa + sxb) AS DOUBLE))
                            * (CAST(sxa AS DOUBLE) / n_a
                               - CAST(sxa + sxb AS DOUBLE)
                                 / CAST(n_a + n_b AS DOUBLE))) / 100.0
               END AS adj_mean_a,
               CASE WHEN (n_a + n_b) * sxx - (sxa + sxb) * (sxa + sxb) > 0
                    THEN (CAST(syb AS DOUBLE) / n_b
                          - (CAST((n_a + n_b) * sxy
                                  - (sxa + sxb) * (sya + syb) AS DOUBLE)
                             / CAST((n_a + n_b) * sxx
                                    - (sxa + sxb) * (sxa + sxb) AS DOUBLE))
                            * (CAST(sxb AS DOUBLE) / n_b
                               - CAST(sxa + sxb AS DOUBLE)
                                 / CAST(n_a + n_b AS DOUBLE))) / 100.0
               END AS adj_mean_b,
               CASE WHEN (n_a + n_b) * sxx - (sxa + sxb) * (sxa + sxb) > 0
                    THEN ((CAST(sya AS DOUBLE) / n_a
                           - (CAST((n_a + n_b) * sxy
                                   - (sxa + sxb) * (sya + syb) AS DOUBLE)
                              / CAST((n_a + n_b) * sxx
                                     - (sxa + sxb) * (sxa + sxb) AS DOUBLE))
                             * (CAST(sxa AS DOUBLE) / n_a
                                - CAST(sxa + sxb AS DOUBLE)
                                  / CAST(n_a + n_b AS DOUBLE)))
                          - (CAST(syb AS DOUBLE) / n_b
                             - (CAST((n_a + n_b) * sxy
                                     - (sxa + sxb) * (sya + syb) AS DOUBLE)
                                / CAST((n_a + n_b) * sxx
                                       - (sxa + sxb) * (sxa + sxb) AS DOUBLE))
                               * (CAST(sxb AS DOUBLE) / n_b
                                  - CAST(sxa + sxb AS DOUBLE)
                                    / CAST(n_a + n_b AS DOUBLE)))) / 100.0
               END AS adj_diff,
               CASE WHEN (n_a + n_b) * sxx - (sxa + sxb) * (sxa + sxb) > 0
                     AND (n_a + n_b) * syy - (sya + syb) * (sya + syb) > 0
                    THEN CAST((n_a + n_b) * sxy
                              - (sxa + sxb) * (sya + syb) AS DOUBLE)
                         * CAST((n_a + n_b) * sxy
                                - (sxa + sxb) * (sya + syb) AS DOUBLE)
                         / (CAST((n_a + n_b) * sxx
                                 - (sxa + sxb) * (sxa + sxb) AS DOUBLE)
                            * CAST((n_a + n_b) * syy
                                   - (sya + syb) * (sya + syb) AS DOUBLE))
               END AS var_reduction
        FROM m
    """,
)
def cuped_adjusted_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.regression import cuped_adjusted_ab

    (events,) = load(spark, sf_dir, "events")
    return cuped_adjusted_ab(events)


@register(
    "cusum_revenue_drift",
    op_ids="beyond-reference change detection "
    "(operators/timeseries.py:cusum_positive): one-sided CUSUM drift "
    "statistic via its closed form S_t = C_t - min(0, min_j<=t C_j) — "
    "two SQL windows replace the seemingly window-inexpressible "
    "recursion; exact integer cents end-to-end, row-scale data reduced "
    "to the bounded day grain FIRST",
    description="daily revenue CUSUM above the mean daily level — "
    "sustained-drift detection, bit-stable integer arithmetic",
    oracle="""
        WITH daily AS (
            SELECT o_orderdate AS day,
                   CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                                 AS HUGEINT)) AS BIGINT) AS cents
            FROM orders GROUP BY o_orderdate
        ),
        s AS (SELECT CAST(SUM(cents) AS BIGINT) AS tot,
                     CAST(COUNT(*) AS BIGINT) AS n FROM daily),
        c AS (
            SELECT day, cents, tot // n AS k,
                   SUM(cents - tot // n) OVER (
                       ORDER BY day ROWS UNBOUNDED PRECEDING) AS cum
            FROM daily, s
        )
        SELECT day,
               CAST(cents AS DOUBLE) / 100.0 AS revenue,
               CAST(cum - LEAST(CAST(0 AS BIGINT), MIN(cum) OVER (
                   ORDER BY day ROWS UNBOUNDED PRECEDING)) AS BIGINT)
                   AS cusum_cents
        FROM c
    """,
)
def cusum_revenue_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.timeseries import cusum_positive

    (orders,) = load(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast(DEC) * 100).cast("long")
    daily = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(cents).cast("long").alias("cents")
    )
    stats = daily.agg(
        F.sum("cents").cast("long").alias("__tot"),
        F.count(F.lit(1)).cast("long").alias("__n"),
    )
    with_k = daily.crossJoin(F.broadcast(stats)).withColumn(
        "k", F.expr("__tot div __n")
    )
    out = cusum_positive(with_k, order_col="day", value_col="cents")
    return out.select(
        "day",
        (F.col("cents").cast("double") / F.lit(100.0)).alias("revenue"),
        F.col("cusum").cast("long").alias("cusum_cents"),
    )


@register(
    "grouped_hybrid_quantiles",
    op_ids="beyond-reference grouped exact percentile_cont at scale "
    "(operators/quantiles.py, group_col form): per-group GK-sketch "
    "bracket + (group, band)-partitioned refine — per-group state is "
    "a sketch, never the group's values, so an arbitrarily large "
    "group never needs a sort buffer (the failure mode of sort-based "
    "percentile on skewed groups)",
    description="exact interpolated p50/p90 of order price per order "
    "priority via grouped sketch-bracketed band selection",
    oracle=f"""
        WITH n AS (SELECT o_orderpriority AS grp, COUNT(*) AS c
                   FROM orders GROUP BY o_orderpriority),
        params AS (SELECT CAST(p AS DOUBLE) AS p
                   FROM (VALUES (0.5), (0.9)) t(p)),
        k AS (
            SELECT grp, p,
                   {_INTERP_RANKS_SQL}
            FROM params, n
        ),
        o AS (SELECT o_orderpriority AS grp, o_totalprice AS v,
                     ROW_NUMBER() OVER (
                         PARTITION BY o_orderpriority
                         ORDER BY o_totalprice) AS rn
              FROM orders),
        sel AS (
            SELECT k.grp, k.p, k.f,
                   MAX(CASE WHEN o.rn = k.klo THEN o.v END) AS lo,
                   MAX(CASE WHEN o.rn = k.khi THEN o.v END) AS hi
            FROM k JOIN o ON o.grp = k.grp AND o.rn IN (k.klo, k.khi)
            GROUP BY k.grp, k.p, k.f
        )
        SELECT grp AS o_orderpriority, p, lo + (hi - lo) * f AS quantile
        FROM sel
    """,
)
def grouped_hybrid_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.quantiles import exact_quantiles

    (orders,) = load(spark, sf_dir, "orders")
    return exact_quantiles(
        orders, "o_totalprice", [0.5, 0.9], group_col="o_orderpriority"
    )


@register(
    "logrank_segment_gap_survival",
    op_ids="beyond-reference two-sample log-rank (Mantel-Cox) test: "
    "the hypothesis-test companion of km_order_gap_survival — O1 "
    "exact integer, expected/variance terms are per-row doubles from "
    "exact at-risk integers, 6dp-rounded and DECIMAL-summed "
    "(order-free, the km ln-factor recipe), z one fixed-order double "
    "expression; windows run over the distinct-durations grain only",
    description="do BUILDING-segment customers reorder at a "
    "different rate? log-rank z over right-censored inter-order "
    "gaps, BUILDING vs rest",
    oracle="""
        WITH cm AS (SELECT CAST(MAX(CAST(o_orderdate AS DATE)) AS DATE)
                        AS cmax FROM orders),
        seg AS (
            SELECT c_custkey,
                   CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
                       AS g1
            FROM customer
        ),
        seq AS (
            SELECT s.g1, CAST(o_orderdate AS DATE) AS d,
                   LEAD(CAST(o_orderdate AS DATE)) OVER (
                       PARTITION BY o.o_custkey
                       ORDER BY o_orderdate, o_orderkey) AS nxt
            FROM orders o JOIN seg s ON o.o_custkey = s.c_custkey
        ),
        spells AS (
            SELECT CAST(date_diff('day', d, COALESCE(nxt, cmax)) AS BIGINT)
                       AS duration,
                   CASE WHEN nxt IS NULL THEN 0 ELSE 1 END AS observed,
                   g1
            FROM seq, cm
        ),
        per_t AS (
            SELECT duration, COUNT(*) AS m, SUM(g1) AS m1,
                   SUM(observed) AS d, SUM(observed * g1) AS d1
            FROM spells GROUP BY 1
        ),
        stepped AS (
            SELECT d, d1,
                   CAST(SUM(m) OVER (ORDER BY duration
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                        AS BIGINT) AS n,
                   CAST(SUM(m1) OVER (ORDER BY duration
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                        AS BIGINT) AS n1
            FROM per_t
        ),
        terms AS (
            SELECT d, d1,
                   CAST(ROUND(d * (n1 / CAST(n AS DOUBLE)), 6)
                        AS DECIMAL(18,6)) AS e1,
                   CASE WHEN n <= 1 THEN CAST(0 AS DECIMAL(18,6))
                        ELSE CAST(ROUND(d * (n1 / CAST(n AS DOUBLE))
                                  * (1.0 - n1 / CAST(n AS DOUBLE))
                                  * ((n - d) / CAST(n - 1 AS DOUBLE)), 6)
                                  AS DECIMAL(18,6)) END AS v
            FROM stepped WHERE d > 0
        ),
        agg AS (
            SELECT CAST(SUM(d) AS BIGINT) AS d_total,
                   CAST(SUM(d1) AS BIGINT) AS o1,
                   CAST(SUM(e1) AS DECIMAL(38,6)) AS e1s,
                   CAST(SUM(v) AS DECIMAL(38,6)) AS vs
            FROM terms
        )
        SELECT d_total, o1,
               CAST(e1s AS DOUBLE) AS e1_expected,
               CAST(vs AS DOUBLE) AS v_variance,
               CASE WHEN CAST(vs AS DOUBLE) <= 0.0 THEN NULL
                    ELSE (CAST(o1 AS DOUBLE) - CAST(e1s AS DOUBLE))
                         / sqrt(CAST(vs AS DOUBLE)) END AS z_value
        FROM agg
    """,
)
def logrank_segment_gap_survival(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders, customer = load(spark, sf_dir, "orders", "customer")
    seg = customer.select(
        "c_custkey",
        (F.col("c_mktsegment") == "BUILDING").cast("int").alias("g1"),
    )
    joined = orders.join(F.broadcast(seg), orders["o_custkey"] == seg["c_custkey"])
    spells = _order_gap_spells(joined, orders, "g1")
    return timeseries.logrank_two_sample(spells)


# round 13: privacy / governance release passes
from nhl_data_warehouse_spark.operators import privacy  # noqa: E402
from nhl_data_warehouse_spark.operators.privacy import (  # noqa: E402
    laplace_noise_expr as _laplace_expr,
)


@register(
    "dp_laplace_priority_counts",
    op_ids="beyond-reference differential privacy release: Laplace "
    "mechanism on counting queries (sensitivity 1, scale 1/epsilon) "
    "with a SEEDED md5 draw — 32 uniform bits -> u=(k+0.5)/2^32 -> "
    "one shared inverse-CDF ln expression — so the audit-form "
    "release is reproducible and oracle-checkable; one keyed "
    "aggregate at the released grain, noise a pure per-row "
    "expression over it",
    description="epsilon=1 Laplace-noised order counts by priority x "
    "order year, with true counts and noise for utility auditing",
    oracle=f"""
        WITH per AS (
            SELECT o_orderpriority,
                   CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS oyear,
                   CAST(COUNT(*) AS BIGINT) AS true_count
            FROM orders GROUP BY 1, 2
        ),
        keyed AS (
            SELECT *,
                   CAST({_hex_int_sql(
                       "md5('dp-v1|' || o_orderpriority || '|' "
                       "|| CAST(oyear AS VARCHAR))", 8)} AS BIGINT) AS kk
            FROM per
        )
        SELECT o_orderpriority, oyear, true_count,
               ({_laplace_expr(repr(1.0))}) AS noise,
               true_count + ({_laplace_expr(repr(1.0))}) AS noisy_count,
               CAST('1.0' AS DOUBLE) AS epsilon
        FROM keyed
    """,
)
def dp_laplace_priority_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    (orders,) = load(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderpriority",
        F.year(F.col("o_orderdate")).cast("int").alias("oyear"),
    )
    return privacy.dp_laplace_counts(base, ["o_orderpriority", "oyear"], epsilon=1.0)


@register(
    "k_anonymity_customer_audit",
    op_ids="beyond-reference k-anonymity risk audit: equivalence "
    "classes over a declared quasi-identifier set (nation x market "
    "segment x account-balance thousand-bucket), per-threshold "
    "below-k class/row counts — all integers off the class-grain "
    "relation, one division for the at-risk fraction; the threshold "
    "list cross-joins the bounded class grain, never rows",
    description="re-identification risk of the customer dimension: "
    "for k in 2/5/10/25, classes and rows in equivalence classes "
    "smaller than k",
    oracle="""
        WITH eq AS (
            SELECT c_nationkey, c_mktsegment,
                   CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_kb,
                   CAST(COUNT(*) AS BIGINT) AS sz
            FROM customer GROUP BY 1, 2, 3
        )
        SELECT k,
               CAST(COUNT(*) AS BIGINT) AS n_classes,
               CAST(SUM(sz) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN sz < k THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_classes_below,
               CAST(SUM(CASE WHEN sz < k THEN sz ELSE 0 END) AS BIGINT)
                   AS n_rows_below,
               CAST(SUM(CASE WHEN sz < k THEN sz ELSE 0 END) AS DOUBLE)
                   / CAST(SUM(sz) AS DOUBLE) AS frac_rows_below
        FROM eq, (VALUES (2), (5), (10), (25)) ks(k)
        GROUP BY k
    """,
)
def k_anonymity_customer_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    (customer,) = load(spark, sf_dir, "customer")
    base = customer.select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_kb"),
    )
    return privacy.k_anonymity_audit(
        base, ["c_nationkey", "c_mktsegment", "bal_kb"], ks=(2, 5, 10, 25)
    )
