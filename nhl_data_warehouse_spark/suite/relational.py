"""Relational-completeness suite: the operator families the reference
never exercises but a drop-in engine must expose (SURVEY.md §2.3-§2.6
"absent in reference; native in Spark" notes) — semi/outer joins,
INTERSECT/EXCEPT, distinct aggregation, CUBE grouping sets, pivot,
scalar-subquery predicates, lag/lead windows, exact percentiles.

Determinism conventions as in ``suite/__init__``: decimal-exact sums,
integer cross-multiplication instead of float ratio comparison,
explicit tie-breaks on ordered ops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nhl_data_warehouse_spark.suite.core import _asof_event_orders
from nhl_data_warehouse_spark.suite.registry import load, register

DEC = "decimal(18,2)"


@register(
    "semi_join_exists",
    op_ids="§2.3 semi join (EXISTS — absent in reference, native Spark)",
    description="customers with at least one urgent order (left_semi, no fan-out)",
    oracle="""
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """,
)
def semi_join_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders = load(spark, sf_dir, "customer", "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    # semi join never duplicates the probe side — the correct shape for
    # existence tests (an inner join + distinct would shuffle the fan-out)
    return customer.join(urgent, on="c_custkey", how="left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@register(
    "outer_join_null_fill",
    op_ids="§2.3 left outer join (absent in reference, native Spark)",
    description="every customer with order count/revenue, zero-filled when orderless",
    oracle="""
        SELECT c.c_custkey,
               COALESCE(s.n_orders, 0) AS n_orders,
               CAST(COALESCE(s.revenue, CAST(0 AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue
        FROM customer c
        LEFT JOIN (
            SELECT o_custkey, COUNT(*) AS n_orders,
                   SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
            FROM orders GROUP BY o_custkey
        ) s ON s.o_custkey = c.c_custkey
    """,
)
def outer_join_null_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders = load(spark, sf_dir, "customer", "orders")
    per_cust = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast(DEC)).alias("revenue"),
    )
    # aggregate-then-join: the outer join carries one row per customer,
    # not one per order — same answer, far smaller shuffle
    return customer.join(per_cust, on="c_custkey", how="left").select(
        "c_custkey",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("revenue", F.lit(0).cast(DEC)).cast("double").alias("revenue"),
    )


@register(
    "intersect_custkeys",
    op_ids="§2.4 INTERSECT (absent in reference, native Spark)",
    description="customers appearing in both open- and finished-status orders",
    oracle="""
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def intersect_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load(spark, sf_dir, "orders")
    open_ = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    done = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return open_.intersect(done)


@register(
    "except_custkeys",
    op_ids="§2.4 EXCEPT (absent in reference, native Spark)",
    description="customers with open orders but no finished ones",
    oracle="""
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def except_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load(spark, sf_dir, "orders")
    open_ = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    done = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    # subtract == SQL EXCEPT (distinct); exceptAll would keep multiplicity
    return open_.subtract(done)


@register(
    "distinct_agg",
    op_ids="§2.5 distinct aggregation (absent in reference, native Spark)",
    description="per-segment distinct-customer and distinct-nation counts",
    oracle="""
        SELECT c_mktsegment,
               COUNT(*) AS n_customers,
               COUNT(DISTINCT c_nationkey) AS n_nations,
               COUNT(DISTINCT c_acctbal >= 0) AS n_balance_signs
        FROM customer GROUP BY c_mktsegment
    """,
)
def distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    (customer,) = load(spark, sf_dir, "customer")
    return customer.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.countDistinct("c_nationkey").alias("n_nations"),
        F.countDistinct(F.col("c_acctbal") >= 0).alias("n_balance_signs"),
    )


@register(
    "cube_status_priority",
    op_ids="§2.5 CUBE grouping sets + grouping() (absent in reference)",
    description="order counts over all (status, priority) grouping combinations",
    oracle="""
        SELECT o_orderstatus, o_orderpriority,
               GROUPING(o_orderstatus) AS g_status,
               GROUPING(o_orderpriority) AS g_priority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("long").alias("g_status"),
        F.grouping("o_orderpriority").cast("long").alias("g_priority"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("revenue"),
    )


@register(
    "pivot_status_by_year",
    op_ids="§2.5 pivot (wide conditional aggregation)",
    description="orders per status pivoted to columns, one row per order year",
    oracle="""
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year,
               COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS status_o,
               COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS status_f,
               COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS status_p
        FROM orders GROUP BY 1
    """,
)
def pivot_status_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load(spark, sf_dir, "orders")
    # explicit value list: without it Spark runs an extra distinct scan
    # to discover pivot columns — never do that on a 100TB table
    return (
        orders.groupBy(F.year("o_orderdate").cast("long").alias("order_year"))
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "order_year",
            F.coalesce("O", F.lit(0)).alias("status_o"),
            F.coalesce("F", F.lit(0)).alias("status_f"),
            F.coalesce("P", F.lit(0)).alias("status_p"),
        )
    )


@register(
    "scalar_subquery_filter",
    op_ids="§2.2 scalar-subquery predicate (above-average filter)",
    description="orders above the global average price (integer-exact comparison)",
    oracle="""
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE CAST(o_totalprice AS DECIMAL(18,2)) * (SELECT COUNT(*) FROM orders)
              > (SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM orders)
    """,
)
def scalar_subquery_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load(spark, sf_dir, "orders")
    # price*n > total  avoids dividing (exact decimal arithmetic, and
    # the 1-row aggregate broadcasts instead of shuffling anything)
    totals = orders.agg(
        F.sum(F.col("o_totalprice").cast(DEC)).alias("_total"),
        F.count(F.lit(1)).alias("_n"),
    )
    return (
        orders.crossJoin(F.broadcast(totals))
        .filter(F.col("o_totalprice").cast(DEC) * F.col("_n") > F.col("_total"))
        .select("o_orderkey", "o_totalprice")
    )


@register(
    "window_lag_gap",
    op_ids="§2.6 lag/lead window (absent in reference, native Spark)",
    description="seconds since each customer's previous order (LAG over partition)",
    oracle="""
        SELECT o_custkey, o_orderkey,
               CAST(date_diff('second',
                    LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                           ORDER BY o_orderdate, o_orderkey),
                    o_orderdate) AS BIGINT) AS gap_seconds
        FROM orders
    """,
)
def window_lag_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_orderdate").over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        (
            F.unix_timestamp("o_orderdate") - F.unix_timestamp(prev)
        ).alias("gap_seconds"),
    )


@register(
    "salted_hot_key_agg",
    op_ids="§7.4.7 skew mitigation: salted two-stage aggregation (semantics-preserving)",
    description="per-event-type totals via salt -> partial -> merge (matches plain GROUP BY)",
    oracle="""
        SELECT event_type,
               COUNT(*) AS count_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events GROUP BY event_type
    """,
)
def salted_hot_key_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.skew import salted_agg

    (events,) = load(spark, sf_dir, "events")
    return salted_agg(
        events,
        keys=["event_type"],
        aggs={
            "count_events": F.count(F.lit(1)),
            "sum_value": F.sum(F.col("value").cast(DEC)),
        },
        n_salts=16,
    ).withColumn("sum_value", F.col("sum_value").cast("double"))


@register(
    "salted_skew_join",
    op_ids="§7.4.7 skew mitigation: salted replicate-build join (semantics-preserving)",
    description="lineitem x orders revenue by priority via salted join (matches plain JOIN)",
    oracle="""
        SELECT o.o_orderpriority,
               COUNT(*) AS count_items,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_price
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderpriority
    """,
)
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.skew import salted_join

    lineitem, orders = load(spark, sf_dir, "lineitem", "orders")
    joined = salted_join(
        lineitem.select(F.col("l_orderkey").alias("k"), "l_extendedprice"),
        orders.select(F.col("o_orderkey").alias("k"), "o_orderpriority"),
        n_salts=8,
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("count_items"),
        F.sum(F.col("l_extendedprice").cast(DEC)).cast("double").alias("sum_price"),
    )


@register(
    "variant_json_path",
    op_ids="P11/P12 VARIANT parity: schema-less parse + path extraction (Spark VariantType)",
    description="per-event-type stats over a field extracted from schema-less JSON props",
    oracle="""
        SELECT event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT))
                    AS BIGINT) AS sum_k,
               MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
               MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
        FROM events GROUP BY event_type
    """,
)
def variant_json_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load(spark, sf_dir, "events")
    # true schema-less path: parse_json -> VariantType -> typed get —
    # Snowflake-VARIANT parity without declaring a schema (the
    # schema-on-read StructType route lives in sources/json_source.py)
    k = F.try_variant_get(F.parse_json("props"), "$.k", "long")
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


@register(
    "exact_percentiles",
    op_ids="§2.5 percentile aggregation (exact, interpolated)",
    description="exact p50/p90 of order price per priority (6dp-rounded)",
    oracle="""
        SELECT o_orderpriority,
               ROUND(quantile_cont(o_totalprice, 0.5), 6) AS p50,
               ROUND(quantile_cont(o_totalprice, 0.9), 6) AS p90
        FROM orders GROUP BY o_orderpriority
    """,
)
def exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load(spark, sf_dir, "orders")
    # exact percentile (sort-based) for oracle parity; at 100TB swap in
    # approx_percentile (t-digest sketch, single pass, mergeable)
    return orders.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 6).alias("p90"),
    )


@register(
    "window_rank_family",
    op_ids="§2.6 ranking-window family: ntile / percent_rank / cume_dist "
    "(absent in reference, native Spark)",
    description="quartile, relative rank, and cumulative distribution of 1996 "
    "F-orders by price within each priority (unique tie-break => exact doubles)",
    oracle="""
        SELECT o_orderkey, o_orderpriority,
               ntile(4)       OVER w AS price_quartile,
               percent_rank() OVER w AS pct_rank,
               cume_dist()    OVER w AS cume,
               row_number()   OVER w AS rn
        FROM orders
        WHERE o_orderstatus = 'F'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return (
        orders.filter(
            (F.col("o_orderstatus") == "F")
            & (F.col("o_orderdate") >= "1996-01-01 00:00:00")
            & (F.col("o_orderdate") < "1997-01-01 00:00:00")
        )
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.ntile(4).over(w).alias("price_quartile"),
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume"),
            F.row_number().over(w).alias("rn"),
        )
    )


@register(
    "grouping_sets_status_priority",
    op_ids="§2.5 GROUPING SETS beyond cube/rollup (explicit set list + grouping())",
    description="order counts at three chosen granularities — (status), "
    "(priority), and grand total — with a portable grouping id",
    oracle="""
        SELECT o_orderstatus, o_orderpriority,
               GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS gid,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def grouping_sets_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders_gs")
    # explicit GROUPING SETS is SQL-only surface; the DataFrame API
    # covers cube/rollup (see cube_status_priority) and Catalyst plans
    # both through the same Expand operator
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS gid,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "zscore_outliers",
    op_ids="§2.5 two-pass analytic (exact-moment z-scores; outlier filter for curation)",
    description="events whose value is >3 population standard deviations from "
    "their type's mean — moments from exact decimal sums, one double sqrt",
    oracle="""
        WITH moments AS (
            SELECT event_type,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))
                            * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS ss
            FROM events GROUP BY event_type
        )
        SELECT event_id, e.event_type, value,
               (value - s / n) / sqrt(ss / n - (s / n) * (s / n)) AS z
        FROM events e JOIN moments m ON e.event_type = m.event_type
        WHERE abs((value - s / n) / sqrt(ss / n - (s / n) * (s / n))) > 3.0
    """,
)
def zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,2)")
    moments = events.groupBy(F.col("event_type").alias("m_type")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec).cast("double").alias("s"),
        F.sum(dec * dec).cast("double").alias("ss"),
    )
    mean = F.col("s") / F.col("n")
    z = (F.col("value") - mean) / F.sqrt(F.col("ss") / F.col("n") - mean * mean)
    return (
        events.join(F.broadcast(moments), F.col("event_type") == F.col("m_type"))
        .select("event_id", "event_type", "value", z.alias("z"))
        .filter(F.abs(F.col("z")) > 3.0)
    )


@register(
    "hod_value_profile",
    op_ids="beyond-reference calendar seasonality profile: exact "
    "hour-of-day moments of event values (integer cents, "
    "DECIMAL(38,0) squared sums, fixed-order double mean/std, "
    "integer variance guard) — the 24-row daily-cycle fingerprint "
    "that dow_revenue_anomalies consumes at the weekly grain",
    description="per hour-of-day (UTC): event count, exact value sum, "
    "mean and population std — the load/seasonality profile for "
    "scheduling and anomaly baselines",
    oracle="""
        WITH vals AS (
            SELECT CAST(hour(ts) AS BIGINT) AS hod,
                   CAST(round(value * 100) AS BIGINT) AS c
            FROM events WHERE value IS NOT NULL
        ),
        m AS (
            SELECT hod, CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(c) AS BIGINT) AS s,
                   SUM(CAST(c AS HUGEINT) * c) AS ssd
            FROM vals GROUP BY 1
        )
        SELECT hod, n_events,
               CAST(s AS DOUBLE) / 100.0 AS sum_value,
               CAST(s AS DOUBLE) / CAST(n_events AS DOUBLE) / 100.0
                   AS mean_value,
               CASE WHEN n_events >= 2
                         AND CAST(n_events AS HUGEINT) * ssd
                             > CAST(s AS HUGEINT) * CAST(s AS HUGEINT)
                    THEN sqrt(CAST(ssd AS DOUBLE) / CAST(n_events AS DOUBLE)
                              - (CAST(s AS DOUBLE) / CAST(n_events AS DOUBLE))
                                * (CAST(s AS DOUBLE)
                                   / CAST(n_events AS DOUBLE))) / 100.0
                    ELSE CAST(NULL AS DOUBLE)
               END AS std_value
        FROM m
    """,
)
def hod_value_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load(spark, sf_dir, "events")
    vals = events.where(F.col("value").isNotNull()).select(
        F.hour("ts").cast("long").alias("hod"),
        F.round(F.col("value") * 100).cast("long").alias("c"),
    )
    cdec = F.col("c").cast("decimal(38,0)")
    m = vals.groupBy("hod").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("c").cast("long").alias("s"),
        F.sum(cdec * cdec).cast("decimal(38,0)").alias("ssd"),
    )
    return m.select(
        "hod",
        "n_events",
        F.expr("CAST(s AS DOUBLE) / 100.0").alias("sum_value"),
        F.expr(
            "CAST(s AS DOUBLE) / CAST(n_events AS DOUBLE) / 100.0"
        ).alias("mean_value"),
        F.when(
            (F.col("n_events") >= 2)
            & (
                F.col("n_events").cast("decimal(38,0)") * F.col("ssd")
                > F.col("s").cast("decimal(38,0)")
                * F.col("s").cast("decimal(38,0)")
            ),
            F.expr(
                "sqrt(CAST(ssd AS DOUBLE) / CAST(n_events AS DOUBLE)"
                " - (CAST(s AS DOUBLE) / CAST(n_events AS DOUBLE))"
                " * (CAST(s AS DOUBLE) / CAST(n_events AS DOUBLE)))"
                " / 100.0"
            ),
        )
        .otherwise(F.lit(None).cast("double"))
        .alias("std_value"),
    )


@register(
    "value_histogram",
    op_ids="§2.5 fixed-width binning (histogram aggregation)",
    description="10-unit value bins per event type with counts and exact bin sums",
    oracle="""
        SELECT event_type,
               CAST(floor(value / 10.0) AS BIGINT) AS bin,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY event_type, bin
    """,
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load(spark, sf_dir, "events")
    return (
        events.groupBy(
            "event_type",
            F.floor(F.col("value") / 10.0).cast("long").alias("bin"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


@register(
    "props_map_stats",
    op_ids="P11/P12 + MapType (schema-less JSON props -> map explode -> rollup)",
    description="event props parsed as map<string,bigint> and exploded to "
    "(key, value) rows — the MapType path VARIANT-style payloads take when "
    "keys are not known at schema time",
    oracle="""
        SELECT event_type, 'k' AS prop_key, COUNT(*) AS n,
               CAST(SUM(CAST(CAST(props->>'$.k' AS BIGINT) AS DECIMAL(18,2)))
                    AS DOUBLE) AS sum_value
        FROM events
        WHERE props->>'$.k' IS NOT NULL
        GROUP BY event_type
    """,
)
def props_map_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load(spark, sf_dir, "events")
    return (
        events.select(
            "event_type",
            F.explode(F.from_json("props", "map<string,bigint>")).alias(
                "prop_key", "prop_value"
            ),
        )
        .groupBy("event_type", "prop_key")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("prop_value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select("event_type", "prop_key", "n", "sum_value")
    )


@register(
    "asof_join_orders_forward",
    op_ids="beyond-reference as-of join, forward direction (next-match semantics)",
    description="each event matched to the EARLIEST order of the same key "
    "at-or-after it — the label-lookahead shape in training-data builds",
    oracle="""
        SELECT e.event_id, e.user_id, e.ts,
               o.o_orderdate AS asof_o_orderdate
        FROM events e
        ASOF LEFT JOIN orders o
          ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
    """,
)
def asof_join_orders_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _asof_event_orders(spark, sf_dir, "forward")


@register(
    "scd2_segment_versions",
    op_ids="beyond-reference SCD2 dimension apply (write.py:scd2_apply "
    "— close-and-version on tracked-attribute change, full-outer "
    "against the open slice only; the warehouse pattern the "
    "reference's view-only dbt models never reach)",
    description="customer market segments versioned through one SCD2 "
    "batch: delinquent (negative-balance) customers get their open "
    "row closed at the effective date plus a new DELINQUENT version; "
    "unchanged customers pass through; 15 synthetic brand-new keys "
    "open fresh rows — all four apply branches in one result",
    oracle="""
        SELECT c_custkey, c_mktsegment AS segment,
               DATE '2020-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to
        FROM customer WHERE c_acctbal >= 0
        UNION ALL
        SELECT c_custkey, c_mktsegment, DATE '2020-01-01', DATE '2024-01-01'
        FROM customer WHERE c_acctbal < 0
        UNION ALL
        SELECT c_custkey, 'DELINQUENT', DATE '2024-01-01', CAST(NULL AS DATE)
        FROM customer WHERE c_acctbal < 0
        UNION ALL
        SELECT c_custkey + 10000000, 'NEWKEY', DATE '2024-01-01',
               CAST(NULL AS DATE)
        FROM customer WHERE c_custkey % 100 = 0
    """,
)
def scd2_segment_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.write import scd2_apply

    (customer,) = load(spark, sf_dir, "customer")
    current = customer.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit("2020-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    upd_existing = customer.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, F.lit("DELINQUENT"))
        .otherwise(F.col("c_mktsegment"))
        .alias("segment"),
        F.lit("2024-01-01").cast("date").alias("effective_ts"),
    )
    upd_new = customer.filter(F.col("c_custkey") % 100 == 0).select(
        (F.col("c_custkey") + 10000000).alias("c_custkey"),
        F.lit("NEWKEY").alias("segment"),
        F.lit("2024-01-01").cast("date").alias("effective_ts"),
    )
    out = scd2_apply(
        current,
        upd_existing.unionByName(upd_new),
        keys=["c_custkey"],
        tracked=["segment"],
    )
    return out.select("c_custkey", "segment", "valid_from", "valid_to")


@register(
    "pit_scd2_enrichment",
    op_ids="beyond-reference point-in-time SCD2 join (equi-join on "
    "the key with the validity interval as a join filter — the "
    "feature-store correctness join preventing training-serving "
    "leakage; never a range-bucket join, versions per key are "
    "bounded by construction)",
    description="orders enriched with the customer segment valid AT "
    "ORDER TIME (delinquent customers re-labeled from 1996-01-01), "
    "rolled up per (as-of segment, order year): pre-1996 orders keep "
    "the original segment, later ones see the new version",
    oracle="""
        WITH dim AS (
            SELECT c_custkey, c_mktsegment AS segment,
                   DATE '1992-01-01' AS valid_from,
                   CASE WHEN c_acctbal < 0 THEN DATE '1996-01-01' END
                       AS valid_to
            FROM customer
            UNION ALL
            SELECT c_custkey, 'DELINQUENT', DATE '1996-01-01', NULL
            FROM customer WHERE c_acctbal < 0
        )
        SELECT d.segment AS segment_asof,
               CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue
        FROM orders o
        JOIN dim d
          ON d.c_custkey = o.o_custkey
         AND o.o_orderdate >= d.valid_from
         AND (d.valid_to IS NULL OR o.o_orderdate < d.valid_to)
        GROUP BY 1, 2
    """,
)
def pit_scd2_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.asof import pit_join

    orders, customer = load(spark, sf_dir, "orders", "customer")
    v1 = customer.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit("1992-01-01").cast("date").alias("valid_from"),
        F.when(F.col("c_acctbal") < 0, F.lit("1996-01-01").cast("date")).alias(
            "valid_to"
        ),
    )
    v2 = customer.filter(F.col("c_acctbal") < 0).select(
        "c_custkey",
        F.lit("DELINQUENT").alias("segment"),
        F.lit("1996-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    dim = v1.unionByName(v2)
    facts = orders.select(
        F.col("o_custkey").alias("c_custkey"), "o_orderdate", "o_totalprice"
    )
    enriched = pit_join(facts, dim, key="c_custkey", ts_col="o_orderdate", how="inner")
    return (
        enriched.groupBy(
            F.col("segment").alias("segment_asof"),
            F.year("o_orderdate").cast("long").alias("order_year"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


@register(
    "listagg_region_nations",
    op_ids="§2.5 ordered string aggregation: LISTAGG ... WITHIN GROUP "
    "(SQL:2016, new native in Spark 4.0) — the deterministic "
    "collect-to-string rollup (report labels, debug digests) that "
    "previously needed sort_array(collect_list()) gymnastics",
    description="per region: nation count and the alphabetical "
    "comma-joined nation list via listagg WITHIN GROUP (ORDER BY), "
    "run through the SQL surface over registered views",
    oracle="""
        SELECT r.r_name AS region,
               COUNT(*) AS n_nations,
               string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations
        FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
    """,
)
def listagg_region_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    region, nation = load(spark, sf_dir, "region", "nation")
    region.createOrReplaceTempView("v_la_region")
    nation.createOrReplaceTempView("v_la_nation")
    return spark.sql(
        """
        SELECT r.r_name AS region,
               COUNT(*) AS n_nations,
               listagg(n.n_name, ',') WITHIN GROUP (ORDER BY n.n_name)
                   AS nations
        FROM v_la_region r JOIN v_la_nation n
          ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
        """
    )


@register(
    "null_safe_join",
    op_ids="§2.3 null-safe equality join (<=> / IS NOT DISTINCT FROM): "
    "NULL keys MATCH each other instead of silently dropping — the "
    "semantic that separates dimension joins on nullable natural "
    "keys from quiet row loss; plans as a plain hash join on the "
    "null-safe comparator",
    description="order-priority buckets joined to a status summary on "
    "a derived nullable key with <=>: the NULL bucket pairs with the "
    "NULL bucket, every row accounted for",
    oracle="""
        WITH a AS (
            SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL
                        ELSE o_orderkey % 10 END AS k,
                   CAST(COUNT(*) AS BIGINT) AS n_a
            FROM orders GROUP BY 1
        ),
        b AS (
            SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL
                        ELSE o_orderkey % 10 END AS k,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       AS revenue
            FROM orders GROUP BY 1
        )
        SELECT a.k AS k, n_a, revenue
        FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load(spark, sf_dir, "orders")
    key = F.when(F.col("o_orderkey") % 97 == 0, F.lit(None)).otherwise(
        F.col("o_orderkey") % 10
    )
    a = orders.groupBy(key.alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("n_a")
    )
    b = orders.groupBy(key.alias("k")).agg(
        F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("revenue")
    )
    bb = b.select(F.col("k").alias("_bk"), "revenue")
    return a.join(bb, a["k"].eqNullSafe(bb["_bk"])).select("k", "n_a", "revenue")


@register(
    "sql_udf_price_tiers",
    op_ids="§2.8 extension: Spark 4 SQL-language UDFs (CREATE FUNCTION "
    "... RETURN, SPARK-46248) — a scalar SQL UDF classifying order "
    "value into tiers, resolved and INLINED by the analyzer so the "
    "query keeps whole-stage codegen (unlike a Python UDF, the "
    "function body is catalyst expressions; the reference's Snowflake "
    "would use a SQL UDF here identically)",
    description="order counts and exact revenue per price tier "
    "computed through a SQL-language UDF",
    oracle="""
        SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
                    WHEN o_totalprice < 200000 THEN 'mid'
                    ELSE 'high' END AS tier,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue
        FROM orders GROUP BY 1
    """,
)
def sql_udf_price_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__sqludf_orders")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION price_tier(p DOUBLE)
        RETURNS STRING
        RETURN CASE WHEN p < 50000 THEN 'low'
                    WHEN p < 200000 THEN 'mid'
                    ELSE 'high' END
        """
    )
    return spark.sql(
        """
        SELECT price_tier(o_totalprice) AS tier,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue
        FROM __sqludf_orders GROUP BY 1
        """
    )


@register(
    "collated_segment_counts",
    op_ids="§2.5 extension: Spark 4 string collations (SPARK-46830) — "
    "grouping under a case-insensitive UTF8_LCASE collation, declared "
    "on the comparison rather than rewritten through lower() (the "
    "engine's collation-aware hash/equality does the work; the oracle "
    "mirrors the semantics with lower())",
    description="customer counts per market segment with "
    "deterministically mixed-case values, grouped case-insensitively "
    "via a collated key",
    oracle="""
        WITH m AS (
            SELECT CASE WHEN c_custkey % 2 = 0
                        THEN lower(c_mktsegment)
                        ELSE c_mktsegment END AS seg_mixed
            FROM customer
        )
        SELECT lower(seg_mixed) AS segment,
               CAST(COUNT(*) AS BIGINT) AS n_customers
        FROM m GROUP BY lower(seg_mixed)
    """,
)
def collated_segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    (customer,) = load(spark, sf_dir, "customer")
    mixed = F.when(
        F.col("c_custkey") % 2 == 0, F.lower("c_mktsegment")
    ).otherwise(F.col("c_mktsegment"))
    customer.select(mixed.alias("seg_mixed")).createOrReplaceTempView(
        "__collate_cust"
    )
    return spark.sql(
        """
        SELECT lower(k) AS segment, CAST(COUNT(*) AS BIGINT) AS n_customers
        FROM (SELECT seg_mixed COLLATE UTF8_LCASE AS k FROM __collate_cust)
        GROUP BY lower(k)
        """
    )


@register(
    "lateral_topk_orders",
    op_ids="§2.3 extension: correlated LATERAL subquery join "
    "(SPARK-34382) — per-customer top-2 orders expressed as the SQL "
    "LATERAL form; Catalyst decorrelates it into the same "
    "rank-then-filter plan a window would produce, so the declarative "
    "per-row-subquery shape costs no BNLJ (the reference's Snowflake "
    "uses LATERAL identically)",
    description="each customer's two most expensive orders via a "
    "correlated LATERAL subquery, restricted to the BUILDING segment",
    oracle="""
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer c, LATERAL (
            SELECT o_orderkey, o_totalprice FROM orders o
            WHERE o.o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) t
        WHERE c.c_mktsegment = 'BUILDING'
    """,
)
def lateral_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders = load(spark, sf_dir, "customer", "orders")
    customer.createOrReplaceTempView("__lat_customer")
    orders.createOrReplaceTempView("__lat_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM __lat_customer c, LATERAL (
            SELECT o_orderkey, o_totalprice FROM __lat_orders o
            WHERE o.o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) t
        WHERE c.c_mktsegment = 'BUILDING'
        """
    )
