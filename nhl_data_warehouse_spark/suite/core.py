"""Core suite: every reference operator (SURVEY.md §2) exercised on the
driver's TPC-H-ish tables, with DuckDB oracles.

Mapping of reference ops to testdata (FIXTURES.md "Mapping onto driver
testdata"): the NHL-domain transforms run on NHL-shaped fixtures in
``tests/``; here the same operators run on ``orders``/``customer``/
``lineitem``/... so the external driver can hash-compare against SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nhl_data_warehouse_spark.functions.cleaning import md5_key, null_out_like
from nhl_data_warehouse_spark.operators.asof import as_of_join
from nhl_data_warehouse_spark.operators.caching import checkpoint
from nhl_data_warehouse_spark.operators.rangejoin import range_join_pairs
from nhl_data_warehouse_spark.operators.sessions import sessionize_batch
from nhl_data_warehouse_spark.suite.ingest import _RANGE_JOIN_5MIN_ORACLE
from nhl_data_warehouse_spark.suite.registry import load, register

DEC = "decimal(18,2)"
DEC4 = "decimal(18,4)"


# ---------------------------------------------------------------------------
# aggregations / scans
# ---------------------------------------------------------------------------


@register(
    "pricing_summary",
    op_ids="A2,S6,P3 (+§2.5 hash agg, partial+final)",
    description="TPC-H Q1-shaped grouped aggregation with exact decimal sums",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(9,4))) AS DOUBLE) AS sum_disc_price,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = load(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(F.col("l_shipdate") <= "1998-09-02 00:00:00")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast(DEC))
            .cast("double")
            .alias("sum_base_price"),
            F.sum(
                F.col("l_extendedprice").cast(DEC)
                * (F.lit(1) - F.col("l_discount")).cast(DEC4)
            )
            .cast("double")
            .alias("sum_disc_price"),
            (
                F.sum(F.col("l_quantity").cast(DEC)).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "clean_cast_project",
    op_ids="P1,P3,P4,P5,S6",
    description="positional projection + trim/replace cleaning + permissive casts",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               TRIM(REPLACE(l_returnflag, '"', '')) AS returnflag_clean,
               CAST(l_shipdate AS DATE) AS ship_date,
               CAST(l_quantity AS BIGINT) AS qty_long,
               CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 + l_tax AS DECIMAL(9,4)) AS DOUBLE) AS gross_price
        FROM lineitem
    """,
)
def clean_cast_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = load(spark, sf_dir, "lineitem")
    from nhl_data_warehouse_spark.functions.cleaning import clean_scraped

    return lineitem.select(
        "l_orderkey",
        "l_linenumber",
        clean_scraped("l_returnflag").alias("returnflag_clean"),
        F.col("l_shipdate").cast("date").alias("ship_date"),
        F.col("l_quantity").cast("long").alias("qty_long"),
        (
            F.col("l_extendedprice").cast(DEC)
            * (F.lit(1) + F.col("l_tax")).cast(DEC4)
        )
        .cast("double")
        .alias("gross_price"),
    )


@register(
    "md5_lineage_key",
    op_ids="P6,P7,S8",
    description="md5(concat(...)) lineage keys — the reference's UNIQUE_KEY",
    oracle="""
        SELECT o_orderkey,
               MD5(CAST(o_orderkey AS VARCHAR) || o_orderstatus || o_orderpriority) AS unique_key
        FROM orders
    """,
)
def md5_lineage_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        md5_key("o_orderkey", "o_orderstatus", "o_orderpriority").alias("unique_key"),
    )


@register(
    "case_nullout_filter",
    op_ids="P8,P9,P10,P13",
    description="CASE-WHEN null-out of marker rows + conjunctive NOT NULL filter "
    "(the team_statistics division-header cleaner on part.p_type)",
    oracle="""
        SELECT p_brand, COUNT(*) AS n_parts,
               CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM (
            SELECT p_brand, p_retailprice,
                   CASE WHEN UPPER(p_type) LIKE '%PROMO%' THEN NULL ELSE p_type END AS type_clean
            FROM part
        )
        WHERE type_clean IS NOT NULL
        GROUP BY p_brand
    """,
)
def case_nullout_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    (part,) = load(spark, sf_dir, "part")
    cleaned = part.select(
        "p_brand",
        "p_retailprice",
        null_out_like("p_type", "%PROMO%").alias("type_clean"),
    )
    return (
        cleaned.na.drop(subset=["type_clean"])
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum(F.col("p_retailprice").cast(DEC)).cast("double").alias("sum_price"),
        )
    )


@register(
    "json_extract",
    op_ids="P11,P12,S7",
    description="JSON field extraction from a text column (VARIANT parity)",
    oracle="""
        SELECT event_type,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                    AS BIGINT) AS sum_k,
               COUNT(*) AS n
        FROM events
        GROUP BY event_type
    """,
)
def json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("long")).alias("sum_k"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "null_count_quality",
    op_ids="A1",
    description="single-pass null-count quality gate aggregate",
    oracle="""
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_text,
               CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_lang,
               CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_source
        FROM documents
    """,
)
def null_count_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load(spark, sf_dir, "documents")
    return documents.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("text").isNull().cast("long")).alias("null_text"),
        F.sum(F.col("lang").isNull().cast("long")).alias("null_lang"),
        F.sum(F.col("source").isNull().cast("long")).alias("null_source"),
    )


@register(
    "orders_table_checksum",
    op_ids="beyond-reference reconciliation gate: order-independent "
    "md5 table checksum (sum of 48-bit row fingerprints in "
    "DECIMAL(38,0), emitted mod the Mersenne prime 2^61-1) — "
    "checksum + row count certify a copy/migration/engine-swap "
    "preserved content, with no sort and ONE map-side-combined "
    "aggregate; md5 (never an engine-private hash) makes the "
    "fingerprint portable, which this very oracle check exercises",
    description="one-row (n_rows, checksum) content fingerprint of "
    "orders over engine-stable column forms (integer cents, ISO "
    "date) — equal on both engines by construction",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM((instr('0123456789abcdef', substring(h, 1, 1)) - 1) * 17592186044416
                      + (instr('0123456789abcdef', substring(h, 2, 1)) - 1) * 1099511627776
                      + (instr('0123456789abcdef', substring(h, 3, 1)) - 1) * 68719476736
                      + (instr('0123456789abcdef', substring(h, 4, 1)) - 1) * 4294967296
                      + (instr('0123456789abcdef', substring(h, 5, 1)) - 1) * 268435456
                      + (instr('0123456789abcdef', substring(h, 6, 1)) - 1) * 16777216
                      + (instr('0123456789abcdef', substring(h, 7, 1)) - 1) * 1048576
                      + (instr('0123456789abcdef', substring(h, 8, 1)) - 1) * 65536
                      + (instr('0123456789abcdef', substring(h, 9, 1)) - 1) * 4096
                      + (instr('0123456789abcdef', substring(h, 10, 1)) - 1) * 256
                      + (instr('0123456789abcdef', substring(h, 11, 1)) - 1) * 16
                      + (instr('0123456789abcdef', substring(h, 12, 1)) - 1))
                    % 2305843009213693951 AS BIGINT) AS checksum
        FROM (
            SELECT md5(concat_ws(chr(31),
                       COALESCE(CAST(o_orderkey AS VARCHAR), chr(0)),
                       COALESCE(CAST(o_custkey AS VARCHAR), chr(0)),
                       COALESCE(o_orderstatus, chr(0)),
                       COALESCE(o_orderpriority, chr(0)),
                       COALESCE(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                                     AS VARCHAR), chr(0)),
                       COALESCE(CAST(CAST(o_orderdate AS DATE) AS VARCHAR),
                                chr(0)))) AS h
            FROM orders
        )
    """,
)
def orders_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.plans.quality import table_checksum

    (orders,) = load(spark, sf_dir, "orders")
    stable = orders.select(
        F.col("o_orderkey"),
        F.col("o_custkey"),
        F.col("o_orderstatus"),
        F.col("o_orderpriority"),
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .alias("price_cents"),
        F.col("o_orderdate").cast("date").alias("order_date"),
    )
    return table_checksum(
        stable,
        [
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_orderpriority",
            "price_cents",
            "order_date",
        ],
    )


@register(
    "data_quality_report",
    op_ids="A1 generalized: the full dbt-style gate family (null, "
    "unique, accepted_values, freshness) as ONE aggregation pass "
    "returning a report frame instead of an exception",
    description="orders quality report: custkey/date null checks, "
    "orderkey uniqueness, status accepted-values against {O,F} "
    "(deliberately failing: the data also holds P), freshness vs a "
    "fixed literal threshold — (check_name, violations, passed) rows",
    oracle="""
        WITH m AS (
            SELECT
                CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                    AS null_custkey,
                CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                    AS null_orderdate,
                CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
                    AS duplicate_rows,
                CAST(SUM(CASE WHEN o_orderstatus IS NULL
                              OR o_orderstatus NOT IN ('O','F')
                              THEN 1 ELSE 0 END) AS BIGINT) AS unaccepted,
                CAST(CASE WHEN MAX(o_orderdate) < TIMESTAMP '1998-12-31'
                          THEN 1 ELSE 0 END AS BIGINT) AS stale
            FROM orders
        )
        SELECT check_name, violations, violations = 0 AS passed FROM (
            SELECT 'null_o_custkey' AS check_name, null_custkey AS violations FROM m
            UNION ALL SELECT 'null_o_orderdate', null_orderdate FROM m
            UNION ALL SELECT 'duplicate_rows', duplicate_rows FROM m
            UNION ALL SELECT 'unaccepted_o_orderstatus', unaccepted FROM m
            UNION ALL SELECT 'stale_o_orderdate', stale FROM m
        )
    """,
)
def data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.plans.quality import quality_report

    (orders,) = load(spark, sf_dir, "orders")
    return quality_report(
        orders,
        null_cols=["o_custkey", "o_orderdate"],
        unique_cols=["o_orderkey"],
        accepted=("o_orderstatus", ["O", "F"]),
        fresh=("o_orderdate", "1998-12-31"),
    )


@register(
    "bucketed_join_roundtrip",
    op_ids="beyond-reference co-located storage join: orders and "
    "lineitem persisted hash-bucketed on the join key, then equi-joined "
    "with broadcast disabled — both sides zip bucket-to-bucket with NO "
    "exchange (the pre-partitioning that turns the nightly fact-fact "
    "join from a double reshuffle into moving nothing)",
    description="orders and lineitem written as 8-bucket tables on the "
    "order key, joined shuffle-free, revenue aggregated per order "
    "priority — result hash-matched against the plain join; the "
    "no-Exchange plan property is pinned by test_plan_shapes-style "
    "assertion inside the query (raises if a shuffle appears)",
    oracle="""
        SELECT o.o_orderpriority,
               COUNT(*) AS n_items,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_orderpriority
    """,
)
def bucketed_join_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from nhl_data_warehouse_spark import catalog
    from nhl_data_warehouse_spark.write import write_bucketed

    orders, lineitem = load(spark, sf_dir, "orders", "lineitem")
    catalog.ensure_database(spark, "nhl_suite_bkt")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("bkt_orders", "bkt_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS nhl_suite_bkt.{t}")
        shutil.rmtree(f"{wh}/nhl_suite_bkt.db/{t}", ignore_errors=True)
    write_bucketed(
        orders.select("o_orderkey", "o_orderpriority"),
        "nhl_suite_bkt.bkt_orders",
        "o_orderkey",
    )
    write_bucketed(
        lineitem.select("l_orderkey", "l_extendedprice"),
        "nhl_suite_bkt.bkt_lineitem",
        "l_orderkey",
    )
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_bucketing = spark.conf.get("spark.sql.sources.bucketing.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # pin bucketing on: a caller session that disabled it would fail
    # the no-Exchange assertion spuriously (result would still match)
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    try:
        joined = spark.table("nhl_suite_bkt.bkt_orders").join(
            spark.table("nhl_suite_bkt.bkt_lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        # the co-location contract IS the point: fail loudly if either
        # side reshuffles (same invariant the pytest pins)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        if "Exchange" in plan:
            raise AssertionError(
                "bucketed-bucketed equi-join must not reshuffle either side"
            )
        out = (
            joined.groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias(
                    "_rev"
                ),
            )
            .select(
                "o_orderpriority",
                "n_items",
                F.col("_rev").cast("double").alias("revenue"),
            )
        )
        # materialize the aggregate under the no-broadcast conf; the
        # noop write pins the executed plan before the conf restores
        out = checkpoint(out)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.conf.set("spark.sql.sources.bucketing.enabled", old_bucketing)
    return out


@register(
    "merge_upsert_roundtrip",
    op_ids="M2 generalized to mutable records: partition-scoped MERGE "
    "(update-matched + insert-unmatched) on a path-partitioned parquet "
    "table via dynamic partition overwrite — only partitions present "
    "in the change batch are read or rewritten",
    description="orders initially loaded without keys divisible by 3, "
    "then a change batch (keys divisible by 5, status rewritten to 'X') "
    "merged in: matched rows take the update, unmatched insert, "
    "untouched rows survive — final table state hash-matched",
    oracle="""
        WITH base AS (
            SELECT o_orderkey, o_orderstatus,
                   year(CAST(o_orderdate AS DATE)) AS o_year
            FROM orders WHERE o_orderkey % 3 <> 0
        ),
        upd AS (
            SELECT o_orderkey, 'X' AS o_orderstatus,
                   year(CAST(o_orderdate AS DATE)) AS o_year
            FROM orders WHERE o_orderkey % 5 = 0
        )
        SELECT * FROM upd
        UNION ALL
        SELECT * FROM base
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
    """,
)
def merge_upsert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.suite.ingest import _fresh_dir
    from nhl_data_warehouse_spark.write import merge_upsert_partitioned

    (orders,) = load(spark, sf_dir, "orders")
    slim = orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.year(F.col("o_orderdate").cast("date")).alias("o_year"),
    )
    base = slim.filter(F.col("o_orderkey") % 3 != 0)
    updates = slim.filter(F.col("o_orderkey") % 5 == 0).withColumn(
        "o_orderstatus", F.lit("X")
    )
    path = _fresh_dir("suite_merge_tgt_") + "/orders"
    base.write.partitionBy("o_year").parquet(path)
    merge_upsert_partitioned(
        spark, updates, path, key="o_orderkey", partition_by=["o_year"]
    )
    final = spark.read.parquet(path)
    return final.select(
        "o_orderkey", "o_orderstatus", F.col("o_year").cast("int").alias("o_year")
    )


# ---------------------------------------------------------------------------
# joins / set ops
# ---------------------------------------------------------------------------


@register(
    "join_broadcast_dim",
    op_ids="J1,J2",
    description="inner equi-join to a broadcast dimension (mart's games x team_stats)",
    oracle="""
        SELECT c.c_mktsegment, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment
    """,
)
def join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, customer = load(spark, sf_dir, "orders", "customer")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("revenue"),
        )
    )


@register(
    "regional_revenue",
    op_ids="J1,J2,A2 (multi-hop star join)",
    description="TPC-H Q5-shaped snowflake join: revenue by region, dims broadcast",
    oracle="""
        SELECT r.r_name AS region,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l.l_discount AS DECIMAL(9,4))) AS DOUBLE) AS revenue,
               COUNT(*) AS n_lineitems
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
    """,
)
def regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, orders, customer, nation, region = load(
        spark, sf_dir, "lineitem", "orders", "customer", "nation", "region"
    )
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.sum(
                F.col("l_extendedprice").cast(DEC)
                * (F.lit(1) - F.col("l_discount")).cast(DEC4)
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@register(
    "anti_join_incremental",
    op_ids="J3,M2",
    description="left-anti incremental filter (dbt NOT-IN dedup, null-safe form)",
    oracle="""
        SELECT o.o_orderkey, o.o_custkey
        FROM orders o
        WHERE NOT EXISTS (
            SELECT 1 FROM customer c
            WHERE c.c_custkey = o.o_custkey AND c.c_acctbal < 0
        )
    """,
)
def anti_join_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, customer = load(spark, sf_dir, "orders", "customer")
    negative = customer.filter(F.col("c_acctbal") < 0).select(
        F.col("c_custkey").alias("o_custkey")
    )
    return orders.join(F.broadcast(negative), on="o_custkey", how="left_anti").select(
        "o_orderkey", "o_custkey"
    )


@register(
    "explode_tokens",
    op_ids="J4,J5",
    description="lateral array unnest (Snowflake FLATTEN -> explode) + token agg",
    oracle="""
        SELECT tok AS token, COUNT(*) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        WHERE tok <> ''
        GROUP BY tok
    """,
)
def explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load(spark, sf_dir, "documents")
    return (
        documents.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "union_distinct_branches",
    op_ids="U1",
    description="SQL UNION (distinct) of two overlapping filtered branches — "
    "the mart's visitor-branch ∪ home-branch",
    oracle="""
        SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
        WHERE o_orderpriority = '1-URGENT'
        UNION
        SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
        WHERE o_totalprice > 50000
    """,
)
def union_distinct_branches(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_orderpriority", "o_totalprice"]
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(cols)
    big = orders.filter(F.col("o_totalprice") > 50000).select(cols)
    return urgent.unionByName(big).distinct()


# ---------------------------------------------------------------------------
# windows / ordering / grouping extensions
# ---------------------------------------------------------------------------


@register(
    "window_rank_topn",
    op_ids="§2.6 (window rank, beyond-reference)",
    description="top-3 orders per priority class by price, deterministic tie-break",
    oracle="""
        SELECT o_orderkey, o_orderpriority, o_totalprice, rn
        FROM (
            SELECT o_orderkey, o_orderpriority, o_totalprice,
                   ROW_NUMBER() OVER (
                       PARTITION BY o_orderpriority
                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
            FROM orders
        )
        WHERE rn <= 3
    """,
)
def window_rank_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.select(
            "o_orderkey",
            "o_orderpriority",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "window_running_sum",
    op_ids="§2.6 (running aggregate window)",
    description="per-customer running revenue ordered by order date",
    oracle="""
        SELECT o_custkey, o_orderkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DOUBLE) AS running_revenue
        FROM orders
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast(DEC))
        .over(w)
        .cast("double")
        .alias("running_revenue"),
    )


@register(
    "rollup_region_nation",
    op_ids="§2.5 (rollup grouping sets, beyond-reference)",
    description="customer counts by region/nation with rollup subtotals",
    oracle="""
        SELECT COALESCE(r_name, 'ALL') AS region,
               COALESCE(n_name, 'ALL') AS nation,
               COUNT(*) AS n_customers,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY ROLLUP(r_name, n_name)
    """,
)
def rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, nation, region = load(spark, sf_dir, "customer", "nation", "region")
    joined = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast(DEC)).cast("double").alias("sum_acctbal"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            "n_customers",
            "sum_acctbal",
        )
    )


@register(
    "monthly_order_stats",
    op_ids="S6,A2 (date-truncated rollup)",
    description="orders per month: count + exact revenue + min/max price",
    oracle="""
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
               MIN(o_totalprice) AS min_price,
               MAX(o_totalprice) AS max_price
        FROM orders
        GROUP BY 1
    """,
)
def monthly_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.date_trunc("month", "o_orderdate").cast("date").alias("order_month")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("revenue"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
    )


# ---------------------------------------------------------------------------
# temporal operators (beyond-reference)
# ---------------------------------------------------------------------------


@register(
    "asof_join_orders",
    op_ids="beyond-reference as-of join (union+sort, single shuffle)",
    description="each event matched to the latest order of the same key at-or-before it",
    oracle="""
        SELECT e.event_id, e.user_id, e.ts,
               o.o_orderdate AS asof_o_orderdate
        FROM events e
        ASOF LEFT JOIN orders o
          ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
)
def asof_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _asof_event_orders(spark, sf_dir, "backward")


def _asof_event_orders(spark: SparkSession, sf_dir: str, direction: str) -> DataFrame:
    """Each event with the order date of its user's nearest order in
    ``direction`` (both bounds inclusive)."""
    events, orders = load(spark, sf_dir, "events", "orders")
    return as_of_join(
        events.select("event_id", "user_id", "ts"),
        orders,
        left_on="user_id",
        right_on="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        payloads=["o_orderdate"],
        direction=direction,
    )


@register(
    "range_join_pairs",
    op_ids="beyond-reference range join (bucketed equi-join, O(matches))",
    description="pairs of same-user events within a 5-minute window",
    oracle=_RANGE_JOIN_5MIN_ORACLE,
)
def range_join_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load(spark, sf_dir, "events")
    return range_join_pairs(events)


# 30-minute-gap sessions of each user's events; ``numbered`` carries
# (user_id, ts, session_id), session ids counting from 1
_SESSION_IDS_CTES = """flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS is_break
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        SELECT user_id, ts,
               SUM(is_break) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1 AS session_id
        FROM flagged
    )"""


@register(
    "sessionize_events",
    op_ids="beyond-reference sessionization (batch twin of session_window)",
    description="gap-based sessions per user: 30-minute inactivity threshold",
    oracle=f"""
        WITH {_SESSION_IDS_CTES}
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               COUNT(*) AS n_events,
               MIN(ts) AS session_start, MAX(ts) AS session_end
        FROM numbered
        GROUP BY user_id, session_id
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load(spark, sf_dir, "events")
    return sessionize_batch(events, gap_minutes=30)


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver smoke query (``entry()``): the snowflake-join revenue
    rollup — scans the big fact, joins the full dimension chain with
    broadcasts, aggregates exactly."""
    return regional_revenue(spark, sf_dir)


# per-region top-2 nations by revenue; ``v`` prefixes the table names
# (the Spark side reads temp views, the oracle the tables themselves)
_TOP_NATIONS_SQL = """
        WITH rev AS (
            SELECT r.r_name AS region_name, n.n_name AS nation_name,
                   SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS revenue
            FROM {v}orders o
            JOIN {v}customer c ON o.o_custkey = c.c_custkey
            JOIN {v}nation n ON c.c_nationkey = n.n_nationkey
            JOIN {v}region r ON n.n_regionkey = r.r_regionkey
            GROUP BY 1, 2
        )
        SELECT region_name, nation_name,
               CAST(revenue AS DOUBLE) AS revenue, rk
        FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY region_name
                  ORDER BY revenue DESC, nation_name) AS rk
              FROM rev)
        WHERE rk <= 2
    """


@register(
    "sql_api_top_nations",
    op_ids="§2 SQL surface parity: the same engine via spark.sql over "
    "registered views (CTE + window + join in one SQL string)",
    description="per-region top-2 nations by revenue, written as pure "
    "SQL against temp views — proof the full suite's semantics are "
    "reachable through the SQL API, not just the DataFrame DSL",
    oracle=_TOP_NATIONS_SQL.format(v=""),
)
def sql_api_top_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, customer, nation, region = load(
        spark, sf_dir, "orders", "customer", "nation", "region"
    )
    orders.createOrReplaceTempView("v_sql_orders")
    customer.createOrReplaceTempView("v_sql_customer")
    nation.createOrReplaceTempView("v_sql_nation")
    region.createOrReplaceTempView("v_sql_region")
    return spark.sql(_TOP_NATIONS_SQL.format(v="v_sql_"))


@register(
    "event_transition_matrix",
    op_ids="beyond-reference Markov path analysis (per-user lead "
    "window -> dimension-squared transition aggregate; conditional "
    "probabilities as one exact-count division)",
    description="first-order event-type transition matrix with "
    "P(to|from) over per-user time-ordered streams — the next-action "
    "model behind funnels and recommendation triggers",
    oracle="""
        WITH pairs AS (
            SELECT event_type AS from_type,
                   LEAD(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS to_type
            FROM events
        ),
        counted AS (
            SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
            FROM pairs WHERE to_type IS NOT NULL
            GROUP BY from_type, to_type
        ),
        totals AS (
            SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
            FROM counted GROUP BY from_type
        )
        SELECT c.from_type, c.to_type, c.n,
               c.n / CAST(t.n_from AS DOUBLE) AS p
        FROM counted c JOIN totals t USING (from_type)
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.sessions import event_transitions

    (events,) = load(spark, sf_dir, "events")
    return event_transitions(events)


@register(
    "partition_pruned_read",
    op_ids="S9 generalized to directory partition pruning: a filter on "
    "the partition column prunes whole directories at PLANNING time "
    "(PartitionFilters at the scan, pinned in "
    "tests/test_plan_shapes.py) — only 1 of ~7 year partitions is "
    "ever listed or read",
    description="orders written partitioned by order year, read back "
    "filtered to 1995: the 100 TB raw/staging layout stance (partition "
    "by date/season) made executable — revenue by status over the one "
    "surviving partition",
    oracle="""
        SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue
        FROM orders
        WHERE year(CAST(o_orderdate AS DATE)) = 1995
        GROUP BY o_orderstatus
    """,
)
def partition_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.suite.ingest import _fresh_dir

    (orders,) = load(spark, sf_dir, "orders")
    path = _fresh_dir("suite_partread_") + "/orders_by_year"
    orders.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.year(F.col("o_orderdate").cast("date")).alias("o_year"),
    ).write.partitionBy("o_year").parquet(path)
    return (
        spark.read.parquet(path)
        .filter(F.col("o_year") == 1995)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("revenue"),
        )
    )


@register(
    "dynamic_partition_pruned_join",
    op_ids="beyond-reference dynamic partition pruning: the partition "
    "filter is DERIVED AT RUNTIME from the broadcast dim side of a "
    "join (dynamicpruningexpression at the scan) — the fact table "
    "never lists the non-qualifying year directories even though no "
    "literal filter mentions them",
    description="orders partitioned by year joined to a 2-row year "
    "dimension: DPP injects the dim's years into the fact scan's "
    "partition filters, the 100 TB star-join fact-pruning mechanism",
    oracle="""
        SELECT CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS o_year,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue
        FROM orders
        WHERE year(CAST(o_orderdate AS DATE)) IN (1994, 1996)
        GROUP BY 1
    """,
)
def dynamic_partition_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.suite.ingest import _fresh_dir

    (orders,) = load(spark, sf_dir, "orders")
    path = _fresh_dir("suite_dpp_") + "/orders_by_year"
    orders.select(
        "o_orderkey",
        "o_totalprice",
        F.year(F.col("o_orderdate").cast("date")).alias("o_year"),
    ).write.partitionBy("o_year").parquet(path)
    # DPP's planner shape: a FILTERED dimension joined on the
    # partition column — the filter is what marks the build side
    # selective enough to derive a pruning subquery from
    years = spark.createDataFrame(
        [(1994, "keep"), (1995, "drop"), (1996, "keep")], "o_year int, tag string"
    ).filter(F.col("tag") == "keep").select("o_year")
    fact = spark.read.parquet(path)
    return (
        fact.join(F.broadcast(years), on="o_year")
        .groupBy(F.col("o_year").cast("int").alias("o_year"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("revenue"),
        )
    )


@register(
    "sql_api_parameterized",
    op_ids="§2 SQL surface parity, Spark 4 parameterized queries: "
    "spark.sql(sql, args) with named parameter markers — values bind "
    "as literals through the analyzer (no string interpolation, no "
    "injection surface), the programmatic-SQL contract an "
    "application layer builds on",
    description="order-priority revenue rollup over a half-open date "
    "range passed as :start/:end named parameters to spark.sql",
    oracle="""
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue
        FROM orders
        WHERE CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
          AND CAST(o_orderdate AS DATE) <  DATE '1996-01-01'
        GROUP BY o_orderpriority
    """,
)
def sql_api_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime

    (orders,) = load(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("v_sql_param_orders")
    return spark.sql(
        """
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue
        FROM v_sql_param_orders
        WHERE CAST(o_orderdate AS DATE) >= :start
          AND CAST(o_orderdate AS DATE) < :end
        GROUP BY o_orderpriority
        """,
        args={
            "start": datetime.date(1995, 1, 1),
            "end": datetime.date(1996, 1, 1),
        },
    )


@register(
    "paginated_orders",
    op_ids="§2.6 deterministic keyset-free pagination: global ORDER BY "
    "+ LIMIT/OFFSET (Spark 4 DataFrame.offset) — correct only under a "
    "total order, hence the unique-key sort; at scale prefer keyset "
    "pagination (WHERE key > last_seen ORDER BY key LIMIT n), which "
    "this query's sort key makes directly available",
    description="page 3 of the orders feed: 50 rows ordered by order "
    "key, offset 100",
    oracle="""
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders
        ORDER BY o_orderkey
        LIMIT 50 OFFSET 100
    """,
)
def paginated_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
        .offset(100)
        .limit(50)
    )


@register(
    "compaction_roundtrip",
    op_ids="beyond-reference table maintenance: small-file compaction "
    "(the OPTIMIZE pass an incremental/streaming sink needs) — a "
    "64-file fragmented table rewritten to size-targeted files, "
    "content hash-verified unchanged; file-count collapse pinned in "
    "tests",
    description="orders written as 64 tiny files, compacted by "
    "layout.compact_files, read back: identical content, a fraction "
    "of the files",
    oracle="""
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    """,
)
def compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.layout import compact_files
    from nhl_data_warehouse_spark.suite.ingest import _fresh_dir

    (orders,) = load(spark, sf_dir, "orders")
    root = _fresh_dir("suite_compact_")
    frag = root + "/fragmented"
    compacted = root + "/compacted"
    orders.select("o_orderkey", "o_orderstatus", "o_totalprice").repartition(
        64
    ).write.parquet(frag)
    compact_files(spark, frag, compacted, target_file_bytes=64 * 1024 * 1024)
    return spark.read.parquet(compacted)


@register(
    "price_band_lookup_join",
    op_ids="beyond-reference interval-table lookup join "
    "(operators/rangejoin.py:interval_lookup_join): variable-width, "
    "overlapping ranges replicated into fixed cells; points probe ONE "
    "cell; equi-join + exact predicate — the IP-range/price-band/"
    "geo-cell shape that a naive inequality join turns into a "
    "broadcast-nested-loop",
    description="orders matched to overlapping price bands via "
    "cell-bucketed interval join, aggregated per band",
    oracle="""
        WITH bands(label, lo, hi) AS (
            VALUES ('budget',     CAST(0      AS DOUBLE), CAST(50000  AS DOUBLE)),
                   ('mid',        CAST(50000  AS DOUBLE), CAST(150000 AS DOUBLE)),
                   ('premium',    CAST(150000 AS DOUBLE), CAST(300000 AS DOUBLE)),
                   ('luxury',     CAST(300000 AS DOUBLE), CAST(600000 AS DOUBLE)),
                   ('high_value', CAST(100000 AS DOUBLE), CAST(600000 AS DOUBLE))
        )
        SELECT label,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_price
        FROM orders JOIN bands
          ON o_totalprice >= lo AND o_totalprice < hi
        GROUP BY label
    """,
)
def price_band_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.operators.rangejoin import interval_lookup_join

    (orders,) = load(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        [
            ("budget", 0.0, 50000.0),
            ("mid", 50000.0, 150000.0),
            ("premium", 150000.0, 300000.0),
            ("luxury", 300000.0, 600000.0),
            ("high_value", 100000.0, 600000.0),
        ],
        "label string, lo double, hi double",
    )
    joined = interval_lookup_join(
        orders,
        bands,
        value_col="o_totalprice",
        cell_width=50000.0,
    )
    return joined.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )
