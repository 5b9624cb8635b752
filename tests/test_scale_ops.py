"""Scale-technique tests: salted aggregation/join equivalence and
bucketed co-located joins (shuffle elimination visible in the plan)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nhl_data_warehouse_spark import write
from nhl_data_warehouse_spark.operators.skew import salted_agg, salted_join


@pytest.fixture(scope="module")
def skewed(spark):
    # one hot key (90%) + long tail — the shape that straggles one reducer
    hot = spark.range(900).select(
        F.lit("hot").alias("k"), (F.col("id") % 7).cast("double").alias("v")
    )
    tail = spark.range(100).select(
        F.concat(F.lit("t"), F.col("id")).alias("k"), F.lit(1.0).alias("v")
    )
    return hot.unionByName(tail)


def test_salted_agg_matches_plain_groupby(spark, skewed):
    plain = {
        r.k: (r.c, float(r.s))
        for r in skewed.groupBy("k")
        .agg(F.count(F.lit(1)).alias("c"), F.sum("v").cast("decimal(18,2)").alias("s"))
        .collect()
    }
    salted = {
        r.k: (r.count_rows, float(r.sum_v))
        for r in salted_agg(
            skewed,
            keys=["k"],
            aggs={
                "count_rows": F.count(F.lit(1)),
                "sum_v": F.sum(F.col("v").cast("decimal(18,2)")),
            },
        ).collect()
    }
    assert salted == plain
    assert salted["hot"][0] == 900


def test_salted_agg_rejects_unmergeable_prefix(skewed):
    with pytest.raises(ValueError, match="must be prefixed"):
        salted_agg(skewed, ["k"], {"avg_v": F.avg("v")}).collect()


def test_salted_join_matches_plain_join(spark, skewed):
    dim = spark.createDataFrame(
        [("hot", "H"), ("t1", "A"), ("t2", "B")], "k string, label string"
    )
    plain = sorted(
        (r.k, r.label) for r in skewed.join(dim, on="k").select("k", "label").collect()
    )
    salted = sorted(
        (r.k, r.label)
        for r in salted_join(skewed, dim, n_salts=4)
        .select("k", "label")
        .collect()
    )
    assert salted == plain
    assert len(salted) == 902  # 900 hot + t1 + t2


class TestBucketedJoin:
    def test_bucketed_tables_join_without_shuffle(self, spark):
        spark.sql("DROP TABLE IF EXISTS bkt_facts")
        spark.sql("DROP TABLE IF EXISTS bkt_dim")
        facts = spark.range(1000).select(
            (F.col("id") % 100).alias("k"), F.col("id").alias("payload")
        )
        dim = spark.range(100).select(
            F.col("id").alias("k"), F.concat(F.lit("n"), F.col("id")).alias("name")
        )
        write.write_bucketed(facts, "bkt_facts", "k")
        write.write_bucketed(dim, "bkt_dim", "k")

        # disable broadcast so the co-location (not dim size) is what
        # eliminates the exchanges
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("bkt_facts").join(spark.table("bkt_dim"), on="k")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, (
                "bucketed-bucketed equi-join must not reshuffle either side"
            )
            assert joined.count() == 1000
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
            spark.sql("DROP TABLE bkt_facts")
            spark.sql("DROP TABLE bkt_dim")


class TestPartitionedWrites:
    def test_partition_pruning_reaches_scan(self, spark, tmp_path):
        """A partitioned parquet write + a partition-key filter:
        the scan must list only the matching partition directories
        (PartitionFilters), not read-then-filter — at 100TB this is
        the difference between one partition and the whole table."""
        from nhl_data_warehouse_spark import write

        events = spark.createDataFrame(
            [(i, "click" if i % 2 else "view", float(i)) for i in range(100)],
            "event_id long, event_type string, value double",
        )
        path = str(tmp_path / "events_part")
        events.write.mode("overwrite").partitionBy("event_type").parquet(path)

        df = spark.read.parquet(path).filter("event_type = 'click'")
        plan = df._jdf.queryExecution().executedPlan().toString()
        import re

        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m and "event_type" in m.group(1), "filter must prune partitions"
        # and the data filter list must NOT carry the partition predicate
        d = re.search(r"DataFilters: \[([^\]]*)\]", plan)
        assert d is None or "event_type" not in d.group(1)
        assert df.count() == 50


class TestDynamicPartitionOverwrite:
    def test_rewrites_only_touched_partitions(self, spark, tmp_path):
        from nhl_data_warehouse_spark import write

        path = str(tmp_path / "daily")
        day1 = spark.createDataFrame(
            [("2024-01-01", 1, 10.0), ("2024-01-02", 2, 20.0)],
            "ds string, id long, v double",
        )
        write.overwrite_partitions(day1, path, ["ds"])
        # rerun day 2 with corrected data: day 1 must survive untouched
        day2_fixed = spark.createDataFrame(
            [("2024-01-02", 2, 99.0)], "ds string, id long, v double"
        )
        write.overwrite_partitions(day2_fixed, path, ["ds"])
        # partition values come back type-inferred (date here)
        out = {(str(r.ds), r.id): r.v for r in spark.read.parquet(path).collect()}
        assert out == {("2024-01-01", 1): 10.0, ("2024-01-02", 2): 99.0}


class TestQualityGates:
    def test_unique_check(self, spark):
        from nhl_data_warehouse_spark.plans import unique_check
        from nhl_data_warehouse_spark.plans.quality import QualityCheckError

        import pytest as pt

        clean = spark.createDataFrame([(1, "a"), (2, "b")], "k long, x string")
        assert unique_check(clean, ["k"]) == 0
        dirty = spark.createDataFrame([(1, "a"), (1, "b"), (2, "c")], "k long, x string")
        with pt.raises(QualityCheckError, match="1 duplicated keys"):
            unique_check(dirty, ["k"])

    def test_accepted_values_check(self, spark):
        from nhl_data_warehouse_spark.plans import accepted_values_check
        from nhl_data_warehouse_spark.plans.quality import QualityCheckError

        import pytest as pt

        df = spark.createDataFrame([("O",), ("F",)], "status string")
        assert accepted_values_check(df, "status", ["O", "F", "P"]) == 0
        bad = spark.createDataFrame([("O",), ("X",), (None,)], "status string")
        with pt.raises(QualityCheckError, match="unexpected"):
            accepted_values_check(bad, "status", ["O", "F", "P"])

    def test_quality_report_one_pass_all_checks(self, spark):
        from nhl_data_warehouse_spark.plans.quality import quality_report

        df = spark.createDataFrame(
            [
                (1, "O", "2024-01-10 00:00:00"),
                (1, "F", "2024-01-11 00:00:00"),  # duplicate key
                (2, "X", None),  # unaccepted status, null ts
            ],
            "k long, status string, loaded string",
        ).selectExpr("k", "status", "CAST(loaded AS TIMESTAMP) AS loaded")
        report = {
            r.check_name: (r.violations, r.passed)
            for r in quality_report(
                df,
                null_cols=["loaded"],
                unique_cols=["k"],
                accepted=("status", ["O", "F"]),
                fresh=("loaded", "2024-01-11 00:00:00"),
            ).collect()
        }
        assert report["null_loaded"] == (1, False)
        assert report["duplicate_rows"] == (1, False)
        assert report["unaccepted_status"] == (1, False)
        assert report["stale_loaded"] == (0, True)  # newest == threshold
        # one scan, one aggregation: a single Exchange without the
        # distinct-count check; unique_cols adds the standard second
        # phase of COUNT(DISTINCT) and nothing more
        plan_simple = (
            quality_report(df, null_cols=["loaded", "status"])
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan_simple.count("Exchange") <= 1
        plan_distinct = (
            quality_report(df, null_cols=["loaded"], unique_cols=["k"])
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan_distinct.count("Exchange") <= 2

    def test_freshness_check(self, spark):
        from nhl_data_warehouse_spark.plans import freshness_check
        from nhl_data_warehouse_spark.plans.quality import QualityCheckError

        import pytest as pt

        df = spark.createDataFrame(
            [("2024-01-10 00:00:00",)], "loaded string"
        ).selectExpr("CAST(loaded AS TIMESTAMP) AS loaded")
        freshness_check(df, "loaded", "2 days", now="2024-01-11 00:00:00")
        with pt.raises(QualityCheckError, match="freshness"):
            freshness_check(df, "loaded", "2 days", now="2024-01-20 00:00:00")
        # empty frame is never fresh
        with pt.raises(QualityCheckError):
            freshness_check(df.filter("1=0"), "loaded", "2 days", now="2024-01-11 00:00:00")
