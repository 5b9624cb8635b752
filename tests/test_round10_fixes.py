"""Round-10 regression pins for the three ADVICE r9 items:

1. ``prefix_sum_cells`` is fully LAZY — building a gini / theil-sen
   plan no longer executes the upstream scan/join (the r9 form ran
   persist()+count() at DataFrame-construction time).
2. ``derive_cell_minutes`` reads the p90 off a minute-cell histogram
   via the two-pass prefix sum — no single-reducer exact percentile
   over the row-scale interval relation.
3. ``grouped_cusum_peak`` no longer force-broadcasts the per-group
   totals/peaks relations — plain equi-joins, AQE picks the strategy.
"""

import pytest
from pyspark.sql import functions as F

from tests.conftest import *  # noqa: F401,F403  (spark fixture)


class TestPrefixSumLazyConstruction:
    def test_building_gini_plan_runs_no_jobs(self, spark):
        """ADVICE r9 item 2: merely constructing the gini frame (e.g.
        plan_of in tests, or a caller that never executes it) must not
        launch a Spark job. The bucket id is now a pure function of
        the cell value, so nothing needs eager pinning."""
        from nhl_data_warehouse_spark.operators.stats import gini_coefficient

        sc = spark.sparkContext
        # settle: force any pending work, then snapshot the job count
        spark.range(1).count()
        before = len(sc.statusTracker().getJobIdsForGroup(None))
        df = spark.range(100_000).select(
            (F.col("id") % 9973).cast("double").alias("v")
        )
        g = gini_coefficient(df, "v")
        _ = g.schema  # analysis only
        _ = g._jdf.queryExecution().executedPlan().toString()
        after = len(sc.statusTracker().getJobIdsForGroup(None))
        assert after == before, "plan construction launched Spark jobs"
        # a LAZY persist (no count) is allowed — it shares the bucketed
        # frame across the cumsum/totals branches without running any
        # job at construction; the zero-jobs assert above is the pin

    def test_prefix_sum_exact_on_skewed_value_domain(self, spark):
        """Value-derived buckets must stay EXACT even when cells crowd
        one value range (balance may degrade, correctness may not)."""
        from nhl_data_warehouse_spark.operators.stats import prefix_sum_cells

        # 500 cells packed into [0, 500) plus 3 far outliers
        cells = list(range(500)) + [10**9, 10**12, 10**15]
        hist = spark.createDataFrame(
            [(c, c % 7 + 1) for c in cells], "c long, nv long"
        )
        rows = sorted(
            prefix_sum_cells(hist, "c", "nv").collect(), key=lambda r: r["c"]
        )
        cum = 0
        for r in rows:
            assert r["cum"] == cum, f"cum broken at c={r['c']}"
            cum += r["nv"]

    def test_prefix_sum_single_cell_and_empty(self, spark):
        from nhl_data_warehouse_spark.operators.stats import prefix_sum_cells

        one = spark.createDataFrame([(42, 7)], "c long, nv long")
        assert prefix_sum_cells(one, "c", "nv").collect()[0]["cum"] == 0
        empty = one.where(F.lit(False))
        assert prefix_sum_cells(empty, "c", "nv").count() == 0


class TestDeriveCellMinutesHistogram:
    def _mk(self, spark, secs):
        df = spark.createDataFrame(
            [(i, 0, s) for i, s in enumerate(secs)], "id long, s long, e long"
        )
        return df.select(
            "id",
            F.timestamp_micros(F.col("s") * 1_000_000).alias("st"),
            F.timestamp_micros(F.col("e") * 1_000_000).alias("en"),
        )

    def test_rank_semantics_hand_computed(self, spark):
        """10 one-minute + 10 ten-minute lengths per side: n=40,
        rank ceil(.9*40)=36 lands in the 10-minute cell."""
        from nhl_data_warehouse_spark.operators.rangejoin import (
            derive_cell_minutes,
        )

        df = self._mk(spark, [60] * 10 + [600] * 10)
        assert derive_cell_minutes(df, df, "st", "en") == 10
        # p50: rank ceil(.5*40)=20 -> still inside the 1-minute cell
        assert derive_cell_minutes(df, df, "st", "en", pct=0.5) == 1

    def test_sub_minute_lengths_floor_to_one(self, spark):
        from nhl_data_warehouse_spark.operators.rangejoin import (
            derive_cell_minutes,
        )

        df = self._mk(spark, [5, 10, 30, 59])
        assert derive_cell_minutes(df, df, "st", "en") == 1

    def test_no_rowscale_percentile_aggregate(self, spark):
        """The interval relation must reach only groupBy aggregates —
        the exact ``percentile`` (single-reducer collect of all
        lengths) is gone from the auto-derive path. Verified on the
        picker frame's plan via the same construction the operator
        runs internally."""
        from nhl_data_warehouse_spark.operators.stats import prefix_sum_cells

        df = self._mk(spark, [60] * 50 + [600] * 5)
        lens = df.select(
            (F.unix_micros("en") - F.unix_micros("st")).alias("l")
        ).unionAll(
            df.select((F.unix_micros("en") - F.unix_micros("st")).alias("l"))
        )
        hist = (
            lens.select(
                F.greatest(
                    F.lit(1), F.ceil(F.col("l") / F.lit(60_000_000))
                ).cast("long").alias("m")
            )
            .groupBy("m")
            .agg(F.count(F.lit(1)).alias("nv"))
        )
        plan = (
            prefix_sum_cells(hist, "m", "nv")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # the only percentile left runs over the DETERMINISTIC 1/64
        # hash-sample of minute CELLS (bounded single-reducer input),
        # never over the row-scale interval relation — pinned by the
        # xxhash64 sample filter feeding it
        assert "xxhash64" in plan
        assert "partial_count" in plan or "HashAggregate" in plan


class TestGroupedCusumNoForcedBroadcast:
    def test_no_broadcast_hint_in_analyzed_plan(self, spark):
        """ADVICE r9 item 3: the per-group totals/peaks joins carry no
        broadcast hint — a high-cardinality group_col must be free to
        shuffle-join instead of shipping a data-sized relation to
        every executor. (AQE still broadcasts small slices at
        runtime — that is the point.)"""
        import datetime

        from nhl_data_warehouse_spark.operators.timeseries import (
            grouped_cusum_peak,
        )

        d0 = datetime.date(2025, 1, 1)
        rows = [
            (f"g{i % 5}", d0 + datetime.timedelta(days=i % 30), 100 + i)
            for i in range(150)
        ]
        df = spark.createDataFrame(rows, "g string, d date, x long")
        analyzed = (
            grouped_cusum_peak(df, "g")
            ._jdf.queryExecution()
            .analyzed()
            .toString()
        )
        assert "ResolvedHint" not in analyzed
        assert "broadcast" not in analyzed.lower()
