"""Negative-case tests for the tolerance-band sketch oracles
(VERDICT r6 item 5): the three reshaped sketch queries assert
engine-independent error-band booleans (``hll_within_5sigma``,
``merged_within_6sigma``, ``p50/p95_in_bounds``). Their oracles state
TRUE, so a green hash only means something if the band CAN fail —
these tests prove it does: a deliberately-wrong estimate (exact ÷ 2,
or a value below the group minimum) run through the exact same
integer band arithmetic flips the boolean to False, which would flip
the value hash and fail the driver's correctness gate.

The positive direction (the real sketches land inside the bands) is
continuously asserted by the oracle checks themselves; each test here
re-asserts it alongside the negative case so a band that degenerates
to always-True OR always-False is caught either way.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events(spark):
    from nhl_data_warehouse_spark.suite.core import load

    (ev,) = load(spark, SF_DIR, "events")
    return ev


def _distinct_band(est_col, exact_col):
    """The exact integer band used by approx_distinct_users and
    hll_sketch_merge_rollup: |est − exact|·10 ≤ exact + 30
    (⇔ |est − exact| ≤ 0.10·exact + 3)."""
    return F.abs(est_col - exact_col) * 10 <= exact_col + 30


class TestDistinctBands:
    def test_real_sketch_inside_band(self, spark, events):
        from nhl_data_warehouse_spark.suite import REGISTRY

        rows = REGISTRY["approx_distinct_users"].fn(spark, SF_DIR).collect()
        assert rows and all(r.hll_within_5sigma for r in rows)

    def test_halved_estimate_flips_boolean(self, events):
        # est = exact DIV 2 violates the band whenever exact ≥ 8
        # (|exact/2|·10 ≥ 5·(exact−1) > exact + 30 ⇔ exact ≥ 8.75,
        # integer-safe from 9; the fixture groups are far larger)
        out = (
            events.groupBy("event_type")
            .agg(F.count_distinct("user_id").alias("exact_users"))
            .where(F.col("exact_users") >= 9)
            .select(
                "exact_users",
                _distinct_band(
                    F.expr("exact_users DIV 2"), F.col("exact_users")
                ).alias("in_band"),
            )
            .collect()
        )
        assert out and all(not r.in_band for r in out)

    def test_merged_rollup_band_flips_on_corrupt_merge(self, spark, events):
        from nhl_data_warehouse_spark.operators.sketches import (
            hll_partitioned_rollup,
        )

        rollup = hll_partitioned_rollup(
            events,
            group_col="event_type",
            partition_col=F.to_date("ts"),
            id_col="user_id",
        )
        exact = events.groupBy("event_type").agg(
            F.count_distinct("user_id").alias("exact_users")
        )
        joined = rollup.join(exact, "event_type").where(
            F.col("exact_users") >= 9
        )
        rows = joined.select(
            _distinct_band(F.col("est_distinct"), F.col("exact_users")).alias(
                "real_in_band"
            ),
            # a merge that dropped half the partials: halved estimate
            _distinct_band(
                F.expr("est_distinct DIV 2"), F.col("exact_users")
            ).alias("corrupt_in_band"),
        ).collect()
        assert rows
        assert all(r.real_in_band for r in rows)
        assert all(not r.corrupt_in_band for r in rows)


class TestPercentileRankBands:
    def test_real_sketch_inside_band(self, spark, events):
        from nhl_data_warehouse_spark.suite import REGISTRY

        rows = REGISTRY["approx_value_percentiles"].fn(spark, SF_DIR).collect()
        assert rows and all(r.p50_in_bounds and r.p95_in_bounds for r in rows)

    def test_below_minimum_estimate_flips_both_bands(self, events):
        # An estimate below every value has rank_lt = rank_le = 0;
        # with err = n·4 DIV 10000 + 1 the lower bracket r − err > 0
        # already at n ≥ 3, so both booleans must flip.
        vals = events.select("event_type", "value").where(
            F.col("value").isNotNull()
        )
        bad = vals.groupBy("event_type").agg(
            (F.min("value") - 1).alias("_e")
        )
        ranks = (
            vals.join(F.broadcast(bad), "event_type")
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_values"),
                F.sum((F.col("value") < F.col("_e")).cast("long")).alias("_lt"),
                F.sum((F.col("value") <= F.col("_e")).cast("long")).alias("_le"),
            )
            .where(F.col("n_values") >= 3)
        )
        err = F.expr("n_values * 4 DIV 10000") + 1
        r50 = F.expr("(n_values + 1) DIV 2")
        r95 = F.expr("(n_values * 19 + 19) DIV 20")
        rows = ranks.select(
            ((F.col("_le") >= r50 - err) & (F.col("_lt") < r50 + err)).alias(
                "p50_in_bounds"
            ),
            ((F.col("_le") >= r95 - err) & (F.col("_lt") < r95 + err)).alias(
                "p95_in_bounds"
            ),
        ).collect()
        assert rows
        assert all(not r.p50_in_bounds and not r.p95_in_bounds for r in rows)


class TestHeavyHitterExactnessRegime:
    def test_real_sketch_exact_in_regime(self, spark):
        from nhl_data_warehouse_spark.suite import REGISTRY

        (row,) = REGISTRY["approx_topk_heavy_hitters"].fn(spark, SF_DIR).collect()
        assert row.topk_counts_exact and row.topk_dominates
        # the regime precondition itself: capacity >= distinct items
        assert row.n_distinct_grams <= 10000

    def test_corrupt_counts_flip_the_boolean(self, spark):
        # a sketch that under-counts (count - 1) must fail the
        # counts-exact check; one that drops the top item must fail
        # the dominance check
        from nhl_data_warehouse_spark.operators.text import _word_bigrams
        from nhl_data_warehouse_spark.suite.core import load

        (documents,) = load(spark, SF_DIR, "documents")
        grams = documents.select(F.explode(_word_bigrams()).alias("gram"))
        exact = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("c")).persist()
        exact.count()
        top = exact.orderBy(F.col("c").desc(), F.col("gram")).limit(10)
        kth = top.agg(F.min("c").alias("kth"))

        corrupt_counts = top.select("gram", (F.col("c") - 1).alias("sk_count"))
        bad_exact = (
            corrupt_counts.join(exact, "gram", "left")
            .agg(F.bool_and(F.col("sk_count") == F.col("c")).alias("ok"))
            .first()
            .ok
        )
        assert bad_exact is False

        # drop the single most frequent gram from the sketch set
        first = top.orderBy(F.col("c").desc(), F.col("gram")).first().gram
        dropped = top.where(F.col("gram") != first).select(
            "gram", F.lit(True).alias("__in_sk")
        )
        dominates = (
            exact.crossJoin(F.broadcast(kth))
            .where(F.col("c") > F.col("kth"))
            .join(dropped, "gram", "left")
            .agg(F.bool_and(F.col("__in_sk").isNotNull()).alias("ok"))
            .first()
            .ok
        )
        assert dominates is False
