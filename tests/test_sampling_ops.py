"""Deterministic sampling / corpus-mix operators (operators/sampling.py).

The load-bearing property throughout is *content-addressed* sampling:
a row's fate depends only on its own key + salt, never on RNG state,
partitioning, or what other rows exist.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from nhl_data_warehouse_spark.operators import sampling


def ids(df):
    return {r[0] for r in df.select(df.columns[0]).collect()}


class TestHashSample:
    def test_deterministic_and_near_rate(self, spark):
        df = spark.range(10_000).withColumnRenamed("id", "doc_id")
        s1 = ids(sampling.hash_sample(df, 0.2, salt="s"))
        s2 = ids(sampling.hash_sample(df, 0.2, salt="s"))
        assert s1 == s2
        assert 0.17 < len(s1) / 10_000 < 0.23

    def test_fate_independent_of_neighbors(self, spark):
        # sample(A ∪ B) == sample(A) ∪ sample(B): adding data never
        # changes which existing rows survive (incremental corpus builds)
        a = spark.range(0, 5_000).withColumnRenamed("id", "doc_id")
        b = spark.range(5_000, 10_000).withColumnRenamed("id", "doc_id")
        both = ids(sampling.hash_sample(a.union(b), 0.3, salt="x"))
        parts = ids(sampling.hash_sample(a, 0.3, salt="x")) | ids(
            sampling.hash_sample(b, 0.3, salt="x")
        )
        assert both == parts

    def test_salts_give_different_samples(self, spark):
        df = spark.range(10_000).withColumnRenamed("id", "doc_id")
        s1 = ids(sampling.hash_sample(df, 0.2, salt="a"))
        s2 = ids(sampling.hash_sample(df, 0.2, salt="b"))
        overlap = len(s1 & s2) / max(len(s1), 1)
        assert 0.1 < overlap < 0.35  # ~rate, i.e. independent draws

    def test_rate_one_keeps_all(self, spark):
        df = spark.range(100).withColumnRenamed("id", "doc_id")
        assert sampling.hash_sample(df, 1.0).count() == 100


class TestHashSplit:
    def test_disjoint_exhaustive_proportional(self, spark):
        df = spark.range(10_000).withColumnRenamed("id", "doc_id")
        out = sampling.hash_split(
            df, ["doc_id"], {"train": 0.8, "val": 0.1, "test": 0.1}, salt="sp"
        )
        counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
        assert sum(counts.values()) == 10_000  # exhaustive, one label each
        assert 0.77 < counts["train"] / 10_000 < 0.83
        assert 0.07 < counts["val"] / 10_000 < 0.13
        assert 0.07 < counts["test"] / 10_000 < 0.13

    def test_assignment_stable(self, spark):
        df = spark.range(1_000).withColumnRenamed("id", "doc_id")
        a = dict(
            sampling.hash_split(df, ["doc_id"], {"train": 0.9, "test": 0.1}).collect()
        )
        b = dict(
            sampling.hash_split(df, ["doc_id"], {"train": 0.9, "test": 0.1}).collect()
        )
        assert a == b


class TestGroupCap:
    def test_caps_only_oversized_groups(self, spark):
        rows = [(i, "big") for i in range(100)] + [(1000 + i, "small") for i in range(5)]
        df = spark.createDataFrame(rows, "doc_id long, source string")
        out = sampling.group_cap(df, cap=10)
        by_src = {
            r["source"]: r["n"]
            for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
        }
        assert by_src == {"big": 10, "small": 5}

    def test_retained_subset_deterministic(self, spark):
        df = spark.createDataFrame(
            [(i, "s") for i in range(50)], "doc_id long, source string"
        )
        a = ids(sampling.group_cap(df, 7, salt="c"))
        b = ids(sampling.group_cap(df, 7, salt="c"))
        assert a == b and len(a) == 7


class TestProportionalRebalance:
    def test_bottleneck_kept_whole_and_mix_converges(self, spark):
        # 4000 en / 500 de / 450 fr, uniform target -> fr is bottleneck
        rows = (
            [(i, "en") for i in range(4_000)]
            + [(10_000 + i, "de") for i in range(500)]
            + [(20_000 + i, "fr") for i in range(450)]
        )
        df = spark.createDataFrame(rows, "doc_id long, lang string")
        out = sampling.proportional_rebalance(
            df, {"en": 1 / 3, "de": 1 / 3, "fr": 1 / 3}
        )
        counts = {
            r["lang"]: r["n"]
            for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
        }
        assert counts["fr"] == 450  # rate exactly 1.0 at the bottleneck
        # hash-binomial around 450 for the downsampled groups
        assert 380 < counts["en"] < 520
        assert 380 < counts["de"] < 520

    def test_groups_without_target_share_dropped(self, spark):
        df = spark.createDataFrame(
            [(1, "en"), (2, "xx")], "doc_id long, lang string"
        )
        out = sampling.proportional_rebalance(df, {"en": 1.0})
        assert [r["lang"] for r in out.collect()] == ["en"]


class TestTemperatureRebalance:
    def test_alpha_boosts_small_groups(self, spark):
        from nhl_data_warehouse_spark.operators.sampling import temperature_rebalance

        rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
        df = spark.createDataFrame(rows, "id long, g string")
        out = temperature_rebalance(df, "g", alpha=0.3, id_cols=["id"])
        got = {r.g: r.n for r in out.groupBy("g").count().withColumnRenamed("count", "n").collect()}
        # the small (bottleneck) group survives whole; the big group is
        # downsampled toward — but not all the way to — the small one
        assert got["small"] == 100
        assert 100 < got["big"] < 900
        # deterministic: a rerun selects the identical row set
        again = {r.g: r.n for r in temperature_rebalance(df, "g", alpha=0.3, id_cols=["id"]).groupBy("g").count().withColumnRenamed("count", "n").collect()}
        assert again == got

    def test_alpha_one_is_natural_mix(self, spark):
        from nhl_data_warehouse_spark.operators.sampling import temperature_rebalance

        rows = [(i, "a" if i % 3 else "b") for i in range(300)]
        df = spark.createDataFrame(rows, "id long, g string")
        out = temperature_rebalance(df, "g", alpha=1.0, id_cols=["id"])
        # alpha=1: target shares equal observed shares -> every rate is
        # 1.0 and nothing is dropped
        assert out.count() == 300


class TestDeterministicShuffle:
    def test_dense_total_order_stable_under_repartition(self, spark):
        from nhl_data_warehouse_spark.operators.sampling import (
            deterministic_shuffle,
        )

        df = spark.createDataFrame([(i,) for i in range(97)], "doc_id long")
        out = {
            r.doc_id: r.shuffle_pos
            for r in deterministic_shuffle(df).collect()
        }
        # dense 1..n, every row placed exactly once
        assert sorted(out.values()) == list(range(1, 98))
        # not the identity order (it's a shuffle)
        assert [out[i] for i in range(97)] != list(range(1, 98))
        # content-addressed: partitioning must not change the order
        again = {
            r.doc_id: r.shuffle_pos
            for r in deterministic_shuffle(df.repartition(7)).collect()
        }
        assert again == out

    def test_matches_global_sort_reference(self, spark):
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        from nhl_data_warehouse_spark.operators.sampling import (
            deterministic_shuffle,
        )

        df = spark.createDataFrame([(i,) for i in range(50)], "doc_id long")
        got = {
            r.doc_id: r.shuffle_pos
            for r in deterministic_shuffle(df, salt="s2").collect()
        }
        h = F.md5(F.concat_ws("|", F.lit("s2"), F.col("doc_id").cast("string")))
        w = Window.orderBy(h, "doc_id")
        ref = {
            r.doc_id: r.p
            for r in df.select(
                "doc_id", F.row_number().over(w).alias("p")
            ).collect()
        }
        assert got == ref


class TestMixtureEpochPlan:
    def test_cap_and_fraction_math(self, spark):
        from nhl_data_warehouse_spark.operators.sampling import mixture_epoch_plan

        # g=a: 10 tokens avail, wants 50 -> capped at 3 epochs = 30
        # g=b: 100 avail, wants 50 -> 0 full epochs, rate 0.5
        df = spark.createDataFrame(
            [("a", 10), ("b", 100), ("c", 0)], "g string, w long"
        )
        got = {
            r.g: r
            for r in mixture_epoch_plan(
                df, "g", "w", budget=100, shares={"a": 0.5, "b": 0.5, "c": 0.2},
                max_epochs=3,
            ).collect()
        }
        assert "c" not in got  # zero-token groups drop, no div-by-zero
        assert got["a"].want_tokens == 50 and got["a"].achieved_tokens == 30
        assert got["a"].full_epochs == 3 and got["a"].partial_rate == 0.0
        assert got["b"].achieved_tokens == 50
        assert got["b"].full_epochs == 0 and got["b"].partial_rate == 0.5
