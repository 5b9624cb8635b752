"""Unit tests for the round-4 additions: stratified k-fold, budgeted
selection, duplicated-span removal, DSIR weights, per-key EWMA, and
the leakage-safe split composition."""

import math
import os

import pytest
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


class TestStratifiedKfold:
    def test_exact_balance_within_stratum(self, spark):
        from nhl_data_warehouse_spark.operators.sampling import stratified_kfold

        df = spark.createDataFrame(
            [(i, "en" if i % 3 else "de") for i in range(100)],
            "doc_id long, lang string",
        )
        got = stratified_kfold(df, k=5).collect()
        assert len(got) == 100
        by = {}
        for r in got:
            by.setdefault(r.lang, []).append(r.fold)
        for lang, folds in by.items():
            counts = [folds.count(f) for f in range(5)]
            assert max(counts) - min(counts) <= 1, (lang, counts)

    def test_assignment_is_content_addressed(self, spark):
        from nhl_data_warehouse_spark.operators.sampling import stratified_kfold

        df = spark.createDataFrame(
            [(i, "en") for i in range(40)], "doc_id long, lang string"
        )
        a = {r.doc_id: r.fold for r in stratified_kfold(df, 4).collect()}
        b = {
            r.doc_id: r.fold
            for r in stratified_kfold(df.repartition(7), 4).collect()
        }
        assert a == b  # stable under repartitioning


class TestBudgetSelect:
    def test_greedy_prefix_under_budget(self, spark):
        from nhl_data_warehouse_spark.operators.sampling import budget_select

        # scores 2 > 1; weights 10 each; budget 25 -> both score-2 docs
        # and zero-or-one score-1 docs depending on hash order
        df = spark.createDataFrame(
            [(1, 2, 10), (2, 2, 10), (3, 1, 10), (4, 1, 10)],
            "doc_id long, score long, w long",
        )
        got = budget_select(df, "score", "w", budget=25, max_score=2).collect()
        ids = {r.doc_id for r in got}
        assert {1, 2} <= ids and len(ids) == 2  # 3rd doc would hit 30 > 25
        assert max(r.cum_weight for r in got) == 20

    def test_cum_weight_is_global_running_total(self, spark):
        from nhl_data_warehouse_spark.operators.sampling import budget_select

        df = spark.createDataFrame(
            [(i, i % 3, 5) for i in range(30)], "doc_id long, score long, w long"
        )
        got = sorted(
            budget_select(df, "score", "w", budget=1000, max_score=2).collect(),
            key=lambda r: r.cum_weight,
        )
        assert [r.cum_weight for r in got] == [5 * (i + 1) for i in range(30)]
        # best-first: the score-2 tier fills the earliest positions
        assert all(r.score == 2 for r in got[:10])


class TestRemoveDuplicateSpans:
    def test_one_canonical_copy_survives(self, spark):
        from nhl_data_warehouse_spark.operators.dedup import remove_duplicate_spans

        # chunk size 2: "a b" appears in docs 1 and 2 -> doc 1 (min id,
        # first index) keeps it, doc 2 loses it
        df = spark.createDataFrame(
            [(1, "a b c d"), (2, "a b x y"), (3, "q r")],
            "doc_id long, text string",
        )
        got = {
            r.doc_id: r
            for r in remove_duplicate_spans(df, chunk_tokens=2).collect()
        }
        assert got[1].clean_text == "a b c d" and got[1].n_removed == 0
        assert got[2].clean_text == "x y" and got[2].n_removed == 1
        assert got[3].clean_text == "q r" and got[3].n_removed == 0

    def test_fully_removed_doc_yields_empty_text(self, spark):
        from nhl_data_warehouse_spark.operators.dedup import remove_duplicate_spans

        df = spark.createDataFrame(
            [(1, "a b"), (2, "a b")], "doc_id long, text string"
        )
        got = {
            r.doc_id: r
            for r in remove_duplicate_spans(df, chunk_tokens=2).collect()
        }
        assert got[1].clean_text == "a b"
        assert got[2].clean_text == "" and got[2].n_removed == 1

    def test_intra_doc_repeat_without_cross_doc_dup_kept(self, spark):
        from nhl_data_warehouse_spark.operators.dedup import remove_duplicate_spans

        # "a b" repeats within doc 1 only (nd = 1) -> both copies stay
        df = spark.createDataFrame([(1, "a b a b")], "doc_id long, text string")
        (row,) = remove_duplicate_spans(df, chunk_tokens=2).collect()
        assert row.clean_text == "a b a b" and row.n_removed == 0


class TestDsirWeights:
    def test_target_like_docs_score_positive(self, spark):
        from nhl_data_warehouse_spark.operators.text import dsir_logratio_weights

        rows = [(i, "alpha beta gamma", "en") for i in range(8)]
        rows += [(100 + i, "uno dos tres", "es") for i in range(2)]
        df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
        got = {
            r.doc_id: r
            for r in dsir_logratio_weights(df, F.col("lang") == "en").collect()
        }
        # target tokens dominate the target distribution -> positive
        assert got[0].dsir_logratio > 0 and got[0].selected
        # non-target-only tokens are less likely under target -> negative
        assert got[100].dsir_logratio < 0 and not got[100].selected

    def test_weight_sums_over_occurrences(self, spark):
        from nhl_data_warehouse_spark.operators.text import dsir_logratio_weights

        df = spark.createDataFrame(
            [(1, "w w", "en"), (2, "w", "en")], "doc_id long, text string, lang string"
        )
        got = {
            r.doc_id: r
            for r in dsir_logratio_weights(df, F.col("lang") == "en").collect()
        }
        assert math.isclose(
            got[1].dsir_logratio, 2 * got[2].dsir_logratio, rel_tol=1e-9
        )


class TestEwma:
    def test_recursion_matches_reference(self, spark):
        from nhl_data_warehouse_spark.operators.timeseries import ewma

        xs = [10.0, 20.0, 0.0, 40.0]
        df = spark.createDataFrame(
            [(1, t, x) for t, x in enumerate(xs)], "k long, t long, x double"
        )
        got = sorted(ewma(df, "k", "t", "x").collect(), key=lambda r: r.t)
        acc, want = None, []
        for x in xs:
            acc = x if acc is None else 0.5 * x + 0.5 * acc
            want.append(acc)
        assert [r.ewma for r in got] == want  # bit-exact, same recursion

    def test_keys_are_independent(self, spark):
        from nhl_data_warehouse_spark.operators.timeseries import ewma

        df = spark.createDataFrame(
            [(1, 0, 10.0), (2, 0, 99.0), (1, 1, 20.0)],
            "k long, t long, x double",
        )
        got = {(r.k, r.t): r.ewma for r in ewma(df, "k", "t", "x").collect()}
        assert got[(1, 0)] == 10.0 and got[(2, 0)] == 99.0
        assert got[(1, 1)] == 15.0


@pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"driver testdata not present at {SF_DIR}"
)
class TestLeakageSafeSplitQuery:
    def test_clusters_never_straddle_splits(self, spark):
        from nhl_data_warehouse_spark.suite import REGISTRY

        got = REGISTRY["leakage_safe_split"].fn(spark, SF_DIR).collect()
        by_cluster = {}
        for r in got:
            by_cluster.setdefault(r.cluster_id, set()).add(r.split)
        assert all(len(s) == 1 for s in by_cluster.values())
        assert {r.split for r in got} <= {"train", "val", "test"}


class TestByteClassStats:
    def test_arrow_kernel_matches_python(self, spark):
        from nhl_data_warehouse_spark.operators.multimodal import (
            as_media_table,
            byte_class_stats,
        )

        df = spark.createDataFrame(
            [(1, "ab c", "s"), (2, "的是 x", "s"), (3, "", "s")],
            "doc_id long, text string, source string",
        )
        got = {
            r.media_id: r
            for r in byte_class_stats(as_media_table(df)).collect()
        }
        for doc_id, text in [(1, "ab c"), (2, "的是 x"), (3, "")]:
            raw = text.encode("utf-8")
            assert got[doc_id].n_bytes == len(raw)
            assert got[doc_id].n_ascii == sum(b < 0x80 for b in raw)
            assert got[doc_id].n_spaces == raw.count(b" ")
        assert got[3].ascii_ratio == 0.0
        assert got[1].ascii_ratio == 1.0

    def test_null_payload_counts_as_empty(self, spark):
        from nhl_data_warehouse_spark.operators.multimodal import byte_class_stats

        df = spark.createDataFrame(
            [(1, None), (2, b"xy")], "media_id long, payload binary"
        )
        got = {r.media_id: r for r in byte_class_stats(df).collect()}
        assert got[1].n_bytes == 0 and got[1].ascii_ratio == 0.0
        assert got[2].n_bytes == 2


class TestLshCandidateQuality:
    def test_metrics_are_consistent(self, spark):
        import os

        if not os.path.isdir(SF_DIR):
            pytest.skip("driver testdata absent")
        from nhl_data_warehouse_spark.suite import REGISTRY

        (row,) = REGISTRY["lsh_candidate_quality"].fn(spark, SF_DIR).collect()
        assert row.n_hit <= row.n_candidates and row.n_hit <= row.n_true
        assert 0.0 <= row.precision_lsh <= 1.0
        assert 0.0 <= row.recall_lsh <= 1.0
        # planted dup clusters must be found: band recall on exact
        # duplicates is 1.0 by construction, so recall stays high
        assert row.n_true > 0 and row.recall_lsh > 0.5


class TestMadByGroup:
    def test_matches_numpy_and_skips_nulls(self, spark):
        import numpy as np

        from nhl_data_warehouse_spark.operators.regression import mad_by_group

        df = spark.createDataFrame(
            [("a", 1.0), ("a", 3.5), ("a", 7.25), ("a", 100.0), ("a", None),
             ("b", None)],
            "g string, x double",
        )
        got = {r.g: r for r in mad_by_group(df, "g", "x").collect()}
        vals = np.array([1.0, 3.5, 7.25, 100.0])
        want = float(np.median(np.abs(vals - np.median(vals))))
        assert got["a"].mad == want and got["a"].n == 5  # n counts NULLs too
        assert got["b"].mad is None and got["b"].n == 1


class TestClusterBestRepresentative:
    def test_representative_is_best_quality_member(self, spark):
        import os

        if not os.path.isdir(SF_DIR):
            pytest.skip("driver testdata absent")
        from nhl_data_warehouse_spark.suite import REGISTRY

        rows = REGISTRY["cluster_best_representative"].fn(spark, SF_DIR).collect()
        assert sum(r.n_members for r in rows) == 500  # every doc in one cluster
        assert all(r.rep_quality >= 0 for r in rows)
        multi = [r for r in rows if r.n_members > 1]
        assert multi, "planted dup clusters must produce multi-member rows"


class TestBudgetSelectContract:
    def test_fractional_score_raises_in_plan(self, spark):
        from nhl_data_warehouse_spark.operators.sampling import budget_select

        df = spark.createDataFrame(
            [(1, 1.5, 10)], "doc_id long, score double, w long"
        )
        with pytest.raises(Exception, match="budget_select"):
            budget_select(df, "score", "w", budget=100, max_score=2).collect()


class TestCalibrationBins:
    def test_bins_partition_the_corpus(self, spark):
        import os

        if not os.path.isdir(SF_DIR):
            pytest.skip("driver testdata absent")
        from nhl_data_warehouse_spark.suite import REGISTRY

        rows = REGISTRY["classifier_calibration_bins"].fn(spark, SF_DIR).collect()
        assert sum(r.n_docs for r in rows) == 500
        for r in rows:
            assert 0 <= r.score_bin <= 9
            assert 0.0 <= r.pos_rate <= 1.0
            assert r.n_good <= r.n_docs
            # mean score lands inside (or at the edge of) its bin
            assert r.score_bin / 10 - 1e-9 <= r.mean_score <= (r.score_bin + 1) / 10 + 1e-9


class TestCompaction:
    def test_file_count_collapses_content_survives(self, spark, tmp_path):
        from nhl_data_warehouse_spark.operators.layout import compact_files

        frag = str(tmp_path / "frag")
        out = str(tmp_path / "out")
        df = spark.range(10000).select(
            F.col("id"), (F.col("id") % 7).alias("v")
        )
        df.repartition(32).write.parquet(frag)
        assert len(spark.read.parquet(frag).inputFiles()) == 32
        n = compact_files(spark, frag, out, target_file_bytes=64 * 1024 * 1024)
        assert n < 32
        got = spark.read.parquet(out)
        assert got.count() == 10000
        assert got.groupBy().agg(F.sum("v")).first()[0] == df.agg(F.sum("v")).first()[0]


class TestNfcNormalize:
    def test_decomposed_text_composes_and_flags(self, spark):
        import unicodedata

        from nhl_data_warehouse_spark.operators.text import nfc_normalize

        decomposed = "café"  # e + combining acute
        composed = unicodedata.normalize("NFC", decomposed)
        df = spark.createDataFrame(
            [(1, decomposed), (2, composed), (3, None)],
            "doc_id long, text string",
        )
        got = {r.doc_id: r for r in nfc_normalize(df).collect()}
        assert got[1].norm_text == composed and got[1].changed
        assert got[2].norm_text == composed and not got[2].changed
        assert got[3].norm_text is None and got[3].changed is None
        # the whole point: both variants now share one exact-dedup hash
        assert got[1].norm_text == got[2].norm_text


class TestGroupedMoments:
    def test_matches_numpy_population_moments(self, spark):
        import numpy as np

        from nhl_data_warehouse_spark.operators.regression import grouped_moments

        vals = [10.25, 12.5, 9.75, 30.0, 11.0]
        df = spark.createDataFrame(
            [("g", v) for v in vals], "g string, x double"
        )
        (row,) = grouped_moments(df, "g", "x").collect()
        a = np.array(vals)
        m2 = ((a - a.mean()) ** 2).mean()
        m3 = ((a - a.mean()) ** 3).mean()
        assert abs(row.mean - a.mean()) < 1e-9
        assert abs(row.var_pop - m2) < 1e-9
        assert abs(row.skewness - m3 / m2**1.5) < 1e-9

    def test_constant_group_has_zero_skew(self, spark):
        from nhl_data_warehouse_spark.operators.regression import grouped_moments

        df = spark.createDataFrame(
            [("g", 5.0), ("g", 5.0)], "g string, x double"
        )
        (row,) = grouped_moments(df, "g", "x").collect()
        assert row.var_pop == 0.0 and row.skewness == 0.0


class TestWeightedMedian:
    def test_lower_weighted_median(self, spark):
        from nhl_data_warehouse_spark.operators.regression import weighted_median

        # values 1..4 with weights 1,1,5,1: total 8, half 4 ->
        # cum at value 3 is 7, first 2*cum >= 8 -> median 3
        df = spark.createDataFrame(
            [("g", 1.0, 1, 1), ("g", 2.0, 1, 2), ("g", 3.0, 5, 3), ("g", 4.0, 1, 4)],
            "g string, v double, w long, i long",
        )
        (row,) = weighted_median(df, "g", "v", "w", id_cols=["i"]).collect()
        assert row.weighted_median == 3.0 and row.total_weight == 8

    def test_equal_weights_reduce_to_lower_median(self, spark):
        from nhl_data_warehouse_spark.operators.regression import weighted_median

        df = spark.createDataFrame(
            [("g", float(v), 1, v) for v in (10, 20, 30, 40)],
            "g string, v double, w long, i long",
        )
        (row,) = weighted_median(df, "g", "v", "w", id_cols=["i"]).collect()
        assert row.weighted_median == 20.0  # lower median of even count
