"""Round-8 statistics operators vs brute-force references.

Each operator's distributed integer-sufficient-statistic form is
checked against a direct Python computation of the textbook formula
on small inputs (ties, degenerate classes, and NULL handling
included). The oracle sweep proves cross-engine equality; these
prove the MATH.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F


def _midranks(values):
    """value -> midrank over the full list."""
    s = sorted(values)
    first = {}
    for i, v in enumerate(s):
        first.setdefault(v, i)
    count = {}
    for v in s:
        count[v] = count.get(v, 0) + 1
    return {v: first[v] + (count[v] + 1) / 2 for v in count}


class TestSpearman:
    def _brute(self, xs, ys):
        rx = _midranks(xs)
        ry = _midranks(ys)
        ax = [rx[v] for v in xs]
        ay = [ry[v] for v in ys]
        n = len(xs)
        mx = sum(ax) / n
        my = sum(ay) / n
        num = sum((a - mx) * (b - my) for a, b in zip(ax, ay))
        dx = math.sqrt(sum((a - mx) ** 2 for a in ax))
        dy = math.sqrt(sum((b - my) ** 2 for b in ay))
        return num / (dx * dy)

    def test_matches_brute_force_with_ties(self, spark):
        from nhl_data_warehouse_spark.operators.stats import spearman_rho

        xs = [1, 2, 2, 3, 5, 5, 5, 8, 9, 1]
        ys = [2.0, 1.5, 1.5, 3.0, 4.0, 4.5, 4.0, 9.0, 0.5, 2.5]
        df = spark.createDataFrame(list(zip(xs, ys)), "x long, y double")
        row = spearman_rho(df, "x", "y", y_scale=100).first()
        assert row.n == 10
        assert abs(row.rho - self._brute(xs, ys)) < 1e-12

    def test_perfect_and_inverted(self, spark):
        from nhl_data_warehouse_spark.operators.stats import spearman_rho

        mono = spark.createDataFrame(
            [(i, float(i * i)) for i in range(1, 8)], "x long, y double"
        )
        assert spearman_rho(mono, "x", "y").first().rho == 1.0
        inv = spark.createDataFrame(
            [(i, float(-i)) for i in range(1, 8)], "x long, y double"
        )
        assert spearman_rho(inv, "x", "y").first().rho == -1.0

    def test_constant_marginal_is_null(self, spark):
        from nhl_data_warehouse_spark.operators.stats import spearman_rho

        df = spark.createDataFrame(
            [(1, 3.0), (1, 4.0), (1, 5.0)], "x long, y double"
        )
        assert spearman_rho(df, "x", "y").first().rho is None


class TestKendallTauB:
    def _brute(self, xs, ys):
        n = len(xs)
        nc = nd = tx = ty = 0
        for i in range(n):
            for j in range(i + 1, n):
                dx = (xs[i] > xs[j]) - (xs[i] < xs[j])
                dy = (ys[i] > ys[j]) - (ys[i] < ys[j])
                if dx == 0 and dy == 0:
                    continue
                if dx == 0:
                    tx += 1
                elif dy == 0:
                    ty += 1
                elif dx == dy:
                    nc += 1
                else:
                    nd += 1
        n0 = n * (n - 1) // 2
        # n1/n2 in the tau-b formula count ALL same-x / same-y pairs
        n1 = sum(
            c * (c - 1) // 2
            for c in __import__("collections").Counter(xs).values()
        )
        n2 = sum(
            c * (c - 1) // 2
            for c in __import__("collections").Counter(ys).values()
        )
        return (nc - nd) / (math.sqrt(n0 - n1) * math.sqrt(n0 - n2))

    def test_matches_brute_force_with_ties(self, spark):
        from nhl_data_warehouse_spark.operators.stats import kendall_tau_b

        xs = [1, 2, 2, 3, 3, 3, 4, 5, 5, 1]
        ys = [0.01, 0.02, 0.02, 0.05, 0.03, 0.05, 0.08, 0.1, 0.0, 0.04]
        df = spark.createDataFrame(list(zip(xs, ys)), "x long, y double")
        row = kendall_tau_b(df, "x", "y", y_scale=100).first()
        assert row.n == 10
        assert abs(row.tau_b - self._brute(xs, ys)) < 1e-12

    def test_all_tied_marginal_is_null(self, spark):
        from nhl_data_warehouse_spark.operators.stats import kendall_tau_b

        df = spark.createDataFrame(
            [(7, 0.1), (7, 0.2), (7, 0.3)], "x long, y double"
        )
        assert kendall_tau_b(df, "x", "y").first().tau_b is None


class TestGini:
    def test_known_values(self, spark):
        from nhl_data_warehouse_spark.operators.stats import gini_coefficient

        # G([1,2,3,4]) = 2*(1+4+9+16)/(4*10) - 5/4 = 0.25
        df = spark.createDataFrame(
            [(float(v),) for v in (1, 2, 3, 4)], "v double"
        )
        row = gini_coefficient(df, "v", scale=1).first()
        assert row.n == 4 and row.sumv == 10
        assert abs(row.gini - 0.25) < 1e-12
        # perfect equality -> 0
        eq = spark.createDataFrame([(5.0,)] * 6, "v double")
        assert gini_coefficient(eq, "v", scale=1).first().gini == 0.0
        # all mass on one of n rows -> (n-1)/n
        conc = spark.createDataFrame(
            [(0.0,), (0.0,), (0.0,), (12.0,)], "v double"
        )
        assert abs(gini_coefficient(conc, "v", scale=1).first().gini - 0.75) < 1e-12

    def test_zero_total_is_null(self, spark):
        from nhl_data_warehouse_spark.operators.stats import gini_coefficient

        z = spark.createDataFrame([(0.0,), (0.0,)], "v double")
        assert gini_coefficient(z, "v", scale=1).first().gini is None


class TestAutocorrelation:
    def test_matches_brute_force(self, spark):
        from nhl_data_warehouse_spark.operators.timeseries import autocorrelation

        xs = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8]
        df = spark.createDataFrame(
            [(i, x) for i, x in enumerate(xs)], "t long, x long"
        )
        out = {
            r.lag: (r.n_pairs, r.acf)
            for r in autocorrelation(df, "t", max_lag=3).collect()
        }
        n = len(xs)
        m = sum(xs) / n
        den = sum((x - m) ** 2 for x in xs)
        for k in (1, 2, 3):
            num = sum(
                (xs[t] - m) * (xs[t + k] - m) for t in range(n - k)
            )
            n_pairs, acf = out[k]
            assert n_pairs == n - k
            assert abs(acf - num / den) < 1e-12

    def test_constant_series_is_null(self, spark):
        from nhl_data_warehouse_spark.operators.timeseries import autocorrelation

        df = spark.createDataFrame(
            [(i, 7) for i in range(10)], "t long, x long"
        )
        rows = autocorrelation(df, "t", max_lag=2).collect()
        assert all(r.acf is None for r in rows)

    def test_alternating_series_lag1_negative(self, spark):
        from nhl_data_warehouse_spark.operators.timeseries import autocorrelation

        df = spark.createDataFrame(
            [(i, 10 if i % 2 else 0) for i in range(20)], "t long, x long"
        )
        rows = {r.lag: r.acf for r in autocorrelation(df, "t", 2).collect()}
        assert rows[1] < -0.9 and rows[2] > 0.8


class TestNdcgMrr:
    def test_hand_computed_group(self, spark):
        from nhl_data_warehouse_spark.operators.ranking import ndcg_mrr_at_k

        # one group: scores rank items as rel [0, 3, 1] top-3
        df = spark.createDataFrame(
            [
                (1, 9.0, 1, 0.0),
                (1, 8.0, 2, 3.0),
                (1, 7.0, 3, 1.0),
            ],
            "g long, score double, tb long, rel double",
        )
        row = ndcg_mrr_at_k(
            df, "g", "score", "tb", F.col("rel"), k=10
        ).first()
        w = [round(math.log2(i + 1), 6) for i in (1, 2, 3)]
        dcg = 0.0 / w[0] + 3.0 / w[1] + 1.0 / w[2]
        idcg = 3.0 / w[0] + 1.0 / w[1] + 0.0 / w[2]
        assert row.n_ranked == 3
        assert abs(row.ndcg - dcg / idcg) < 1e-12
        assert row.mrr == 0.5  # first relevant at rank 2

    def test_perfect_ranking_is_one_and_no_rel_is_null(self, spark):
        from nhl_data_warehouse_spark.operators.ranking import ndcg_mrr_at_k

        df = spark.createDataFrame(
            [
                (1, 9.0, 1, 3.0),
                (1, 8.0, 2, 2.0),
                (1, 7.0, 3, 0.0),
                (2, 5.0, 4, 0.0),
                (2, 4.0, 5, 0.0),
            ],
            "g long, score double, tb long, rel double",
        )
        rows = {
            r.g: r
            for r in ndcg_mrr_at_k(
                df, "g", "score", "tb", F.col("rel"), k=10
            ).collect()
        }
        assert rows[1].ndcg == 1.0 and rows[1].mrr == 1.0
        assert rows[2].ndcg is None and rows[2].mrr is None

    def test_k_truncation(self, spark):
        from nhl_data_warehouse_spark.operators.ranking import ndcg_mrr_at_k

        # STANDARD NDCG@k (ADVICE r8): the relevant item at rank 3 is
        # outside k=2, so the ranker FAILED — ndcg = 0.0 (IDCG comes
        # from the full candidate set, which has a relevant item),
        # mrr NULL (nothing relevant retrieved)
        df = spark.createDataFrame(
            [
                (1, 9.0, 1, 0.0),
                (1, 8.0, 2, 0.0),
                (1, 7.0, 3, 3.0),
            ],
            "g long, score double, tb long, rel double",
        )
        row = ndcg_mrr_at_k(df, "g", "score", "tb", F.col("rel"), k=2).first()
        assert row.n_ranked == 2 and row.ndcg == 0.0 and row.mrr is None

    def test_low_relevance_topk_not_inflated(self, spark):
        from nhl_data_warehouse_spark.operators.ranking import ndcg_mrr_at_k

        # top-2 retrieves rel [1, 1] but the full set holds a rel-3
        # item at rank 3: standard IDCG@2 = 3/w1 + 1/w2, so ndcg < 1
        # (the retrieved-set-normalized variant would have said 1.0)
        df = spark.createDataFrame(
            [
                (1, 9.0, 1, 1.0),
                (1, 8.0, 2, 1.0),
                (1, 7.0, 3, 3.0),
            ],
            "g long, score double, tb long, rel double",
        )
        row = ndcg_mrr_at_k(df, "g", "score", "tb", F.col("rel"), k=2).first()
        w = [round(math.log2(i + 1), 6) for i in (1, 2)]
        dcg = 1.0 / w[0] + 1.0 / w[1]
        idcg = 3.0 / w[0] + 1.0 / w[1]
        assert abs(row.ndcg - dcg / idcg) < 1e-12
        assert row.ndcg < 1.0
        assert row.mrr == 1.0


class TestIntervalOverlapJoin:
    def _mk(self, spark, rows):
        from pyspark.sql import functions as F

        df = spark.createDataFrame(rows, "id long, s long, e long")
        return df.select(
            "id",
            F.timestamp_micros(F.col("s") * 1_000_000).alias("st"),
            F.timestamp_micros(F.col("e") * 1_000_000).alias("en"),
        )

    def test_equals_brute_force_and_emits_each_pair_once(self, spark):
        from nhl_data_warehouse_spark.operators.rangejoin import (
            interval_overlap_join,
        )

        # crafted so several intervals span MANY cells (cell=60s):
        # without the responsibility rule they would pair repeatedly
        rows = [
            (1, 0, 500),
            (2, 30, 90),
            (3, 80, 400),
            (4, 600, 700),
            (5, 350, 650),
            (6, 1000, 1001),
        ]
        df = self._mk(spark, rows)
        out = interval_overlap_join(df, df, "st", "en", cell_minutes=1)
        got = sorted(
            (r.a_id, r.b_id, r.overlap_us)
            for r in out.where(F.col("a_id") < F.col("b_id")).collect()
        )
        want = sorted(
            (a_id, b_id, (min(ae, be) - max(as_, bs)) * 1_000_000)
            for a_id, as_, ae in rows
            for b_id, bs, be in rows
            if a_id < b_id and as_ <= be and bs <= ae
        )
        assert got == want
        # exactly-once even for the widest pair (1,3): 320s overlap
        assert (1, 3, 320_000_000) in got

    def test_no_overlap_no_rows(self, spark):
        from nhl_data_warehouse_spark.operators.rangejoin import (
            interval_overlap_join,
        )

        df = self._mk(spark, [(1, 0, 10), (2, 3600, 3610)])
        out = interval_overlap_join(df, df, "st", "en", cell_minutes=1)
        assert out.where(F.col("a_id") < F.col("b_id")).count() == 0


class TestPoissonBootstrap:
    def test_weights_are_deterministic_and_mean_one(self, spark):
        from nhl_data_warehouse_spark.operators.sampling import (
            poisson_bootstrap_weight,
        )

        df = spark.range(20_000).select(F.col("id").cast("string").alias("k"))
        w = df.select(poisson_bootstrap_weight(["k"], "t0").alias("w"))
        stats = w.agg(
            F.sum("w").alias("s"), F.max("w").alias("mx"), F.min("w").alias("mn")
        ).first()
        # mean weight ~ Poisson(1): within 5% on 20k draws
        assert abs(stats.s / 20_000 - 1.0) < 0.05
        assert stats.mn >= 0 and stats.mx <= 9
        # deterministic: identical second computation
        again = df.select(poisson_bootstrap_weight(["k"], "t0").alias("w"))
        assert (
            w.exceptAll(again).count() == 0
            and again.exceptAll(w).count() == 0
        )

    def test_replicate_means_bracket_true_mean(self, spark):
        from nhl_data_warehouse_spark.operators.sampling import (
            poisson_bootstrap_means,
        )

        df = spark.range(5_000).select(
            F.col("id").alias("k"), (F.col("id") % 100).alias("x")
        )
        reps = poisson_bootstrap_means(
            df, ["k"], "x", n_replicates=16, salt="t"
        ).collect()
        assert len(reps) == 16
        means = [r.mean_value for r in reps]
        true_mean = 49.5
        lo, hi = min(means), max(means)
        assert lo < true_mean < hi
        # resampling noise on 5k rows is sub-5%
        assert all(abs(m - true_mean) / true_mean < 0.05 for m in means)


class TestGroupedAuc:
    def test_matches_global_auc_per_slice_and_degenerate_null(self, spark):
        from nhl_data_warehouse_spark.operators.stats import (
            grouped_rank_auc,
            rank_auc,
        )

        rows = [
            ("a", 0.9, True), ("a", 0.8, False), ("a", 0.7, True),
            ("a", 0.7, False), ("a", 0.2, False),
            ("b", 0.6, True), ("b", 0.5, True), ("b", 0.4, False),
            ("c", 0.3, True), ("c", 0.9, True),  # single class
        ]
        df = spark.createDataFrame(rows, "g string, s double, y boolean")
        got = {
            r.g: (r.n_pos, r.n_neg, r.auc)
            for r in grouped_rank_auc(df, "g", "s", F.col("y")).collect()
        }
        for g in ("a", "b"):
            sub = df.where(F.col("g") == g)
            ref = rank_auc(sub, "s", F.col("y")).first()
            assert got[g] == (ref.n_pos, ref.n_neg, ref.auc), g
        assert got["c"] == (2, 0, None)


class TestAudioPcm:
    def test_stats_match_struct_reference_and_corrupt_tolerance(self, spark):
        import struct

        from nhl_data_warehouse_spark.operators.multimodal import (
            audio_pcm_stats,
            wav_payload,
        )

        p = wav_payload(300, sample_rate=8000, seed=5)
        n_data = struct.unpack("<I", p[40:44])[0]
        samples = struct.unpack(f"<{n_data // 2}h", p[44 : 44 + n_data])
        media = spark.createDataFrame(
            [(1, bytearray(p)), (2, bytearray(b"not a wav")), (3, None)],
            "media_id long, payload binary",
        )
        rows = {r.media_id: r for r in audio_pcm_stats(media).collect()}
        assert rows[1].sample_rate == 8000
        assert rows[1].n_samples == 300
        assert rows[1].peak_abs == max(abs(s) for s in samples)
        assert rows[1].sum_sq == sum(s * s for s in samples)
        assert rows[2].n_samples is None and rows[3].n_samples is None


class TestMacroF1AndSkewReport:
    def test_macro_f1_query_consistent_with_brute_force(self, spark):
        """Drive the registered query on the real testdata and verify
        every row against a brute-force confusion computed from the
        same lang_id predictions."""
        import collections
        import os

        import pytest as _pytest

        from nhl_data_warehouse_spark.operators import text
        from nhl_data_warehouse_spark.suite import REGISTRY
        from nhl_data_warehouse_spark.suite.registry import load

        sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
        if not os.path.isdir(sf):
            _pytest.skip("driver testdata not present")
        (documents,) = load(spark, sf, "documents")
        preds = text.lang_id(documents).select("doc_id", "pred_lang")
        pairs = [
            (r.lang, r.pred_lang)
            for r in documents.select("doc_id", "lang")
            .join(preds, "doc_id")
            .collect()
        ]
        gold = collections.Counter(t for t, _ in pairs)
        pred = collections.Counter(p for _, p in pairs)
        tp = collections.Counter(t for t, p in pairs if t == p)
        want_f1 = {
            k: 2 * tp[k] / (2 * tp[k] + (pred[k] - tp[k]) + (gold[k] - tp[k]))
            for k in gold
        }
        rows = REGISTRY["lang_id_macro_f1"].fn(spark, sf).collect()
        assert {r.lang for r in rows} == set(gold)
        for r in rows:
            assert r.tp == tp[r.lang]
            assert r.fp == pred[r.lang] - tp[r.lang]
            assert r.fn == gold[r.lang] - tp[r.lang]
            assert abs(r.f1 - want_f1[r.lang]) < 1e-12
        macro = sum(want_f1[k] for k in sorted(gold)) / len(gold)
        assert abs(rows[0].macro_f1 - macro) < 1e-12

    def test_key_skew_report_known_distribution(self, spark):
        from nhl_data_warehouse_spark.operators.skew import key_skew_report

        # keys: 1 x10, 2 x5, 3..12 x1  -> n_keys=12 n_rows=25
        rows = [(1,)] * 10 + [(2,)] * 5 + [(k,) for k in range(3, 13)]
        df = spark.createDataFrame(rows, "k long")
        r = key_skew_report(df, "k").first()
        assert (r.n_keys, r.n_rows, r.max_cnt) == (12, 25, 10)
        assert r.p50_cnt == 1  # 10 of 12 keys have cnt 1
        assert r.p99_cnt == 10  # only the full histogram reaches 99%
        assert r.hot_key == 1
        assert abs(r.skew_ratio - 10 * 12 / 25) < 1e-12
