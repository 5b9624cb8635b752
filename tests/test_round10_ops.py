"""Round-10 operator tests: Gopher rule gates, type-token ratio,
bipartite neighbor Jaccard, day-of-week seasonal anomalies, and the
Murphy decomposition of the Brier score."""

import datetime

import pytest
from pyspark.sql import functions as F

from tests.conftest import *  # noqa: F401,F403  (spark fixture)


class TestGopherGates:
    def test_hand_computed_bits(self, spark):
        from nhl_data_warehouse_spark.operators.text import gopher_gates

        good = " ".join(["the", "be", "of"] + ["word"] * 60)  # 63 words
        short = "the be tiny"  # 3 words: fails word count
        nostop = " ".join(["zzz"] * 60)  # no stopwords, fails stop gate
        symbols = " ".join(["the", "be"] + ["####"] * 58)  # symbol heavy
        df = spark.createDataFrame(
            [(1, good), (2, short), (3, nostop), (4, symbols), (5, "")],
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: r for r in gopher_gates(df).collect()}
        assert rows[1]["n_words"] == 63
        assert rows[1]["n_stop_hits"] == 3
        assert rows[1]["pass_gopher"] is True
        assert rows[2]["gate_word_count"] is False
        assert rows[3]["gate_stopwords"] is False
        assert rows[3]["pass_gopher"] is False
        # 58 * 4 = 232 '#' chars vs 60 words: 10*232 > 60
        assert rows[4]["n_symbols"] == 232
        assert rows[4]["gate_symbol_ratio"] is False
        assert rows[5]["n_words"] == 0
        assert rows[5]["pass_gopher"] is False

    def test_map_only_plan(self, spark):
        """The gates are a pure projection: no shuffle anywhere."""
        from nhl_data_warehouse_spark.operators.text import gopher_gates

        df = spark.createDataFrame([(1, "the be x")], "doc_id long, text string")
        plan = gopher_gates(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


class TestTypeTokenRatio:
    def test_hand_computed(self, spark):
        from nhl_data_warehouse_spark.operators.text import type_token_ratio

        df = spark.createDataFrame(
            [
                (1, "a b a c"),  # 4 tokens, 3 types, hapax {b, c}
                (2, "X x"),  # lowercased: 2 tokens, 1 type, 0 hapax
                (3, ""),  # empty
            ],
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: r for r in type_token_ratio(df).collect()}
        assert rows[1]["n_tokens"] == 4
        assert rows[1]["n_types"] == 3
        assert rows[1]["n_hapax"] == 2
        assert rows[1]["ttr"] == 0.75
        assert rows[2]["n_types"] == 1 and rows[2]["n_hapax"] == 0
        assert rows[2]["hapax_ratio"] == 0.0
        assert rows[3]["n_tokens"] == 0 and rows[3]["ttr"] is None


class TestNeighborJaccard:
    def test_matches_bruteforce(self, spark):
        from nhl_data_warehouse_spark.operators.graph import neighbor_jaccard

        edges = [
            (g, i)
            for g in range(12)
            for i in range(8)
            if (g * 7 + i * 3) % 4 != 0
        ]
        df = spark.createDataFrame(edges, "g long, i long")
        got = {
            (r["item_a"], r["item_b"]): r
            for r in neighbor_jaccard(
                df, "g", "i", min_shared=1, top_k=None
            ).collect()
        }
        from collections import defaultdict

        sets = defaultdict(set)
        for g, i in edges:
            sets[i].add(g)
        for a in range(8):
            for b in range(a + 1, 8):
                inter = len(sets[a] & sets[b])
                if inter == 0:
                    assert (a, b) not in got
                    continue
                r = got[(a, b)]
                assert r["n_shared"] == inter
                assert r["deg_a"] == len(sets[a])
                assert r["deg_b"] == len(sets[b])
                assert r["jaccard"] == inter / len(sets[a] | sets[b])

    def test_no_cartesian_plan(self, spark):
        from nhl_data_warehouse_spark.operators.graph import neighbor_jaccard

        df = spark.createDataFrame(
            [(g, i) for g in range(5) for i in range(4)], "g long, i long"
        )
        plan = (
            neighbor_jaccard(df, "g", "i")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestDowSeasonalAnomalies:
    def test_outlier_detected_within_its_dow_slice(self, spark):
        from nhl_data_warehouse_spark.operators.timeseries import (
            dow_seasonal_anomalies,
        )

        d0 = datetime.date(2025, 1, 6)  # a Monday
        rows = []
        # 8 weeks: Mondays worth 100.00 except one at 500.00;
        # Tuesdays alternate 200/220 (ordinary variation)
        for w in range(8):
            rows.append(
                (d0 + datetime.timedelta(weeks=w), 500.0 if w == 3 else 100.0)
            )
            rows.append(
                (
                    d0 + datetime.timedelta(weeks=w, days=1),
                    200.0 if w % 2 else 220.0,
                )
            )
        df = spark.createDataFrame(rows, "ts date, val double")
        out = dow_seasonal_anomalies(
            df.select(F.col("ts").cast("timestamp").alias("ts"), "val"),
            "ts",
            "val",
        ).collect()
        days = {r["d"] for r in out}
        assert d0 + datetime.timedelta(weeks=3) in days
        for r in out:
            if r["d"] == d0 + datetime.timedelta(weeks=3):
                assert r["dow"] == 1  # Monday, 0=Sunday encoding
                assert r["day_total"] == 500.0
                assert r["z"] > 1.5

    def test_constant_slice_excluded_by_integer_guard(self, spark):
        from nhl_data_warehouse_spark.operators.timeseries import (
            dow_seasonal_anomalies,
        )

        d0 = datetime.date(2025, 1, 6)
        rows = [
            (d0 + datetime.timedelta(weeks=w), 100.0) for w in range(6)
        ]
        df = spark.createDataFrame(rows, "ts date, val double").select(
            F.col("ts").cast("timestamp").alias("ts"), "val"
        )
        # zero variance -> the n*ss > s*s guard drops the slice, so no
        # NaN/inf z ever reaches the filter
        assert dow_seasonal_anomalies(df, "ts", "val").count() == 0


class TestMurphyDecomposition:
    def test_identity_for_binwise_constant_scores(self, spark):
        """With scores constant within bins, brier == REL - RES + UNC
        exactly (each side a fixed-order double expression)."""
        from nhl_data_warehouse_spark.operators.stats import (
            murphy_decomposition,
        )

        rows = (
            [(0.25, True)] * 1
            + [(0.25, False)] * 3
            + [(0.75, True)] * 6
            + [(0.75, False)] * 2
        )
        df = spark.createDataFrame(rows, "p double, y boolean")
        r = murphy_decomposition(df, "p", "y").first()
        assert r["n_docs"] == 12
        # hand numbers: bin2 acc=.25 conf=.25; bin7 acc=.75 conf=.75
        assert abs(r["reliability"]) < 1e-15
        base = 7 / 12
        exp_res = (4 / 12) * (0.25 - base) ** 2 + (8 / 12) * (0.75 - base) ** 2
        assert abs(r["resolution"] - exp_res) < 1e-12
        assert abs(r["uncertainty"] - base * (1 - base)) < 1e-12
        assert (
            abs(r["brier"] - (r["reliability"] - r["resolution"] + r["uncertainty"]))
            < 1e-12
        )

    def test_matches_ece_brier(self, spark):
        """The ssq statistic is shared with expected_calibration_error
        — both emit the identical exact Brier."""
        from nhl_data_warehouse_spark.operators.stats import (
            expected_calibration_error,
            murphy_decomposition,
        )

        rows = [
            (((i * 37) % 100) / 100.0, (i * 13) % 3 == 0) for i in range(200)
        ]
        df = spark.createDataFrame(rows, "p double, y boolean")
        b1 = murphy_decomposition(df, "p", "y").first()["brier"]
        b2 = expected_calibration_error(df, "p", "y").first()["brier"]
        assert b1 == b2


class TestGroupedKsTwoSample:
    def test_matches_global_per_slice_and_degenerate_null(self, spark):
        from nhl_data_warehouse_spark.operators.stats import (
            grouped_ks_two_sample,
            ks_two_sample,
        )

        rows = []
        for g, shift in (("a", 0.0), ("b", 5.0)):
            for i in range(40):
                rows.append((g, float(i % 10) + (shift if i % 2 else 0.0), i % 2 == 0))
        # slice "c": only group-1 rows -> degenerate, d_stat NULL
        rows += [("c", 1.0, True), ("c", 2.0, True)]
        df = spark.createDataFrame(rows, "g string, v double, early boolean")
        got = {
            r["g"]: r
            for r in grouped_ks_two_sample(
                df, "g", "v", F.col("early")
            ).collect()
        }
        for g in ("a", "b"):
            ref = ks_two_sample(
                df.where(F.col("g") == g), "v", F.col("early")
            ).first()
            assert got[g]["n1"] == ref["n1"]
            assert got[g]["n2"] == ref["n2"]
            assert got[g]["d_stat"] == ref["d_stat"]
        assert got["c"]["n2"] == 0 and got["c"]["d_stat"] is None

    def test_no_unpartitioned_window(self, spark):
        from nhl_data_warehouse_spark.operators.stats import (
            grouped_ks_two_sample,
        )

        df = spark.createDataFrame(
            [("a", 1.0, True), ("a", 2.0, False)], "g string, v double, e boolean"
        )
        plan = (
            grouped_ks_two_sample(df, "g", "v", F.col("e"))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "windowspecdefinition(c#" not in plan  # every spec keyed by g


class TestMulticlassMcc:
    def test_binary_matches_hand_formula(self, spark):
        from nhl_data_warehouse_spark.operators.stats import multiclass_mcc

        # tp=40 fn=10 fp=5 tn=45
        rows = (
            [("p", "p")] * 40 + [("p", "n")] * 10
            + [("n", "p")] * 5 + [("n", "n")] * 45
        )
        df = spark.createDataFrame(rows, "t string, pr string")
        r = multiclass_mcc(df, "t", "pr").first()
        import math

        tp, fn, fp, tn = 40, 10, 5, 45
        exp = (tp * tn - fp * fn) / math.sqrt(
            (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
        )
        assert r["n_total"] == 100 and r["n_correct"] == 85
        assert abs(r["mcc"] - exp) < 1e-12

    def test_perfect_and_degenerate(self, spark):
        from nhl_data_warehouse_spark.operators.stats import multiclass_mcc

        perfect = spark.createDataFrame(
            [("a", "a")] * 3 + [("b", "b")] * 4 + [("c", "c")] * 2,
            "t string, pr string",
        )
        assert abs(multiclass_mcc(perfect, "t", "pr").first()["mcc"] - 1.0) < 1e-12
        # constant prediction -> s^2 == spp -> NULL
        const = spark.createDataFrame(
            [("a", "a"), ("b", "a"), ("a", "a")], "t string, pr string"
        )
        assert multiclass_mcc(const, "t", "pr").first()["mcc"] is None

    def test_class_only_in_one_marginal_counts(self, spark):
        """A class that is predicted but never true (or vice versa)
        still contributes its square to the marginal sums — the full
        outer join, not the kappa inner join."""
        from nhl_data_warehouse_spark.operators.stats import multiclass_mcc

        import math

        rows = [("a", "a"), ("a", "x"), ("b", "b"), ("b", "b")]
        df = spark.createDataFrame(rows, "t string, pr string")
        r = multiclass_mcc(df, "t", "pr").first()
        # s=4 c=3; t: a=2,b=2,x=0; p: a=1,b=2,x=1
        spt = 2 * 1 + 2 * 2 + 0 * 1
        spp = 1 + 4 + 1
        stt = 4 + 4 + 0
        exp = (3 * 4 - spt) / (math.sqrt(16 - spp) * math.sqrt(16 - stt))
        assert abs(r["mcc"] - exp) < 1e-12


class TestGroupedIsotonic:
    def test_matches_global_per_slice_and_monotone(self, spark):
        from nhl_data_warehouse_spark.operators.stats import (
            grouped_isotonic_calibration_bins,
            isotonic_calibration_bins,
        )

        rows = []
        for g, off in (("en", 0), ("de", 1)):
            for i in range(120):
                p = ((i * 29 + off * 13) % 100) / 100.0
                y = ((i * 7 + off) % 5) < (p * 5)
                rows.append((g, p, y))
        df = spark.createDataFrame(rows, "g string, p double, y boolean")
        got = {}
        for r in grouped_isotonic_calibration_bins(df, "g", "p", "y").collect():
            got[(r["g"], r["bin"])] = r
        for g in ("en", "de"):
            ref = isotonic_calibration_bins(
                df.where(F.col("g") == g), "p", "y"
            ).collect()
            for r in ref:
                have = got[(g, r["bin"])]
                assert have["nb"] == r["nb"] and have["ng"] == r["ng"]
                assert have["iso_rate"] == r["iso_rate"]
            # monotone within the slice
            srt = sorted((r for r in ref), key=lambda x: x["bin"])
            for a, b in zip(srt, srt[1:]):
                assert a["iso_rate"] <= b["iso_rate"] + 1e-15


class TestWinsorizedMean:
    def test_hand_computed_vs_trim(self, spark):
        """20 values, k=1 per tail: the winsorized mean clamps the
        extremes to the 2nd/19th ranked values; n stays 20 (the
        trimmed twin drops to 18)."""
        from nhl_data_warehouse_spark.suite.registry import load  # noqa: F401
        from pyspark.sql.window import Window

        vals = [1000.0] + [float(100 + i) for i in range(18)] + [0.01]
        orders = spark.createDataFrame(
            [(i, "P", v) for i, v in enumerate(vals)],
            "o_orderkey long, o_orderpriority string, o_totalprice double",
        )
        cents = sorted(round(v * 100) for v in vals)
        k = 20 // 20
        lo, hi = cents[k], cents[-(k + 1)]
        exp = (sum(cents[k:-k]) + k * lo + k * hi) / 20 / 100.0

        w = Window.partitionBy("o_orderpriority").orderBy(
            F.col("cents"), F.col("o_orderkey")
        )
        wn = Window.partitionBy("o_orderpriority")
        ranked = orders.select(
            "o_orderpriority",
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
            "o_orderkey",
        ).select(
            "o_orderpriority",
            "cents",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
        kk = F.floor(F.col("n") / 20)
        agg = ranked.groupBy("o_orderpriority").agg(
            F.max("n").cast("long").alias("n_orders"),
            F.floor(F.max("n") / 20).cast("long").alias("k"),
            F.min(F.when(F.col("rn") > kk, F.col("cents"))).alias("lo_cents"),
            F.max(
                F.when(F.col("rn") <= F.col("n") - kk, F.col("cents"))
            ).alias("hi_cents"),
            F.sum(
                F.when(
                    (F.col("rn") > kk) & (F.col("rn") <= F.col("n") - kk),
                    F.col("cents"),
                ).otherwise(F.lit(0))
            ).alias("kept_sum"),
        )
        r = agg.select(
            F.expr(
                "CAST(kept_sum + k * lo_cents + k * hi_cents AS DOUBLE)"
                " / CAST(n_orders AS DOUBLE) / 100.0"
            ).alias("wm")
        ).first()
        assert abs(r["wm"] - exp) < 1e-9


class TestCdcChunks:
    def test_chunks_cover_text_exactly(self, spark):
        """Chunk spans must tile each document: contiguous,
        non-overlapping, starting at 1 and ending at len(text)."""
        from nhl_data_warehouse_spark.operators.dedup import cdc_chunks

        texts = [
            "the quick brown fox jumps over the lazy dog " * 5,
            "short",
            "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa",
            "",
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        rows = cdc_chunks(df).collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], []).append(r)
        assert 3 not in by_doc  # empty doc -> no chunks
        for i, t in enumerate(texts):
            if not t:
                continue
            spans = sorted(by_doc[i], key=lambda r: r["chunk_start"])
            assert spans[0]["chunk_start"] == 1
            pos = 1
            for s in spans:
                assert s["chunk_start"] == pos
                pos += s["chunk_len"]
            assert pos - 1 == len(t)

    def test_shift_resistance(self, spark):
        """Insert a prefix into a long doc: chunk hashes AFTER the
        first boundary past the edit must be shared between the two
        versions (the property fixed-size chunking lacks)."""
        from nhl_data_warehouse_spark.operators.dedup import cdc_chunks

        base = "the quick brown fox jumps over the lazy dog " * 10
        shifted = "XYZ " + base
        df = spark.createDataFrame(
            [(1, base), (2, shifted)], "doc_id long, text string"
        )
        rows = cdc_chunks(df).collect()
        h1 = {r["chunk_hash"] for r in rows if r["doc_id"] == 1}
        h2 = {r["chunk_hash"] for r in rows if r["doc_id"] == 2}
        shared = h1 & h2
        # all chunks after the edit's containing chunk re-align
        assert len(shared) >= len(h1) - 2

    def test_dedup_stats_flags_cross_doc_chunks(self, spark):
        from nhl_data_warehouse_spark.operators.dedup import cdc_dedup_stats

        common = "the quick brown fox jumps over the lazy dog " * 8
        df = spark.createDataFrame(
            [(1, common + "unique tail one one"),
             (2, common + "a different tail entirely here"),
             (3, "completely unrelated text with nothing shared qqq www eee rrr ttt yyy")],
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: r for r in cdc_dedup_stats(df).collect()}
        assert rows[1]["n_dup_chunks"] > 0
        assert rows[2]["n_dup_chunks"] > 0
        assert rows[3]["n_dup_chunks"] == 0
        assert rows[3]["dup_chunk_frac"] == 0.0


class TestNeymanAllocation:
    def test_hand_computed(self, spark):
        import math

        from nhl_data_warehouse_spark.operators.sampling import (
            neyman_allocation,
        )

        rows = (
            [("a", v) for v in (10, 20, 30, 40)]  # sigma ~ 11.18
            + [("b", v) for v in (25, 25, 25, 25, 25, 25)]  # sigma 0
            + [("c", v) for v in (0, 100)]  # sigma 50
        )
        df = spark.createDataFrame(rows, "g string, sz long")
        got = {
            r["g"]: r
            for r in neyman_allocation(df, "g", "sz", budget=1000).collect()
        }
        sa = math.sqrt((10**2 + 20**2 + 30**2 + 40**2) / 4 - 25**2)
        wa, wb, wc = 4 * sa, 0.0, 2 * 50.0
        tot = wa + wb + wc
        assert abs(got["a"]["alloc_frac"] - wa / tot) < 1e-12
        assert got["b"]["alloc_frac"] == 0.0
        assert got["b"]["n_alloc"] == 0
        assert got["c"]["n_alloc"] == math.floor(1000 * wc / tot)

    def test_all_degenerate_yields_nulls(self, spark):
        from nhl_data_warehouse_spark.operators.sampling import (
            neyman_allocation,
        )

        df = spark.createDataFrame(
            [("a", 5), ("a", 5), ("b", 7)], "g string, sz long"
        )
        for r in neyman_allocation(df, "g", "sz", budget=100).collect():
            assert r["alloc_frac"] is None and r["n_alloc"] is None


class TestCrossLangGramOverlap:
    def test_hand_computed(self, spark):
        from nhl_data_warehouse_spark.operators.text import (
            cross_lang_gram_overlap,
        )

        df = spark.createDataFrame(
            [
                (1, "en", "a b c d e"),  # grams: abcd, bcde
                (2, "de", "a b c d x"),  # grams: abcd, bcdx
                (3, "fr", "q r s t"),  # gram: qrst
                (4, "en", "a b c d e"),  # duplicate doc: no new grams
            ],
            "doc_id long, lang string, text string",
        )
        rows = {
            (r["lang_a"], r["lang_b"]): r
            for r in cross_lang_gram_overlap(df).collect()
        }
        r = rows[("de", "en")]
        assert r["n_shared"] == 1  # 'a b c d'
        assert r["n_grams_a"] == 2 and r["n_grams_b"] == 2
        assert r["jaccard"] == 1 / 3
        assert ("en", "fr") not in rows  # zero overlap pairs absent
        assert ("de", "fr") not in rows


class TestSeasonalDecompose:
    def test_pure_additive_signal_recovered(self, spark):
        """trend 100/day + weekly pattern (+7 on Monday, -7 on
        Tuesday, 0 otherwise): interior residuals must be ~0, the
        seasonal column zero-sum, trend = centered MA."""
        import datetime

        from nhl_data_warehouse_spark.operators.timeseries import (
            seasonal_decompose_daily,
        )

        d0 = datetime.date(2025, 1, 5)  # a Sunday
        rows = []
        for i in range(42):  # 6 full weeks
            day = d0 + datetime.timedelta(days=i)
            season = {1: 7.0, 2: -7.0}.get((i + 0) % 7, 0.0)
            rows.append((day, 100.0 + season))
        df = spark.createDataFrame(rows, "ts date, val double").select(
            F.col("ts").cast("timestamp").alias("ts"), "val"
        )
        out = {r["d"]: r for r in
               seasonal_decompose_daily(df, "ts", "val").collect()}
        assert len(out) == 42
        # edges: first/last 3 days have NULL trend and resid
        for i in (0, 1, 2, 39, 40, 41):
            assert out[d0 + datetime.timedelta(days=i)]["trend"] is None
        # interior: MA of a pure weekly signal = the flat trend
        interior = [out[d0 + datetime.timedelta(days=i)] for i in range(3, 39)]
        for r in interior:
            assert abs(r["trend"] - 100.0) < 1e-9
            assert abs(r["resid"]) < 1e-9
        # seasonal sums to zero across the week
        week = {r["dow"]: r["seasonal"] for r in interior}
        assert abs(sum(week.values())) < 1e-9
        assert abs(week[1] - 7.0) < 1e-9  # Monday
        assert abs(week[2] + 7.0) < 1e-9  # Tuesday


class TestAveragePrecision:
    def test_hand_computed_with_ties(self, spark):
        """Scores .9 (2 pos), .5 (1 pos, 1 neg), .1 (1 neg):
        threshold sweep at cells .9: dR=2/3, P=1; .5: dR=1/3, P=3/4;
        AP = 2/3 + 1/4 = 11/12 (each term rounded 12dp)."""
        from nhl_data_warehouse_spark.operators.stats import (
            average_precision,
        )

        rows = [
            (0.9, True), (0.9, True),
            (0.5, True), (0.5, False),
            (0.1, False),
        ]
        df = spark.createDataFrame(rows, "p double, y boolean")
        r = average_precision(df, "p", F.col("y")).first()
        assert r["n_pos"] == 3 and r["n_neg"] == 2
        exp = round(2 / 3 * 1.0, 12) + round(1 / 3 * (3 / 4), 12)
        assert abs(r["avg_precision"] - exp) < 1e-11

    def test_perfect_and_degenerate(self, spark):
        from nhl_data_warehouse_spark.operators.stats import (
            average_precision,
        )

        perfect = spark.createDataFrame(
            [(0.9, True), (0.8, True), (0.2, False)], "p double, y boolean"
        )
        assert abs(
            average_precision(perfect, "p", F.col("y")).first()["avg_precision"]
            - 1.0
        ) < 1e-11
        onlyneg = spark.createDataFrame(
            [(0.9, False), (0.1, False)], "p double, y boolean"
        )
        r = average_precision(onlyneg, "p", F.col("y")).first()
        assert r["n_pos"] == 0 and r["avg_precision"] is None


class TestYoudenJ:
    def test_hand_computed(self, spark):
        """Cells desc .9(2pos) .5(1pos,1neg) .1(2neg): J at .9 = 2/3,
        at .5 = 1 - 1/3 = 2/3 (tie -> LOWER threshold .5), at .1 = 0."""
        from nhl_data_warehouse_spark.operators.stats import (
            youden_j_threshold,
        )

        rows = [
            (0.9, True), (0.9, True),
            (0.5, True), (0.5, False),
            (0.1, False), (0.1, False),
        ]
        df = spark.createDataFrame(rows, "p double, y boolean")
        r = youden_j_threshold(df, "p", F.col("y")).first()
        assert r["n_pos"] == 3 and r["n_neg"] == 3
        assert abs(r["j_stat"] - 2 / 3) < 1e-12
        assert r["threshold"] == 0.5  # tie takes the lower cut
        assert abs(r["tpr"] - 1.0) < 1e-12
        assert abs(r["fpr"] - 1 / 3) < 1e-12

    def test_degenerate_single_class(self, spark):
        from nhl_data_warehouse_spark.operators.stats import (
            youden_j_threshold,
        )

        df = spark.createDataFrame(
            [(0.9, True), (0.1, True)], "p double, y boolean"
        )
        r = youden_j_threshold(df, "p", F.col("y")).first()
        assert r["j_stat"] is None and r["fpr"] is None
