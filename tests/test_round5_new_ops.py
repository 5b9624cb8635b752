"""Round-5 operators: hybrid exact quantiles, interval lookup join,
Welch A/B stats."""

import math

import pytest
from pyspark.sql import functions as F

from nhl_data_warehouse_spark.operators.quantiles import exact_quantiles
from nhl_data_warehouse_spark.operators.rangejoin import interval_lookup_join
from nhl_data_warehouse_spark.operators.regression import welch_ab_stats


class TestExactQuantiles:
    def test_matches_sorted_percentile_cont(self, spark):
        # adversarial values: duplicates, negatives, wide magnitudes
        vals = [5.0, 1.5, 1.5, 1.5, -3.25, 100.0, 7.75, 0.0, 2.5, 2.5, 42.0]
        df = spark.createDataFrame([(v,) for v in vals], "v double")
        got = {
            r.p: r.quantile
            for r in exact_quantiles(df, "v", [0.0, 0.25, 0.5, 0.9, 1.0]).collect()
        }
        s = sorted(vals)
        n = len(s)
        for p in (0.0, 0.25, 0.5, 0.9, 1.0):
            kf = (n - 1) * p
            lo, hi = s[math.floor(kf)], s[min(math.floor(kf) + 1, n - 1)]
            want = lo + (hi - lo) * (kf - math.floor(kf))
            assert got[p] == want, (p, got[p], want)

    def test_tiny_accuracy_band_still_exact(self, spark):
        # accuracy 100 -> wide bands; the selection must stay exact
        df = spark.createDataFrame([(float(i),) for i in range(1000)], "v double")
        got = {
            r.p: r.quantile
            for r in exact_quantiles(df, "v", [0.5, 0.99], accuracy=100).collect()
        }
        assert got[0.5] == 499.5
        assert got[0.99] == 989.01

    def test_rejects_bad_p(self, spark):
        df = spark.createDataFrame([(1.0,)], "v double")
        with pytest.raises(ValueError):
            exact_quantiles(df, "v", [1.5])


class TestIntervalLookupJoin:
    def test_matches_inequality_join(self, spark):
        pts = spark.createDataFrame(
            [(i, float(i * 7 % 100)) for i in range(200)], "pid long, v double"
        )
        rng = spark.createDataFrame(
            [
                ("r0", 0.0, 10.0),
                ("r1", 5.0, 50.0),  # overlaps r0
                ("r2", 50.0, 50.0),  # empty interval
                ("r3", 90.0, 100.0),
                ("r4", 0.0, 100.0),  # covers everything
            ],
            "label string, lo double, hi double",
        )
        got = {
            (r.pid, r.label)
            for r in interval_lookup_join(
                pts, rng, value_col="v", cell_width=8.0
            ).collect()
        }
        want = {
            (r.pid, r.label)
            for r in pts.crossJoin(rng)
            .filter((F.col("v") >= F.col("lo")) & (F.col("v") < F.col("hi")))
            .collect()
        }
        assert got == want
        assert not any(lbl == "r2" for _, lbl in got)  # empty interval
        assert sum(1 for _, lbl in got if lbl == "r4") == 200

    def test_cell_width_invariance(self, spark):
        pts = spark.createDataFrame(
            [(i, float(i)) for i in range(50)], "pid long, v double"
        )
        rng = spark.createDataFrame(
            [("a", 3.0, 17.0), ("b", 20.0, 21.0)], "label string, lo double, hi double"
        )
        outs = [
            {
                (r.pid, r.label)
                for r in interval_lookup_join(
                    pts, rng, value_col="v", cell_width=w
                ).collect()
            }
            for w in (1.0, 5.0, 100.0)
        ]
        assert outs[0] == outs[1] == outs[2]


class TestWelchAbStats:
    def test_against_closed_form(self, spark):
        a = [10.0, 12.0, 11.0, 13.0]
        b = [9.0, 8.5, 9.5]
        rows = [("A", v) for v in a] + [("B", v) for v in b]
        df = spark.createDataFrame(rows, "variant string, value double")
        r = welch_ab_stats(df).collect()[0]
        assert r.n_a == 4 and r.n_b == 3
        assert r.mean_a == sum(a) / 4
        assert r.mean_b == sum(b) / 3
        ma, mb = sum(a) / 4, sum(b) / 3
        va = sum(x * x for x in a) / 4 - ma * ma
        vb = sum(x * x for x in b) / 3 - mb * mb
        want_z = (ma - mb) / math.sqrt(va / 4 + vb / 3)
        assert abs(r.z_score - want_z) < 1e-9

    def test_rejects_bad_scale(self, spark):
        df = spark.createDataFrame([("A", 1.0)], "variant string, value double")
        with pytest.raises(ValueError):
            welch_ab_stats(df, scale_factor=7)


class TestFimSplit:
    def test_reassembles_and_is_deterministic(self, spark):
        rows = [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "short"),  # below min_len -> plain
            (3, "x" * 100),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        from nhl_data_warehouse_spark.operators.text import fim_split

        out = {r.doc_id: r for r in fim_split(df, min_len=20).collect()}
        for doc_id, txt in rows:
            r = out[doc_id]
            assert r.prefix + r.middle + r.suffix == txt
            assert r.psm == f"<PRE>{r.prefix}<SUF>{r.suffix}<MID>{r.middle}"
        assert out[2].mode == "plain" and out[2].prefix == "short"
        assert out[1].mode == "fim" and out[3].mode == "fim"
        # same content -> same split on rerun (content-hash, no RNG)
        again = {r.doc_id: r for r in fim_split(df, min_len=20).collect()}
        assert all(out[i].psm == again[i].psm for i in out)


class TestLengthBucketPadding:
    def test_pow2_buckets_exact(self, spark):
        from nhl_data_warehouse_spark.operators.packing import (
            length_bucket_padding_stats,
        )

        # exact powers of two must land in their OWN bucket (the FP
        # ceil(log2) trap), w=1 in bucket 1
        df = spark.createDataFrame(
            [(w,) for w in [1, 2, 3, 4, 5, 8, 9, 1024, 1025]], "n long"
        )
        out = {
            r.bucket_top: r
            for r in length_bucket_padding_stats(df, weight_col="n").collect()
        }
        assert out[1].n_docs == 1
        assert out[2].n_docs == 1
        assert out[4].n_docs == 2  # 3, 4
        assert out[8].n_docs == 2  # 5, 8
        assert out[16].n_docs == 1  # 9
        assert out[1024].n_docs == 1
        assert out[2048].n_docs == 1
        assert out[4].pad_tokens == 1  # 3->4 pads 1, 4->4 pads 0
        assert out[1].pad_fraction == 0.0


class TestCusum:
    def test_closed_form_equals_recursion(self, spark):
        xs = [5, -3, -3, 10, 1, -20, 4, 4]
        k = 1
        rows = [(i, x, k) for i, x in enumerate(xs)]
        df = spark.createDataFrame(rows, "t long, x long, k long")
        from nhl_data_warehouse_spark.operators.timeseries import cusum_positive

        got = {
            r.t: r.cusum
            for r in cusum_positive(df, "t", "x").collect()
        }
        s = 0
        for i, x in enumerate(xs):
            s = max(0, s + x - k)
            assert got[i] == s, (i, got[i], s)


class TestGroupedQuantiles:
    def test_matches_per_group_sorted(self, spark):
        import math

        rows = []
        data = {
            "a": [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0],
            "b": [10.0, 20.0],  # tiny group -> full-band path
            "c": [7.5] * 5 + [1.25],
        }
        for grp, vals in data.items():
            rows += [(grp, v) for v in vals]
        df = spark.createDataFrame(rows, "g string, v double")
        got = {
            (r.g, r.p): r.quantile
            for r in exact_quantiles(
                df, "v", [0.5, 0.9], group_col="g"
            ).collect()
        }
        for grp, vals in data.items():
            s = sorted(vals)
            n = len(s)
            for p in (0.5, 0.9):
                kf = (n - 1) * p
                lo = s[math.floor(kf)]
                hi = s[min(math.floor(kf) + 1, n - 1)]
                want = lo + (hi - lo) * (kf - math.floor(kf))
                assert got[(grp, p)] == want, (grp, p, got[(grp, p)], want)

    def test_exact_mode_grid_mismatch_regression(self, spark):
        # n just below accuracy: percentile_approx runs in exact mode
        # whose rank grid (ceil(p*n)) sits up to 2 ranks off
        # percentile_cont's floor((n-1)p)+1 — the 2/a-guard bug that
        # NULLed p=0.9 per-priority quantiles at sf0.01
        import math

        n = 3003
        vals = [float(i * 7 % n) for i in range(n)]
        df = spark.createDataFrame([(v,) for v in vals], "v double")
        got = {
            r.p: r.quantile
            for r in exact_quantiles(df, "v", [0.9], accuracy=10_000).collect()
        }
        s = sorted(vals)
        kf = (n - 1) * 0.9
        want = s[math.floor(kf)] + (
            s[math.floor(kf) + 1] - s[math.floor(kf)]
        ) * (kf - math.floor(kf))
        assert got[0.9] == want
