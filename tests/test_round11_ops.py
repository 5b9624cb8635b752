"""Round-11 operator tests: Bloom-accelerated exact 13-gram substring
dedup (``text.bloom_span_dedup``, VERDICT r10 item 5).

The load-bearing claim is EXACTNESS THROUGH THE BLOOM: the filter has
no false negatives, so the matched-span set — and every output number —
must be identical to what a plain exact gram join produces. Pinned
against an independent pure-Python reference (not against another
Spark plan) on inputs with planted verbatim overlaps, near-miss
one-token edits, and short-doc edges.
"""

import pytest
from pyspark.sql import functions as F

from tests.conftest import *  # noqa: F401,F403  (spark fixture)


def _ref_span_dedup(docs, n=13, history_mod=2, flag_pct=20):
    """Naive single-node reference: exact n-gram matching of odd-id
    docs against the distinct gram set of even-id docs."""
    toks = {
        did: [t for t in text.split(" ") if t != ""] for did, text in docs
    }

    def grams(did):
        a = toks[did]
        return [
            (i + 1, " ".join(a[i : i + n])) for i in range(len(a) - n + 1)
        ]

    hist = {
        g
        for did, _ in docs
        if did % history_mod == 0 and len(toks[did]) >= n
        for _, g in grams(did)
    }
    out = {}
    for did, _ in docs:
        if did % history_mod == 0 or len(toks[did]) < n:
            continue
        gs = grams(did)
        matched = [(i, g) for i, g in gs if g in hist]
        covered = set()
        for i, _ in matched:
            covered.update(range(i, i + n))
        nt = len(toks[did])
        cov = len(covered)
        out[did] = (
            nt,
            len(gs),
            len(matched),
            cov,
            cov / nt,
            int(cov * 100 >= nt * flag_pct),
        )
    return out


@pytest.fixture(scope="module")
def planted_docs():
    """History/batch docs with controlled overlap structure."""
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu"
    assert len(shared.split()) == 13
    long_shared = " ".join(f"w{i}" for i in range(30))
    docs = [
        # history (even ids)
        (0, f"{shared} filler one two three"),
        (2, f"prefix tokens here {long_shared} suffix tokens"),
        (4, "completely unrelated history content " * 4),
        # batch (odd ids)
        (1, f"lead-in {shared} trail-out pad pad pad"),  # one planted 13-gram
        (3, f"{long_shared} and then novel stuff after it ok fine"),  # long overlap
        (5, "entirely novel batch text with no history overlap at all "
            "padded to pass thirteen tokens easily right here now"),
        # near miss: one token edited inside the shared window
        (7, shared.replace("eta", "EDITED") + " tail pad pad pad"),
        (9, "too short to gram"),  # < 13 tokens: excluded
        (11, shared),  # exactly 13 tokens, fully covered -> flagged
    ]
    return docs


class TestBloomSpanDedup:
    def test_matches_pure_python_reference(self, spark, planted_docs):
        from nhl_data_warehouse_spark.operators.text import bloom_span_dedup

        df = spark.createDataFrame(planted_docs, "doc_id long, text string")
        got = {
            r["doc_id"]: (
                r["n_tokens"],
                r["n_grams"],
                r["n_dup_grams"],
                r["covered_tokens"],
                r["dup_frac"],
                r["is_flagged"],
            )
            for r in bloom_span_dedup(df).collect()
        }
        want = _ref_span_dedup(planted_docs)
        assert got == want

    def test_full_overlap_flags_and_short_doc_excluded(
        self, spark, planted_docs
    ):
        from nhl_data_warehouse_spark.operators.text import bloom_span_dedup

        df = spark.createDataFrame(planted_docs, "doc_id long, text string")
        got = {r["doc_id"]: r for r in bloom_span_dedup(df).collect()}
        assert 9 not in got  # < 13 tokens
        assert got[11]["is_flagged"] == 1 and got[11]["covered_tokens"] == 13
        assert got[5]["n_dup_grams"] == 0 and got[5]["is_flagged"] == 0
        # the near-miss edit kills every window crossing the edited
        # token but windows before/after may still match — reference
        # equality (above) is the real pin; here pin just the flag
        assert got[1]["n_dup_grams"] == 1  # exactly the planted window

    def test_tiny_bloom_still_exact(self, spark, planted_docs):
        """Adversarially small filter (m_bits=64): FPR near saturated, so
        nearly every gram takes the verify path — results must be
        UNCHANGED, only the short-circuit rate degrades."""
        from nhl_data_warehouse_spark.operators.text import bloom_span_dedup

        df = spark.createDataFrame(planted_docs, "doc_id long, text string")
        a = sorted(
            map(tuple, bloom_span_dedup(df, m_bits=64, k=1).collect())
        )
        b = sorted(map(tuple, bloom_span_dedup(df).collect()))
        assert a == b

    def test_definitely_new_grams_skip_exact_verify(self, spark):
        """The scale claim: with ZERO overlap, the verify join input
        is empty — count the rows reaching the exact join via an
        accumulator-free probe: matched must be 0 while the bloom
        probe still ran (n_grams > 0)."""
        from nhl_data_warehouse_spark.operators.text import bloom_span_dedup

        docs = [
            (0, " ".join(f"h{i}" for i in range(20))),
            (1, " ".join(f"b{i}" for i in range(20))),
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        rows = bloom_span_dedup(df).collect()
        assert len(rows) == 1
        assert rows[0]["n_grams"] == 8
        assert rows[0]["n_dup_grams"] == 0


class TestSimhashBandNearDups:
    def test_equals_naive_all_pairs(self, spark):
        """Banded candidates + verify must equal the naive all-pairs
        Hamming join over the (oracle-pinned) sketches — pigeonhole
        completeness at max_hamming <= bands - 1."""
        from nhl_data_warehouse_spark.operators.dedup import (
            simhash,
            simhash_band_near_dups,
        )

        base = "the quick brown fox jumps over the lazy dog again and again"
        docs = [(i, base + f" tail{i % 4}") for i in range(30)] + [
            (100, "completely different content about database engines"),
            (101, "completely different content about database engines ok"),
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        sk = {r["doc_id"]: r["simhash"] for r in simhash(df, bits=32).collect()}
        want = set()
        ids = sorted(sk)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = ids[x], ids[y]
                h = bin(sk[a] ^ sk[b]).count("1")
                if h <= 3:
                    want.add((a, b, h))
        got = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in simhash_band_near_dups(df, max_hamming=3).collect()
        }
        assert got == want
        assert want, "fixture should produce at least one near-dup pair"

    def test_rejects_overwide_hamming(self, spark):
        from nhl_data_warehouse_spark.operators.dedup import (
            simhash_band_near_dups,
        )

        df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        with pytest.raises(AssertionError):
            simhash_band_near_dups(df, max_hamming=4)


class TestWassersteinTwoSample:
    def test_identical_distributions_zero(self, spark):
        from nhl_data_warehouse_spark.operators.stats import (
            wasserstein_two_sample,
        )

        rows = [(float(v), g) for v in (1, 2, 5, 9) for g in (0, 1)]
        df = spark.createDataFrame(rows, "v double, g int")
        out = wasserstein_two_sample(df, "v", F.col("g") == 1).collect()[0]
        assert out["w1_dist"] == 0.0

    def test_constant_shift_equals_shift(self, spark):
        from nhl_data_warehouse_spark.operators.stats import (
            wasserstein_two_sample,
        )

        a = [(float(v), 1) for v in (1, 2, 3, 4)]
        b = [(float(v) + 2.5, 0) for v in (1, 2, 3, 4)]
        df = spark.createDataFrame(a + b, "v double, g int")
        out = wasserstein_two_sample(df, "v", F.col("g") == 1).collect()[0]
        assert abs(out["w1_dist"] - 2.5) < 1e-9

    def test_empty_side_null(self, spark):
        from nhl_data_warehouse_spark.operators.stats import (
            wasserstein_two_sample,
        )

        df = spark.createDataFrame([(1.0, 0), (2.0, 0)], "v double, g int")
        out = wasserstein_two_sample(df, "v", F.col("g") == 1).collect()[0]
        assert out["w1_dist"] is None


class TestJsdCategoryPairs:
    def test_identical_mix_zero_and_disjoint_ln2(self, spark):
        import math

        from nhl_data_warehouse_spark.operators.stats import jsd_category_pairs

        rows = (
            [("s1", "en")] * 3 + [("s1", "fr")] * 1
            + [("s2", "en")] * 6 + [("s2", "fr")] * 2   # same mix as s1
            + [("s3", "de")] * 4                        # disjoint from both
        )
        df = spark.createDataFrame(rows, "source string, lang string")
        out = {
            (r["source_a"], r["source_b"]): r["jsd"]
            for r in jsd_category_pairs(df).collect()
        }
        assert out[("s1", "s2")] == 0.0
        assert abs(out[("s1", "s3")] - math.log(2)) < 1e-5
        assert abs(out[("s2", "s3")] - math.log(2)) < 1e-5


class TestSeasonalNaiveBacktest:
    def test_known_small_series(self, spark):
        """14 days, weekly pattern + known eval deviations: day 8..14
        repeat days 1..7 except day 10 (+3.00) and day 13 (-1.00)."""
        import datetime

        from nhl_data_warehouse_spark.operators.timeseries import (
            seasonal_naive_backtest,
        )

        base = [10.0, 12.0, 8.0, 15.0, 11.0, 9.0, 14.0]
        rows = []
        d0 = datetime.date(2025, 1, 1)
        for i, v in enumerate(base):
            rows.append((d0 + datetime.timedelta(days=i), v))
        for i, v in enumerate(base):
            dv = 3.0 if i == 2 else (-1.0 if i == 5 else 0.0)
            rows.append((d0 + datetime.timedelta(days=7 + i), v + dv))
        df = spark.createDataFrame(rows, "d date, v double")
        out = seasonal_naive_backtest(
            df, "d", "v", split_date="2025-01-08"
        ).collect()[0]
        # all 7 eval days have a d-7 ancestor; train days have none
        assert out["n_train"] == 0 and out["n_eval"] == 7
        assert out["mase"] is None  # no train days -> NULL
        # sMAPE over the two deviating days only
        sm = (2 * 300 / (1100 + 800) + 2 * 100 / (800 + 900)) / 7
        assert abs(out["smape"] - sm) < 1e-9

    def test_perfect_weekly_repeat_zero_smape(self, spark):
        import datetime

        from nhl_data_warehouse_spark.operators.timeseries import (
            seasonal_naive_backtest,
        )

        d0 = datetime.date(2025, 1, 1)
        rows = [
            (d0 + datetime.timedelta(days=i), float(5 + (i % 7)))
            for i in range(28)
        ]
        df = spark.createDataFrame(rows, "d date, v double")
        out = seasonal_naive_backtest(
            df, "d", "v", split_date="2025-01-15"
        ).collect()[0]
        assert out["smape"] == 0.0
        assert out["mase"] is None  # train naive error is exactly 0


class TestSplitConformalCoverage:
    def test_known_threshold_and_coverage(self, spark):
        """Craft ids so the md5 split is known, residuals enumerable."""
        from nhl_data_warehouse_spark.operators.stats import (
            split_conformal_coverage,
        )
        import hashlib

        rows = [(i, float(i % 10)) for i in range(2000)]
        df = spark.createDataFrame(rows, "id long, v double")
        out = split_conformal_coverage(df, "id", "v").collect()[0]
        # independent reference
        cal = [v for i, v in rows
               if hashlib.md5(str(i).encode()).hexdigest()[0] in "01234567"]
        ev = [v for i, v in rows
              if hashlib.md5(str(i).encode()).hexdigest()[0] not in "01234567"]
        n = len(cal)
        assert out["n_cal"] == n and out["n_eval"] == len(ev)
        s = sum(int(round(v * 100)) for v in cal)
        res = sorted(abs(int(round(v * 100)) * n - s) for v in cal)
        k = (9 * (n + 1) + 9) // 10
        assert out["k_rank"] == k
        qn = res[k - 1]
        assert abs(out["q_hat"] - qn / (n * 100.0)) < 1e-12
        cov = sum(
            1 for v in ev if abs(int(round(v * 100)) * n - s) <= qn
        ) / len(ev)
        assert abs(out["coverage"] - cov) < 1e-12
        # conformal guarantee should roughly hold on iid halves
        assert out["coverage"] >= 0.85


class TestDegreeAssortativity:
    def test_star_graph_is_minus_one(self, spark):
        """A star is maximally disassortative: r = -1. Build baskets
        so that hub-leaf pairs co-occur twice and leaves never pair:
        each basket = (hub, leaf)."""
        from nhl_data_warehouse_spark.operators.graph import (
            degree_assortativity,
        )

        rows = []
        g = 0
        for leaf in range(1, 6):
            for rep in range(2):  # two shared groups per edge
                rows += [(g, 0), (g, leaf)]
                g += 1
        df = spark.createDataFrame(rows, "grp long, item long")
        out = degree_assortativity(df, "grp", "item").collect()[0]
        assert out["n_nodes"] == 6 and out["n_edges"] == 5
        assert abs(out["assortativity"] - (-1.0)) < 1e-12

    def test_regular_graph_null(self, spark):
        """All degrees equal (a 3-cycle) => zero variance => NULL."""
        from nhl_data_warehouse_spark.operators.graph import (
            degree_assortativity,
        )

        rows = []
        g = 0
        for a, b in [(1, 2), (2, 3), (1, 3)]:
            for rep in range(2):
                rows += [(g, a), (g, b)]
                g += 1
        df = spark.createDataFrame(rows, "grp long, item long")
        out = degree_assortativity(df, "grp", "item").collect()[0]
        assert out["n_edges"] == 3
        assert out["assortativity"] is None


class TestMatryoshkaRecall:
    def test_full_prefix_gives_perfect_recall(self, spark):
        """prefix_dim == full dim makes both arms identical."""
        from nhl_data_warehouse_spark.operators.similarity import (
            matryoshka_recall_at_k,
        )

        import random

        rng = random.Random(7)
        rows = [
            (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = matryoshka_recall_at_k(
            df, prefix_dim=8, k=5, sample_mod=20
        ).collect()
        assert out and all(r["recall_at_k"] == 1.0 for r in out)


class TestRrfFuse:
    def test_known_two_arm_fusion(self, spark):
        from nhl_data_warehouse_spark.operators.ranking import rrf_fuse

        a = spark.createDataFrame(
            [(1, 0.9), (2, 0.8), (3, 0.7)], "doc_id long, s double"
        )
        b = spark.createDataFrame(
            [(3, 0.95), (4, 0.5)], "doc_id long, s2 double"
        )
        rows = {
            r["doc_id"]: r
            for r in rrf_fuse(a, "s", b, "s2", top_n=10).collect()
        }
        assert rows[3]["rank_a"] == 3 and rows[3]["rank_b"] == 1
        assert abs(rows[3]["rrf_score"] - (1 / 63 + 1 / 61)) < 1e-12
        assert rows[1]["rank_b"] is None
        assert abs(rows[1]["rrf_score"] - 1 / 61) < 1e-12
        assert rows[4]["rank_a"] is None
        # doc 3 (in both arms) must outrank every single-arm doc
        assert rows[3]["rrf_score"] > max(
            v["rrf_score"] for k, v in rows.items() if k != 3
        )

    def test_tie_break_is_id_ascending(self, spark):
        from nhl_data_warehouse_spark.operators.ranking import rrf_fuse

        a = spark.createDataFrame(
            [(5, 1.0), (2, 1.0)], "doc_id long, s double"
        )
        b = spark.createDataFrame([(9, 1.0)], "doc_id long, s2 double")
        rows = {
            r["doc_id"]: r["rank_a"]
            for r in rrf_fuse(a, "s", b, "s2").collect()
            if r["rank_a"] is not None
        }
        assert rows == {2: 1, 5: 2}


class TestGroupedConformal:
    def test_matches_global_on_single_group(self, spark):
        """With one slice, the grouped form must equal the global."""
        from nhl_data_warehouse_spark.operators.stats import (
            grouped_split_conformal_coverage,
            split_conformal_coverage,
        )

        rows = [(i, "only", float((i * 7) % 23)) for i in range(800)]
        df = spark.createDataFrame(rows, "id long, g string, v double")
        glob = split_conformal_coverage(df, "id", "v").collect()[0]
        grp = grouped_split_conformal_coverage(
            df, "g", "id", "v"
        ).collect()[0]
        assert grp["g"] == "only"
        for c in ("n_cal", "n_eval", "k_rank", "q_hat", "coverage"):
            assert grp[c] == glob[c]

    def test_slices_are_independent(self, spark):
        """A slice's interval must not see other slices' residuals:
        adding a huge-variance slice leaves the small slice's row
        unchanged."""
        from nhl_data_warehouse_spark.operators.stats import (
            grouped_split_conformal_coverage,
        )

        small = [(i, "s", float(i % 5)) for i in range(400)]
        big = [(10_000 + i, "b", float((i * 997) % 10_000)) for i in range(400)]
        one = grouped_split_conformal_coverage(
            spark.createDataFrame(small, "id long, g string, v double"),
            "g", "id", "v",
        ).collect()[0]
        both = {
            r["g"]: r
            for r in grouped_split_conformal_coverage(
                spark.createDataFrame(
                    small + big, "id long, g string, v double"
                ),
                "g", "id", "v",
            ).collect()
        }
        assert tuple(both["s"]) == tuple(one)


class TestLabelPropagation:
    def test_two_cliques_with_weak_bridge(self, spark):
        """Two 4-cliques joined by one bridge edge: CC would merge
        them; 3-round deterministic LPA keeps two communities, each
        labeled by its smallest member."""
        from nhl_data_warehouse_spark.operators.graph import label_propagation

        rows = []
        g = 0

        def clique(members):
            nonlocal g
            for x in members:
                for y in members:
                    if x < y:
                        for _ in range(2):  # >= 2 shared groups per edge
                            rows.append((g, x))
                            rows.append((g, y))
                            g += 1

        clique([1, 2, 3, 4])
        clique([10, 11, 12, 13])
        for _ in range(2):  # the weak bridge 4-10
            rows.append((g, 4))
            rows.append((g, 10))
            g += 1
        df = spark.createDataFrame(rows, "grp long, item long")
        out = {
            r["item"]: r["community"]
            for r in label_propagation(df, "grp", "item").collect()
        }
        assert {out[1], out[2], out[3]} == {1}
        assert {out[11], out[12], out[13]} == {10}

    def test_deterministic_across_partitionings(self, spark):
        from nhl_data_warehouse_spark.operators.graph import label_propagation

        rows = [(g, i) for g in range(40) for i in (g % 7, (g % 7) + 7)]
        df = spark.createDataFrame(rows, "grp long, item long")
        a = sorted(map(tuple, label_propagation(df, "grp", "item").collect()))
        b = sorted(
            map(
                tuple,
                label_propagation(
                    df.repartition(13, "item"), "grp", "item"
                ).collect(),
            )
        )
        assert a == b


class TestCupedAdjustedAb:
    def test_matches_python_reference(self, spark):
        """Independent numpy-free reference on crafted per-user
        pre/post data with a known md5 split."""
        import hashlib
        import datetime

        from nhl_data_warehouse_spark.operators.regression import (
            cuped_adjusted_ab,
        )

        pre_t = datetime.datetime(2024, 1, 10)
        post_t = datetime.datetime(2024, 1, 20)
        rows = []
        for u in range(200):
            rows.append((u, pre_t, float(u % 13)))
            rows.append((u, post_t, float((u % 13) * 2 + u % 3)))
        df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
        out = cuped_adjusted_ab(df).collect()[0]
        xs, ys, ia = {}, {}, {}
        for u in range(200):
            xs[u] = int(round((u % 13) * 100))
            ys[u] = int(round(((u % 13) * 2 + u % 3) * 100))
            ia[u] = hashlib.md5(str(u).encode()).hexdigest()[0] in "01234567"
        n = 200
        sx = sum(xs.values()); sy = sum(ys.values())
        sxy = sum(xs[u] * ys[u] for u in xs)
        sxx = sum(xs[u] * xs[u] for u in xs)
        theta = float(n * sxy - sx * sy) / float(n * sxx - sx * sx)
        na = sum(ia.values()); nb = n - na
        sya = sum(ys[u] for u in ys if ia[u]); sxa = sum(xs[u] for u in xs if ia[u])
        mya, mxa, mx = sya / na, sxa / na, sx / n
        adj_a = (mya - theta * (mxa - mx)) / 100.0
        assert out["n_a"] == na and out["n_b"] == nb
        assert abs(out["theta"] - theta) < 1e-12
        assert abs(out["adj_mean_a"] - adj_a) < 1e-9
        assert 0.0 < out["var_reduction"] <= 1.0

    def test_zero_pre_variance_nulls(self, spark):
        import datetime

        from nhl_data_warehouse_spark.operators.regression import (
            cuped_adjusted_ab,
        )

        post_t = datetime.datetime(2024, 1, 20)
        rows = [(u, post_t, float(u)) for u in range(50)]  # no pre events
        df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
        out = cuped_adjusted_ab(df).collect()[0]
        assert out["theta"] is None
        assert out["adj_mean_a"] is None and out["adj_diff"] is None
        assert out["mean_post_a"] is not None  # raw means survive


class TestHoltLinear:
    def test_matches_explicit_recursion(self, spark):
        import datetime

        from nhl_data_warehouse_spark.operators.timeseries import holt_linear

        series = {1: [10.0, 12.0, 15.0, 11.0], 2: [5.0], 3: [7.0, 7.0, 7.0]}
        rows = [
            (k, datetime.date(2025, 1 + i, 1), v)
            for k, vs in series.items()
            for i, v in enumerate(vs)
        ]
        df = spark.createDataFrame(rows, "k long, month date, v double")
        got = {
            (r["k"], r["month"].month): (
                r["holt_level"], r["holt_trend"], r["holt_forecast"]
            )
            for r in holt_linear(df, "k", "v").collect()
        }
        for k, vs in series.items():
            l, b = vs[0], 0.0
            for i, y in enumerate(vs):
                if i > 0:
                    ln = 0.5 * y + 0.5 * (l + b)
                    b = 0.25 * (ln - l) + 0.75 * b
                    l = ln
                assert got[(k, 1 + i)] == (l, b, l + b)

    def test_constant_series_flat(self, spark):
        import datetime

        from nhl_data_warehouse_spark.operators.timeseries import holt_linear

        rows = [(1, datetime.date(2025, 1 + i, 1), 9.0) for i in range(6)]
        df = spark.createDataFrame(rows, "k long, month date, v double")
        for r in holt_linear(df, "k", "v").collect():
            assert r["holt_level"] == 9.0 and r["holt_trend"] == 0.0


class TestIvmJoinView:
    def test_equals_full_recompute_and_delta_only_joins(self, spark):
        from nhl_data_warehouse_spark.operators.incremental import (
            join_view_delta,
        )

        facts = spark.createDataFrame(
            [(i, i % 4, float(i)) for i in range(100)],
            "fk long, custkey long, amount double",
        )
        dim = spark.createDataFrame(
            [(c, c % 2) for c in range(4)], "c long, nation long"
        )
        base = facts.where(F.col("fk") % 10 < 9)
        delta = facts.where(F.col("fk") % 10 == 9)
        inc = {
            r["nation"]: r["revenue"]
            for r in join_view_delta(
                base, delta, dim, "custkey", "c", "nation",
                F.col("amount"),
            ).collect()
        }
        full = {
            r["nation"]: r["rev"]
            for r in facts.join(dim, facts.custkey == dim.c)
            .groupBy("nation")
            .agg(F.sum("amount").cast("double").alias("rev"))
            .collect()
        }
        assert inc == full


class TestEmbeddingRobustProfile:
    def test_planted_outlier_dim(self, spark):
        from nhl_data_warehouse_spark.operators.similarity import (
            embedding_robust_profile,
        )

        rows = []
        for i in range(101):
            v = [0.0, float(i % 7) - 3.0]
            if i == 50:
                v[0] = 1000.0  # lone wild value in dim 1
            rows.append((i, v))
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = {r["dim"]: r for r in embedding_robust_profile(df).collect()}
        # dim 1: constant 0 except one wild value -> med 0, mad 0,
        # the wild value is the single outlier
        assert out[1]["med"] == 0.0 and out[1]["mad"] == 0.0
        assert out[1]["n_outliers"] == 1
        # dim 2: symmetric spread, no robust outliers
        assert out[2]["n_outliers"] == 0
        assert out[2]["n"] == 101


class TestQqDriftDeciles:
    def test_known_small_samples(self, spark):
        """Group 1 = 1..10, group 2 = 11..20 — every decile of g2 is
        exactly 10 above g1's (discrete upper quantile on ints)."""
        from nhl_data_warehouse_spark.operators.stats import qq_drift_deciles

        rows = [(float(v), 1) for v in range(1, 11)] + [
            (float(v), 0) for v in range(11, 21)
        ]
        df = spark.createDataFrame(rows, "v double, g int")
        out = {
            r["decile"]: (r["q1"], r["q2"], r["q_diff"])
            for r in qq_drift_deciles(df, "v", F.col("g") == 1).collect()
        }
        assert set(out) == {10, 20, 30, 40, 50, 60, 70, 80, 90}
        for q in out:
            # upper quantile of 1..10 at q% is ceil(q/10); of 11..20 is +10
            want1 = float(-(-q * 10 // 100))
            assert out[q] == (want1, want1 + 10.0, -10.0)

    def test_empty_side_emits_no_rows(self, spark):
        from nhl_data_warehouse_spark.operators.stats import qq_drift_deciles

        df = spark.createDataFrame(
            [(1.0, 0), (2.0, 0)], "v double, g int"
        )
        assert qq_drift_deciles(df, "v", F.col("g") == 1).count() == 0


class TestClusteringCoefficients:
    def test_known_graph(self, spark):
        """Triangle 1-2-3 plus pendant 4 attached to 1:
        cc(2)=cc(3)=1 (deg 2, 1 triangle), cc(1)=1/3 (deg 3),
        cc(4)=NULL (deg 1)."""
        from nhl_data_warehouse_spark.operators.graph import (
            clustering_coefficients,
        )

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (1, 3), (1, 4)], "a long, b long"
        )
        out = {r["node"]: r for r in clustering_coefficients(edges).collect()}
        assert out[2]["clustering_coeff"] == 1.0
        assert out[3]["clustering_coeff"] == 1.0
        assert abs(out[1]["clustering_coeff"] - 1 / 3) < 1e-15
        assert out[4]["clustering_coeff"] is None
        assert out[1]["degree"] == 3 and out[1]["n_triangles"] == 1


class TestDedupSavingsReport:
    def test_planted_clusters(self, spark):
        from nhl_data_warehouse_spark.operators.dedup import (
            dedup_savings_report,
        )

        docs = (
            [(i, "three tokens here") for i in range(3)]      # size-3 cluster
            + [(10, "a pair of four tokens"), (11, "a pair of four tokens")]
            + [(20, "unique one"), (21, "another unique doc")]
        )
        df = spark.createDataFrame(docs, "doc_id long, text string")
        out = {r["cluster_size"]: r for r in dedup_savings_report(df).collect()}
        assert out[3]["n_clusters"] == 1 and out[3]["tokens_saved"] == 2 * 3
        assert out[2]["n_clusters"] == 1 and out[2]["tokens_saved"] == 5
        assert out[1]["n_clusters"] == 2 and out[1]["tokens_saved"] == 0
        assert out[3]["n_docs"] == 3 and out[3]["n_dup_docs"] == 2
