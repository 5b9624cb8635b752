"""Unit tests for the round-3 late additions: duplicated-chunk
fraction, OOV rate, Gram matrix, ANN recall evaluation, grouped OLS."""

import math

import pytest


class TestDupChunkStats:
    def test_shared_chunks_flagged(self, spark):
        from nhl_data_warehouse_spark.operators.dedup import dup_chunk_stats

        # chunk size 2: doc1 = [a b][c d], doc2 = [a b][x y],
        # doc3 = [q r] (unique), doc4 = "" (dropped)
        df = spark.createDataFrame(
            [(1, "a b c d"), (2, "a b x y"), (3, "q r"), (4, "")],
            "doc_id long, text string",
        )
        got = {r.doc_id: r for r in dup_chunk_stats(df, chunk_tokens=2).collect()}
        assert set(got) == {1, 2, 3}
        assert got[1].n_chunks == 2 and got[1].n_dup_chunks == 1
        assert abs(got[1].dup_chunk_frac - 0.5) < 1e-12
        assert got[2].n_dup_chunks == 1
        assert got[3].n_dup_chunks == 0 and got[3].dup_chunk_frac == 0.0

    def test_short_tail_chunk_counts(self, spark):
        from nhl_data_warehouse_spark.operators.dedup import dup_chunk_stats

        df = spark.createDataFrame(
            [(1, "a b c"), (2, "z c")], "doc_id long, text string"
        )
        got = {r.doc_id: r for r in dup_chunk_stats(df, chunk_tokens=2).collect()}
        # doc1 chunks: [a b], [c]; doc2: [z c] — the 1-token tail "c"
        # of doc1 does NOT match inside "z c" (exact chunk equality)
        assert got[1].n_chunks == 2 and got[1].n_dup_chunks == 0


class TestOovRate:
    def test_vocab_cut_and_rate(self, spark):
        from nhl_data_warehouse_spark.operators.text import oov_rate

        df = spark.createDataFrame(
            [(1, "a a b"), (2, "a b z")], "doc_id long, text string"
        )
        # counts: a=3, b=2, z=1; vocab_size=2 -> {a, b}; z is OOV
        got = {r.doc_id: r for r in oov_rate(df, vocab_size=2).collect()}
        assert got[1].n_oov == 0 and got[1].oov_rate == 0.0
        assert got[2].n_tokens == 3 and got[2].n_oov == 1
        assert abs(got[2].oov_rate - round(1 / 3, 6)) < 1e-12

    def test_boundary_tie_is_lexicographic(self, spark):
        from nhl_data_warehouse_spark.operators.text import oov_rate

        # b and c tie at count 1; vocab_size=2 keeps {a, b} (b < c)
        df = spark.createDataFrame([(1, "a a c b")], "doc_id long, text string")
        (row,) = oov_rate(df, vocab_size=2).collect()
        assert row.n_oov == 1  # only c is OOV


class TestGramMatrix:
    def test_exact_cells(self, spark):
        from nhl_data_warehouse_spark.operators.similarity import gram_matrix

        df = spark.createDataFrame(
            [(1, [1.0, 2.0]), (2, [3.0, 4.0])], "vec_id long, embedding array<float>"
        )
        got = {(r.i, r.j): r.gram for r in gram_matrix(df).collect()}
        # G = [[1+9, 2+12], [., 4+16]] upper triangle
        assert got == {(0, 0): 10.0, (0, 1): 14.0, (1, 1): 20.0}

    def test_only_upper_triangle(self, spark):
        from nhl_data_warehouse_spark.operators.similarity import gram_matrix

        df = spark.createDataFrame(
            [(1, [1.0, 0.0, 2.0])], "vec_id long, embedding array<float>"
        )
        cells = gram_matrix(df).collect()
        assert len(cells) == 6  # d*(d+1)/2 for d=3
        assert all(r.i <= r.j for r in cells)


class TestAnnRecallEval:
    def test_self_consistent_recall(self, spark):
        from nhl_data_warehouse_spark.operators.similarity import ann_recall_at_k

        # 8 orthogonal-ish 4-d vectors; every id sampled (mod 1), k=2
        vecs = [
            (i, [float((i >> b) & 1) + 0.1 * b for b in range(4)])
            for i in range(8)
        ]
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
        rows = ann_recall_at_k(
            df, n_planes=4, dim=4, k=2, sample_mod=1
        ).collect()
        assert len(rows) == 8
        for r in rows:
            assert r.n_exact == 2
            assert 0 <= r.n_hit <= r.n_exact
            assert abs(r.recall_at_k - round(r.n_hit / r.n_exact, 6)) < 1e-12


class TestGroupedOls:
    def test_closed_form(self, spark):
        from nhl_data_warehouse_spark.operators.regression import grouped_ols

        df = spark.createDataFrame(
            [(1, 0, 10), (1, 1, 12), (1, 2, 14), (2, 5, 7), (2, 5, 9)],
            "g long, x long, y long",
        )
        got = {r.g: r for r in grouped_ols(df, "g", "x", "y").collect()}
        assert got[1].slope == pytest.approx(2.0) and got[1].intercept == pytest.approx(10.0)
        # group 2: x constant -> zero variance -> NULL fit
        assert got[2].slope is None and got[2].intercept is None
        assert got[2].n == 2

    def test_matches_float_reference(self, spark):
        from nhl_data_warehouse_spark.operators.regression import grouped_ols

        pts = [(1, x, 3 * x + 7 + (x % 3)) for x in range(10)]
        df = spark.createDataFrame(pts, "g long, x long, y long")
        (row,) = grouped_ols(df, "g", "x", "y").collect()
        xs = [p[1] for p in pts]
        ys = [p[2] for p in pts]
        n = len(xs)
        num = n * sum(a * b for a, b in zip(xs, ys)) - sum(xs) * sum(ys)
        den = n * sum(a * a for a in xs) - sum(xs) ** 2
        assert row.slope == pytest.approx(num / den, abs=1e-12)
        assert not math.isnan(row.intercept)


class TestBigramLogprob:
    def test_known_corpus(self, spark):
        from nhl_data_warehouse_spark.operators.text import bigram_logprob_score

        # corpus: doc1 "a b a b", doc2 "a b"; bigrams: a b (x3), b a (x1)
        # V = 3 (a, b, x); left counts c(a.) = 3, c(b.) = 1
        df = spark.createDataFrame(
            [(1, "a b a b"), (2, "a b"), (3, "x")], "doc_id long, text string"
        )
        got = {r.doc_id: r for r in bigram_logprob_score(df).collect()}
        assert 3 not in got  # single-token doc emits no row
        assert got[1].n_bigrams == 3 and got[2].n_bigrams == 1
        import math
        lp_ab = round(math.log((3 + 1) / (3 + 3)), 6)   # P(b|a)
        lp_ba = round(math.log((1 + 1) / (1 + 3)), 6)   # P(a|b)
        exp1 = -(2 * lp_ab + lp_ba) / 3
        assert got[1].avg_neg_logprob2 == pytest.approx(exp1, abs=1e-9)
        assert got[2].avg_neg_logprob2 == pytest.approx(-lp_ab, abs=1e-9)


class TestMinhashJaccardError:
    def test_identical_docs_zero_error(self, spark):
        from nhl_data_warehouse_spark.suite import REGISTRY  # noqa: F401
        from nhl_data_warehouse_spark.operators import dedup
        from pyspark.sql import functions as F

        base = "the quick brown fox jumps over the lazy dog again and again"
        df = spark.createDataFrame(
            [(1, base), (2, base), (3, "zz qq ww ee rr tt yy uu ii oo pp aa")],
            "doc_id long, text string",
        )
        sh = dedup.char_shingles(df, k=12)
        sigs = dedup.minhash_signatures(sh, n_hashes=8)
        cands = dedup.minhash_band_candidates(sigs, n_hashes=8, band_size=2)
        rows = cands.collect()
        assert (1, 2) in {(r.a_id, r.b_id) for r in rows}
        exact = dedup.jaccard_pairs(sh, candidates=cands, threshold=0.0)
        pair = {(r.a_id, r.b_id): r.jaccard for r in exact.collect()}
        # identical docs: exact jaccard 1.0, all 8 slots match
        assert pair[(1, 2)] == 1.0


class TestStandardizeEmbeddings:
    def test_zscores_exact(self, spark):
        from nhl_data_warehouse_spark.operators.similarity import (
            standardize_embeddings,
        )

        df = spark.createDataFrame(
            [(1, [1.0, 5.0]), (2, [3.0, 5.0]), (3, [5.0, 5.0])],
            "vec_id long, embedding array<float>",
        )
        got = {(r.vec_id, r.i): r.zscore for r in standardize_embeddings(df).collect()}
        # dim 0: mean 3, pop std sqrt(8/3); z = (x-3)/sqrt(8/3)
        import math
        sd = math.sqrt(8 / 3)
        assert got[(1, 0)] == pytest.approx(-2 / sd, rel=1e-12)
        assert got[(2, 0)] == pytest.approx(0.0, abs=0.0)
        assert got[(3, 0)] == pytest.approx(2 / sd, rel=1e-12)
        # dim 1 constant -> NULL
        assert got[(1, 1)] is None and got[(3, 1)] is None


class TestCurriculumOrder:
    def test_tiers_then_hash(self, spark):
        from nhl_data_warehouse_spark.operators.sampling import curriculum_order

        df = spark.createDataFrame(
            [(1, 2), (2, 10), (3, 2), (4, 7)], "doc_id long, q int"
        )
        rows = curriculum_order(df, "q").orderBy("curriculum_pos").collect()
        # positions are a dense 1..n permutation, scores non-increasing
        assert [r.curriculum_pos for r in rows] == [1, 2, 3, 4]
        scores = [r.q for r in rows]
        assert scores == sorted(scores, reverse=True)
        assert rows[0].doc_id == 2 and rows[1].doc_id == 4

    def test_stable_under_repartition(self, spark):
        from nhl_data_warehouse_spark.operators.sampling import curriculum_order

        df = spark.createDataFrame(
            [(i, i % 5) for i in range(40)], "doc_id long, q int"
        )
        a = {r.doc_id: r.curriculum_pos for r in curriculum_order(df, "q").collect()}
        b = {
            r.doc_id: r.curriculum_pos
            for r in curriculum_order(df.repartition(7), "q").collect()
        }
        assert a == b

    def test_out_of_contract_score_raises(self, spark):
        # ADVICE r3: the composite bucket is only monotone for integer
        # scores in [0, max_score]; violations must fail the job, not
        # silently corrupt the global order
        from nhl_data_warehouse_spark.operators.sampling import curriculum_order

        for bad in [[(1, 11)], [(1, -1)], [(1, None)]]:
            df = spark.createDataFrame(bad, "doc_id long, q int")
            with pytest.raises(Exception, match="curriculum_order"):
                curriculum_order(df, "q").collect()
        frac = spark.createDataFrame([(1, 2.5)], "doc_id long, q double")
        with pytest.raises(Exception, match="curriculum_order"):
            curriculum_order(frac, "q").collect()

    def test_valid_boundary_scores_pass(self, spark):
        from nhl_data_warehouse_spark.operators.sampling import curriculum_order

        df = spark.createDataFrame(
            [(1, 0.0), (2, 10.0), (3, 5.0)], "doc_id long, q double"
        )
        rows = curriculum_order(df, "q").collect()
        assert sorted(r.curriculum_pos for r in rows) == [1, 2, 3]


class TestSourceOverlapMatrix:
    def test_pairwise_chunk_jaccard(self, spark):
        from nhl_data_warehouse_spark.operators.dedup import source_overlap_matrix

        # chunk size 2: A docs -> chunks {a b, c d}; B -> {a b, x y};
        # C -> {q r} (no overlap with anyone)
        df = spark.createDataFrame(
            [("A", "a b c d"), ("B", "a b x y"), ("C", "q r")],
            "source string, text string",
        )
        rows = source_overlap_matrix(df, chunk_tokens=2).collect()
        assert len(rows) == 1
        (r,) = rows
        assert (r.src_a, r.src_b) == ("A", "B")
        assert r.n_common == 1 and r.n_a == 2 and r.n_b == 2
        assert abs(r.chunk_jaccard - 1 / 3) < 1e-12

    def test_distinct_chunks_within_source(self, spark):
        from nhl_data_warehouse_spark.operators.dedup import source_overlap_matrix

        # repeated chunk inside one source counts once
        df = spark.createDataFrame(
            [("A", "a b a b"), ("A", "a b c d"), ("B", "a b")],
            "source string, text string",
        )
        (r,) = source_overlap_matrix(df, chunk_tokens=2).collect()
        assert r.n_a == 2 and r.n_b == 1 and r.n_common == 1


class TestEventTransitions:
    def test_counts_and_probabilities(self, spark):
        from nhl_data_warehouse_spark.operators.sessions import event_transitions

        rows = [
            (1, 1, "2025-01-01 10:00:00", "a"),
            (2, 1, "2025-01-01 10:01:00", "b"),
            (3, 1, "2025-01-01 10:02:00", "a"),
            (4, 2, "2025-01-01 09:00:00", "a"),
            (5, 2, "2025-01-01 09:05:00", "c"),
        ]
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            rows, "event_id long, user_id long, ts string, event_type string"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        got = {(r.from_type, r.to_type): r for r in event_transitions(df).collect()}
        # user1: a->b, b->a; user2: a->c; from 'a' totals 2
        assert got[("a", "b")].n == 1 and got[("a", "c")].n == 1
        assert got[("a", "b")].p == 0.5 and got[("a", "c")].p == 0.5
        assert got[("b", "a")].p == 1.0
        # last events per user have no successor
        assert ("a", None) not in got


class TestDedupRateByGroup:
    def test_cross_group_copies_count_in_both(self, spark):
        from nhl_data_warehouse_spark.operators.dedup import dedup_rate_by_group

        df = spark.createDataFrame(
            [("A", 1, "Same text!"), ("B", 2, "same text"), ("A", 3, "unique a")],
            "source string, doc_id long, text string",
        )
        got = {r.source: r for r in dedup_rate_by_group(df).collect()}
        # normalization makes 1 and 2 equal -> both sources report the dup
        assert got["A"].n_docs == 2 and got["A"].n_dup_docs == 1
        assert abs(got["A"].dup_rate - 0.5) < 1e-12
        assert got["B"].n_docs == 1 and got["B"].n_dup_docs == 1
        assert got["B"].dup_rate == 1.0


class TestGroupedNtileRfm:
    def test_grouped_ntile_matches_global_ntile(self, spark):
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window
        from nhl_data_warehouse_spark.operators.layout import grouped_ntile

        df = spark.createDataFrame(
            [(i, (i * 37) % 100, (i * 13) % 7) for i in range(50)],
            "id long, a long, b long",
        )
        got = {
            r.id: (r.a_tile, r.b_tile)
            for r in grouped_ntile(df, "id", ["a", "b"], n_tiles=4).collect()
        }
        for m, idx in (("a", 0), ("b", 1)):
            w = Window.orderBy(F.col(m), F.col("id"))
            ref = {
                r.id: r.t
                for r in df.select("id", F.ntile(4).over(w).alias("t")).collect()
            }
            assert {k: v[idx] for k, v in got.items()} == ref

    def test_rfm_codes(self, spark):
        from pyspark.sql import functions as F
        from nhl_data_warehouse_spark.operators.mart import rfm_segments

        rows = []
        for c in range(10):
            for o in range(c + 1):  # customer c has c+1 orders
                rows.append((c, f"2025-01-{o + 1:02d}", 100.0 * (c + 1)))
        df = spark.createDataFrame(
            rows, "o_custkey long, o_orderdate string, o_totalprice double"
        ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))
        out = {r.o_custkey: r for r in rfm_segments(df, n_tiles=5).collect()}
        assert len(out) == 10
        # customer 9 has the most orders and highest spend -> top tiles
        assert out[9].f_tile == 5 and out[9].m_tile == 5
        assert out[0].f_tile == 1
        for r in out.values():
            assert r.rfm_code == r.r_tile * 100 + r.f_tile * 10 + r.m_tile
            assert r.monetary == r.frequency * 100.0 * (r.o_custkey + 1)


class TestKmSurvival:
    def test_textbook_curve(self, spark):
        from nhl_data_warehouse_spark.operators.timeseries import km_survival
        import math

        # classic toy: events at t=1 (1 of 5), t=3 (1 of 3);
        # censored at t=2 and t=4; one more at-risk to t=5 censored
        df = spark.createDataFrame(
            [(1, 1), (2, 0), (3, 1), (4, 0), (5, 0)],
            "duration long, observed int",
        )
        got = {r.duration: r for r in km_survival(df).collect()}
        assert got[1].n_at_risk == 5 and got[1].n_events == 1
        assert got[2].n_at_risk == 4 and got[2].n_censored == 1
        assert got[3].n_at_risk == 3 and got[3].n_events == 1
        f1 = round(math.log(1 - 1 / 5), 6)
        f3 = round(math.log(1 - 1 / 3), 6)
        assert got[1].log_survival == pytest.approx(f1, abs=1e-9)
        assert got[2].log_survival == pytest.approx(f1, abs=1e-9)
        assert got[3].log_survival == pytest.approx(f1 + f3, abs=1e-9)
        assert got[5].log_survival == pytest.approx(f1 + f3, abs=1e-9)

    def test_dies_out_goes_null(self, spark):
        from nhl_data_warehouse_spark.operators.timeseries import km_survival

        df = spark.createDataFrame(
            [(1, 1), (2, 1)], "duration long, observed int"
        )
        got = {r.duration: r for r in km_survival(df).collect()}
        # at t=2 every remaining spell dies -> survival 0, log NULL
        assert got[1].log_survival is not None
        assert got[2].log_survival is None


class TestZipfFit:
    def test_perfect_zipf_slope(self, spark):
        from nhl_data_warehouse_spark.operators.text import zipf_fit

        # construct counts ~ 1000/rank: term t_r repeated 1000//r times
        words = []
        for r in range(1, 9):
            words += [f"t{r:02d}"] * (1000 // r)
        df = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
        (row,) = zipf_fit(df, top_n=8).collect()
        assert row.n_terms == 8
        # counts floor(1000/r) -> slope near -1
        assert -1.05 < row.zipf_slope < -0.95


class TestIvfRecallEval:
    def test_sampled_queries_bounded(self, spark):
        from nhl_data_warehouse_spark.operators.similarity import ivf_recall_at_k

        vecs = [(i, [float(((i * 7 + j * 3) % 11) - 5) for j in range(8)]) for i in range(24)]
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
        rows = ivf_recall_at_k(df, n_centroids=4, k=3, sample_mod=6).collect()
        assert {r.query_id for r in rows} == {0, 6, 12, 18}
        for r in rows:
            assert r.n_exact == 3 and 0 <= r.n_hit <= 3
            assert abs(r.recall_at_k - round(r.n_hit / 3, 6)) < 1e-12


class TestPqDistortionReport:
    def test_codebook_members_have_zero_distortion(self, spark):
        from nhl_data_warehouse_spark.operators.similarity import pq_encode
        from pyspark.sql import functions as F

        vecs = [(i, [float((i + j) % 5) for j in range(8)]) for i in range(12)]
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
        enc = pq_encode(df, dim=8, m=2, n_codes=4)
        # a codebook seed vector reconstructs itself exactly
        own = enc.filter(F.col("vec_id") < 4).collect()
        assert all(r.dist == 0.0 and r.code == r.vec_id for r in own)
        rep = enc.groupBy("subspace").agg(
            F.count(F.lit(1)).alias("n"), F.max("dist").alias("mx")
        ).collect()
        assert {r.subspace for r in rep} == {0, 1}
        assert all(r.n == 12 for r in rep)


class TestAssociationRules:
    def test_lift_and_confidence(self, spark):
        from nhl_data_warehouse_spark.operators.graph import association_rules

        # 4 baskets; a,b together in 2 of them; a in 3, b in 2
        rows = [
            (1, "a"), (1, "b"),
            (2, "a"), (2, "b"),
            (3, "a"), (3, "c"),
            (4, "c"),
        ]
        df = spark.createDataFrame(rows, "g long, i string")
        got = {
            (r.item_a, r.item_b): r
            for r in association_rules(df, "g", "i", min_pair_count=1).collect()
        }
        ab = got[("a", "b")]
        assert ab.n_ab == 2 and ab.n_a == 3 and ab.n_b == 2
        assert ab.support == pytest.approx(2 / 4)
        assert ab.conf_a_to_b == pytest.approx(2 / 3)
        assert ab.conf_b_to_a == pytest.approx(1.0)
        assert ab.lift == pytest.approx(2 * 4 / (3 * 2))
        # duplicate items in one basket count once
        assert ("a", "c") in got and got[("a", "c")].n_ab == 1


class TestPitJoin:
    def test_picks_version_valid_at_event_time(self, spark):
        from pyspark.sql import functions as F
        from nhl_data_warehouse_spark.operators.asof import pit_join

        dim = spark.createDataFrame(
            [
                (1, "OLD", "2020-01-01", "2021-01-01"),
                (1, "NEW", "2021-01-01", None),
                (2, "ONLY", "2020-06-01", None),
            ],
            "k long, attr string, valid_from string, valid_to string",
        ).select(
            "k", "attr",
            F.col("valid_from").cast("date").alias("valid_from"),
            F.col("valid_to").cast("date").alias("valid_to"),
        )
        facts = spark.createDataFrame(
            [(1, "2020-06-15"), (1, "2021-01-01"), (2, "2020-01-01"), (3, "2022-01-01")],
            "k long, ts string",
        ).select("k", F.col("ts").cast("date").alias("ts"))
        got = {(r.k, str(r.ts)): r.attr for r in pit_join(facts, dim, "k", "ts").collect()}
        assert got[(1, "2020-06-15")] == "OLD"
        assert got[(1, "2021-01-01")] == "NEW"   # boundary: from inclusive, to exclusive
        assert got[(2, "2020-01-01")] is None    # before first version
        assert got[(3, "2022-01-01")] is None    # unknown key, left join keeps fact

    def test_payload_name_clash_raises(self, spark):
        # ADVICE r3: dim payloads keep their own names next to __f.*;
        # a shared payload name would emit duplicate columns — refuse
        from pyspark.sql import functions as F
        from nhl_data_warehouse_spark.operators.asof import pit_join

        dim = spark.createDataFrame(
            [(1, "x", "2020-01-01", None)],
            "k long, note string, valid_from string, valid_to string",
        ).select(
            "k", "note",
            F.col("valid_from").cast("date").alias("valid_from"),
            F.col("valid_to").cast("date").alias("valid_to"),
        )
        facts = spark.createDataFrame(
            [(1, "2020-06-15", "f")], "k long, ts string, note string"
        ).select("k", F.col("ts").cast("date").alias("ts"), "note")
        with pytest.raises(ValueError, match="collide"):
            pit_join(facts, dim, "k", "ts")


class TestGramPowerStep:
    def test_unit_norm_and_direction(self, spark):
        import math
        from nhl_data_warehouse_spark.operators.similarity import gram_power_step

        # rows along e0 dominate -> component concentrates on dim 0
        df = spark.createDataFrame(
            [(i, [10.0, 1.0, 0.5]) for i in range(5)],
            "vec_id long, embedding array<float>",
        )
        comp = {r.i: r.component for r in gram_power_step(df).collect()}
        assert len(comp) == 3
        norm = math.sqrt(sum(v * v for v in comp.values()))
        assert norm == pytest.approx(1.0, abs=1e-9)
        assert comp[0] > comp[1] > comp[2] > 0


class TestTrainingManifestAssembly:
    def test_spans_are_contiguous_in_shuffle_order(self, spark):
        from nhl_data_warehouse_spark.suite import REGISTRY

        rows = (
            REGISTRY["training_manifest_assembly"]
            .fn(spark, "/root/testdata/sf0.001")
            .orderBy("shuffle_pos")
            .collect()
        )
        assert rows, "manifest must keep at least one train doc"
        # dense 1..n shuffle positions; offsets = exact prefix sums
        assert [r.shuffle_pos for r in rows] == list(range(1, len(rows) + 1))
        off = 0
        for r in rows:
            assert r.start_offset == off
            assert r.first_block == off // 512
            off += r.n_tokens
        # dedup + split really filtered something
        n_all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").count()
        assert len(rows) < n_all


class TestCrossSplitContamination:
    def test_planted_leak_detected(self, spark):
        from nhl_data_warehouse_spark.suite import REGISTRY

        rows = REGISTRY["cross_split_contamination"].fn(
            spark, "/root/testdata/sf0.01"
        ).collect()
        # every reported pair crosses the boundary with jaccard >= 0.5
        from nhl_data_warehouse_spark.operators import sampling

        split = {
            r.doc_id: r.split
            for r in sampling.hash_split(
                spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
                .select("doc_id"),
                ["doc_id"],
                {"train": 0.8, "heldout": 0.2},
                salt="split-v1",
            ).collect()
        }
        assert rows
        for r in rows:
            assert split[r.train_id] == "train"
            assert split[r.test_id] == "heldout"
            assert r.jaccard >= 0.5


class TestWindowFunnel:
    def test_window_bounds_and_order(self, spark):
        from pyspark.sql import functions as F
        from nhl_data_warehouse_spark.operators.sessions import window_funnel

        rows = [
            # user 1: full chain inside 1h of the anchor
            (1, "10:00", "view"), (1, "10:10", "click"), (1, "10:20", "purchase"),
            # user 2: purchase outside the window of the only view
            (2, "10:00", "view"), (2, "10:10", "click"), (2, "11:30", "purchase"),
            # user 3: click BEFORE the view (order violated)
            (3, "10:10", "view"), (3, "10:00", "click"),
            # user 4: view only
            (4, "10:00", "view"),
            # user 5: later anchor rescues the chain
            (5, "09:00", "view"), (5, "10:30", "view"),
            (5, "10:40", "click"), (5, "10:50", "purchase"),
        ]
        df = spark.createDataFrame(
            [(u, f"2025-01-01 {t}:00", ty) for u, t, ty in rows],
            "user_id long, ts string, event_type string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        got = {
            r.user_id: r.funnel_level
            for r in window_funnel(df, window_seconds=3600).collect()
        }
        assert got == {1: 3, 2: 2, 3: 1, 4: 1, 5: 3}


class TestLangIdConfusion:
    def test_recall_shares_sum_to_one(self, spark):
        from nhl_data_warehouse_spark.suite import REGISTRY

        rows = REGISTRY["lang_id_confusion"].fn(
            spark, "/root/testdata/sf0.001"
        ).collect()
        assert rows
        from collections import defaultdict

        by_true = defaultdict(float)
        for r in rows:
            assert 0 < r.recall_share <= 1
            assert r.n <= r.n_true
            by_true[r.true_lang] += r.recall_share
        for lang, total in by_true.items():
            assert abs(total - 1.0) < 1e-9, lang
