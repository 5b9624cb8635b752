"""Semantic tests for the training-data operators: planted
near-duplicates must be found (recall), sketches must behave like
sketches, and the multimodal plumbing must preserve shapes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nhl_data_warehouse_spark.operators import dedup, multimodal, similarity, text

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact dup of 0
        (2, BASE.replace("quick", "swift")),  # near dup of 0
        (3, "completely different content about spark query engines and shuffles"),
        (4, "  The QUICK brown fox jumps over the lazy dog while the cat watches "
            "from the warm windowsill and the birds sing in the garden outside!! "),
        # 4 = dup of 0 after normalization only
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestExactDedup:
    def test_exact_groups(self, docs):
        out = dedup.exact_dedup(docs).collect()
        groups = {r.representative_id: r.n_copies for r in out}
        assert groups[0] == 2  # docs 0,1
        assert groups[2] == 1 and groups[3] == 1 and groups[4] == 1

    def test_normalized_groups(self, docs):
        out = dedup.exact_dedup(docs, normalize=True).collect()
        groups = {r.representative_id: r.n_copies for r in out}
        assert groups[0] == 3  # docs 0,1,4 collapse after normalization

    def test_dedup_against_corpus(self, spark):
        history = spark.createDataFrame(
            [(1, "seen before"), (2, "also seen")], "doc_id long, text string"
        )
        batch = spark.createDataFrame(
            [
                (10, "seen before"),     # cross-arm dup -> dropped
                (11, "brand new text"),  # kept
                (12, "brand new text"),  # within-batch dup of 11 -> collapsed
                (13, "another new one"),  # kept
            ],
            "doc_id long, text string",
        )
        out = dedup.dedup_against_corpus(batch, history).collect()
        assert {r.doc_id for r in out} == {11, 13}
        assert all(len(r.fingerprint) == 32 for r in out)


class TestMinHashLSH:
    def test_near_dup_recall(self, docs):
        sh = dedup.char_shingles(docs, k=12)
        sig = dedup.minhash_signatures(sh, n_hashes=8)
        cands = dedup.minhash_band_candidates(sig, n_hashes=8, band_size=2)
        pairs = {(r.a_id, r.b_id) for r in cands.collect()}
        assert (0, 1) in pairs  # exact dup always a candidate
        assert (0, 2) in pairs or (1, 2) in pairs  # near dup caught
        # unrelated doc 3 shares no 12-gram with the fox docs
        assert not any(3 in p for p in pairs)

    def test_star_cap_preserves_connectivity_and_bounds_pairs(self, spark):
        # 6 exact copies: all-pairs emits C(6,2)=15 candidates per band;
        # star_cap=3 must emit exactly the 5 (min, other) star links,
        # and connected components over them still form ONE cluster
        clones = spark.createDataFrame(
            [(i, BASE) for i in range(6)], "doc_id long, text string"
        )
        sh = dedup.char_shingles(clones, k=12)
        sig = dedup.minhash_signatures(sh, n_hashes=8)
        exact = dedup.minhash_band_candidates(sig, n_hashes=8, band_size=2)
        capped = dedup.minhash_band_candidates(
            sig, n_hashes=8, band_size=2, star_cap=3
        )
        assert exact.count() == 15
        got = {(r.a_id, r.b_id) for r in capped.collect()}
        assert got == {(0, i) for i in range(1, 6)}
        cc = dedup.connected_components(capped.select("a_id", "b_id"))
        assert {r.cluster_id for r in cc.collect()} == {0}

    def test_star_cap_candidates_subset_with_min_anchors(self, spark):
        # property over a mixed corpus (two clone families + uniques):
        # capped candidates are a subset of the uncapped ones, every
        # pair is ordered, and capped links out of an oversized bucket
        # always anchor at a bucket minimum
        rows = (
            [(i, BASE) for i in range(5)]
            + [(10 + i, BASE.replace("fox", "owl")) for i in range(4)]
            + [(20, "some entirely different text about query engines")]
        )
        df = spark.createDataFrame(rows, "doc_id long, text string")
        sh = dedup.char_shingles(df, k=12)
        sig = dedup.minhash_signatures(sh, n_hashes=8)
        exact = {(r.a_id, r.b_id) for r in
                 dedup.minhash_band_candidates(sig, n_hashes=8, band_size=2).collect()}
        capped = {(r.a_id, r.b_id) for r in
                  dedup.minhash_band_candidates(
                      sig, n_hashes=8, band_size=2, star_cap=3
                  ).collect()}
        assert capped <= exact
        assert all(a < b for a, b in capped)
        # both clone families stay internally connected through min anchors
        assert {(0, i) for i in range(1, 5)} <= capped
        assert {(10, 10 + i) for i in range(1, 4)} <= capped

    def test_star_cap_leaves_small_buckets_exact(self, docs):
        sh = dedup.char_shingles(docs, k=12)
        sig = dedup.minhash_signatures(sh, n_hashes=8)
        exact = {(r.a_id, r.b_id) for r in
                 dedup.minhash_band_candidates(sig, n_hashes=8, band_size=2).collect()}
        capped = {(r.a_id, r.b_id) for r in
                  dedup.minhash_band_candidates(
                      sig, n_hashes=8, band_size=2, star_cap=10
                  ).collect()}
        assert capped == exact  # no bucket exceeds the cap -> identical

    def test_jaccard_verification(self, docs):
        sh = dedup.char_shingles(docs, k=12)
        out = dedup.jaccard_pairs(sh, threshold=0.5)
        j = {(r.a_id, r.b_id): r.jaccard for r in out.collect()}
        assert j[(0, 1)] == 1.0  # identical shingle sets
        assert 0.5 <= j[(0, 2)] < 1.0  # one-word edit stays similar
        assert (0, 3) not in j

    def test_candidates_restrict_pairs(self, docs, spark):
        sh = dedup.char_shingles(docs, k=12)
        cands = spark.createDataFrame([(0, 1)], "a_id long, b_id long")
        out = dedup.jaccard_pairs(sh, candidates=cands, threshold=0.0)
        assert {(r.a_id, r.b_id) for r in out.collect()} == {(0, 1)}

    @pytest.mark.parametrize("t", [0.3, 0.5, 0.55, 0.8])
    def test_prefix_filter_matches_all_pairs(self, docs, t):
        # the prefix-filter lemma guarantees zero recall loss: the
        # subquadratic candidate generation must reproduce the
        # all-pairs exact answer bit-for-bit at every threshold
        sh = dedup.char_shingles(docs, k=12)
        exact = {(r.a_id, r.b_id, r.jaccard) for r in
                 dedup.jaccard_pairs(sh, threshold=t).collect()}
        pref = {(r.a_id, r.b_id, r.jaccard) for r in
                dedup.prefix_filter_jaccard_pairs(sh, threshold=t).collect()}
        assert pref == exact
        assert exact  # fixture has near-dups at every tested threshold


class TestUnigramLogprob:
    def test_rare_tokens_score_higher(self, spark):
        rows = [(i, "the cat sat on the mat") for i in range(9)] + [
            (99, "zyzzyva qwerty xenon")
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r.doc_id: r for r in text.unigram_logprob_score(df).collect()}
        # common-token docs are unsurprising; the all-rare doc scores higher
        assert out[99].avg_neg_logprob > out[0].avg_neg_logprob
        assert out[0].n_tokens == 6 and out[99].n_tokens == 3
        # identical docs get identical scores (pure function of corpus)
        assert out[0].avg_neg_logprob == out[5].avg_neg_logprob


class TestBoilerplateRemoval:
    def test_common_sentences_dropped_order_preserved(self, spark):
        footer = "Subscribe to our newsletter"
        rows = [(i, f"Unique fact {i}. More detail {i}! {footer}.") for i in range(5)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r.doc_id: r for r in text.remove_boilerplate(df, max_df=3).collect()}
        assert out[0].clean_text == "Unique fact 0. More detail 0"
        assert all(footer not in r.clean_text for r in out.values())
        assert all(r.n_sentences == 2 for r in out.values())

    def test_doc_of_only_boilerplate_disappears(self, spark):
        rows = [(i, "Cookie policy applies.") for i in range(4)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        assert text.remove_boilerplate(df, max_df=3).count() == 0


class TestUdtf:
    def test_matches_native_posexplode_twin(self, spark):
        from nhl_data_warehouse_spark.functions import udtfs

        df = spark.createDataFrame(
            [(1, "a b  c"), (2, ""), (3, None)], "doc_id long, text string"
        )
        udtfs.register_all(spark)
        df.createOrReplaceTempView("udtf_docs")
        via_udtf = {
            (r.doc_id, r.pos, r.token)
            for r in spark.sql(
                "SELECT doc_id, t.pos, t.token FROM udtf_docs, LATERAL positional_tokenize(text) t"
            ).collect()
        }
        native = {
            (r.doc_id, r.pos, r.token)
            for r in df.select(
                "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
            )
            .filter("token <> ''")
            .collect()
        }
        assert via_udtf == native == {(1, 0, "a"), (1, 1, "b"), (1, 3, "c")}


class TestPiiRedaction:
    def test_typed_placeholders_and_counts(self, spark):
        df = spark.createDataFrame(
            [
                (1, "mail a@b.com see https://x.co/a?u=c@d.ee ip 10.0.0.1 tel +1-555-0042"),
                (2, "nothing sensitive here"),
            ],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in text.redact_pii(df).collect()}
        r = out[1]
        # the email inside the URL is swallowed by the URL pass — only
        # the standalone one is counted as an email
        assert (r.n_url, r.n_email, r.n_ipv4, r.n_phone) == (1, 1, 1, 1)
        assert r.clean_text == "mail <EMAIL> see <URL> ip <IPV4> tel <PHONE>"
        clean = out[2]
        assert clean.clean_text == "nothing sensitive here"
        assert (clean.n_url, clean.n_email, clean.n_ipv4, clean.n_phone) == (0, 0, 0, 0)

    def test_version_boundaries(self, spark):
        # version strings ("v1.2.3.4") match the ipv4 shape only when
        # digit-bounded; trailing punctuation stays outside placeholders
        df = spark.createDataFrame(
            [(1, "release v1.2.3.4 at 192.168.0.1, done")], "doc_id long, text string"
        )
        r = text.redact_pii(df).collect()[0]
        assert "192.168.0.1" not in r.clean_text
        assert r.clean_text.endswith("<IPV4>, done")


class TestConnectedComponents:
    def test_chain_two_components_and_pair(self, spark):
        # component {1..5} is a 5-node chain (diameter 4 — forces several
        # propagation iterations), {10,11,12} a triangle, {20,21} a pair
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12), (20, 21)],
            "a_id long, b_id long",
        )
        out = {r.doc_id: r.cluster_id for r in dedup.connected_components(edges).collect()}
        assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                       10: 10, 11: 10, 12: 10, 20: 20, 21: 20}

    def test_direction_irrelevant(self, spark):
        # min id arriving from the dst side must still win
        edges = spark.createDataFrame([(5, 1), (5, 3)], "a_id long, b_id long")
        out = {r.doc_id: r.cluster_id for r in dedup.connected_components(edges).collect()}
        assert out == {1: 1, 3: 1, 5: 1}


class TestSimHash:
    def test_dups_same_sketch_distinct_differs(self, docs):
        out = {r.doc_id: r.simhash for r in dedup.simhash(docs, bits=16).collect()}
        assert out[0] == out[1]  # identical docs, identical sketch
        assert 0 <= out[0] < 2**16
        # hamming distance between near-dups is small, unrelated large
        def ham(a, b):
            return bin(a ^ b).count("1")

        assert ham(out[0], out[2]) <= ham(out[0], out[3])


class TestSimilarity:
    @pytest.fixture(scope="class")
    def vecs(self, spark):
        import math

        rows = []
        for i in range(50):
            angle = (i / 50) * math.pi
            rows.append((i, [math.cos(angle), math.sin(angle), 0.0, 0.0]))
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def test_bruteforce_topk_self_first(self, vecs):
        q = F.array(*[F.lit(x) for x in [1.0, 0.0, 0.0, 0.0]])
        top = similarity.cosine_topk(vecs, q, k=5).collect()
        assert top[0].vec_id == 0 and top[0].cosine == pytest.approx(1.0)
        # neighbors ranked by angular distance
        assert [r.vec_id for r in top] == [0, 1, 2, 3, 4]

    def test_lsh_buckets_partition_space(self, vecs):
        b = similarity.lsh_hyperplane_buckets(vecs, n_planes=4, dim=4)
        rows = b.collect()
        assert all(0 <= r.bucket < 16 for r in rows)
        # same vector -> same bucket (deterministic)
        b2 = {r.vec_id: r.bucket for r in similarity.lsh_hyperplane_buckets(vecs, n_planes=4, dim=4).collect()}
        assert all(b2[r.vec_id] == r.bucket for r in rows)

    def test_ann_returns_query_bucket_neighbors(self, vecs):
        q = F.array(*[F.lit(x) for x in [1.0, 0.0, 0.0, 0.0]])
        approx = similarity.ann_bucketed_topk(vecs, q, n_planes=4, dim=4, k=5)
        rows = approx.collect()
        assert rows, "query bucket must contain at least the identical vector"
        assert rows[0].vec_id == 0  # exact match shares every sign bit


class TestText:
    def test_token_stats(self, spark):
        df = spark.createDataFrame([(1, "Hello, world! two  spaces")], "doc_id long, text string")
        r = text.token_stats(df).first()
        assert r.n_ws_tokens == 4
        assert r.n_bpe_tokens == 6  # hello , world ! two spaces

    def test_quality_integer_exact(self, spark):
        good = "the " + "word " * 40  # ~200 chars, stopword present
        bad = "x!" * 10
        df = spark.createDataFrame([(1, good), (2, bad)], "doc_id long, text string")
        out = {r.doc_id: r for r in text.quality_score(df).collect()}
        assert out[1].quality_decile > out[2].quality_decile
        assert out[2].n_punct == 10

    def test_lang_id(self, spark):
        df = spark.createDataFrame(
            [
                (1, "the cat is on a mat of dreams"),
                (2, "der hund und die katze das ist gut"),
                (3, "xyzzy plugh"),
            ],
            "doc_id long, text string",
        )
        out = {r.doc_id: r.pred_lang for r in text.lang_id(df).collect()}
        assert out[1] == "en" and out[2] == "de" and out[3] == "und"

    def test_hashed_linear_quality_deterministic_and_bounded(self, spark):
        import math

        df = spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "")],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in text.hashed_linear_quality(df).collect()}
        # identical text -> identical score; all scores in (0, 1)
        assert out[1].quality_score == out[2].quality_score
        assert 0.0 < out[1].quality_score < 1.0
        # token-less doc: margin 0 -> sigmoid(0) = 0.5, kept at threshold
        assert out[3].n_tokens == 0
        assert out[3].margin == 0.0
        assert out[3].quality_score == pytest.approx(0.5)
        # score equals sigmoid of the emitted margin (6dp rounded)
        assert out[1].quality_score == pytest.approx(
            round(1.0 / (1.0 + math.exp(-out[1].margin)), 6), abs=1e-9
        )
        assert out[1].keep == (out[1].quality_score >= 0.5)

    def test_hashed_linear_quality_margin_is_mean_of_bucket_weights(self, spark):
        import hashlib

        def bucket(tok):
            return int(hashlib.md5(f"hlq-v1|{tok}".encode()).hexdigest()[:4], 16) % 256

        def weight(b):
            v = int(hashlib.md5(f"hlq-v1|w|{b}".encode()).hexdigest()[:6], 16)
            return round(v / 16**6 * 2 - 1, 6)

        toks = ["spark", "query", "engine"]
        expected = round(sum(weight(bucket(t)) for t in toks) / len(toks), 9)
        df = spark.createDataFrame([(1, " ".join(toks))], "doc_id long, text string")
        (r,) = text.hashed_linear_quality(df).collect()
        assert r.margin == pytest.approx(expected, abs=1e-9)

    def test_chi2_finds_label_characteristic_term(self, spark):
        # "bonjour" appears in every fr doc and no en doc; "evenly" is
        # label-balanced (3 fr + 3 en); "filler" is in EVERY doc and
        # must be excluded as a degenerate zero-margin feature
        def doc(i, lang, marker):
            extra = " evenly" if i % 2 == 0 else ""
            return (i, lang, f"{marker} filler{extra}")

        rows = [doc(i, "fr", "bonjour") for i in range(6)]
        rows += [doc(10 + i, "en", "hello") for i in range(6)]
        df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
        collected = text.chi2_term_selection(
            df, label_col="lang", k=3, min_df=2
        ).collect()
        top = {r.lang: r.term for r in collected if r.rank == 1}
        assert top["fr"] == "bonjour" and top["en"] == "hello"
        assert not any(r.term == "filler" for r in collected)
        balanced = [r for r in collected if r.term == "evenly"]
        assert balanced and all(r.chi2 == 0.0 for r in balanced)

    def test_fingerprint_normalization_invariance(self, spark):
        df = spark.createDataFrame(
            [(1, "Hello  World!"), (2, "hello world")], "doc_id long, text string"
        )
        out = {r.doc_id: r for r in text.fingerprint(df).collect()}
        assert out[1].content_fingerprint == out[2].content_fingerprint
        assert len(out[1].min_shingle_hash) == 32


class TestMultimodal:
    def test_media_table_and_features(self, docs):
        media = multimodal.as_media_table(docs, source_col="text")
        feats = multimodal.extract_features(media)
        rows = {r.media_id: r for r in feats.collect()}
        assert set(rows) == {0, 1, 2, 3, 4}
        r0 = rows[0]
        assert r0.n_bytes == len(BASE.encode())
        assert r0.decoded_real is False  # stubbed decode path
        assert r0.width > 0 and r0.height > 0
        # identical payloads -> identical fake dimensions (determinism)
        assert (rows[0].width, rows[0].height) == (rows[1].width, rows[1].height)

    def test_resize_stub_halves_payload(self, docs):
        media = multimodal.as_media_table(docs, source_col="text")
        out = multimodal.resize_media(media)
        r = out.filter(F.col("media_id") == 0).first()
        assert r.meta.mime == "text/plain;resized"
        assert len(r.payload) == len(BASE.encode()) // 2


class TestContainmentAndEntropy:
    def test_containment_catches_subset_that_jaccard_misses(self, spark):
        from nhl_data_warehouse_spark.operators.dedup import char_shingles, jaccard_pairs

        small = "the quick brown fox jumps over the lazy dog again"
        big = small + " " + "filler words expand this document a lot " * 6
        df = spark.createDataFrame(
            [(1, small), (2, big)], "doc_id long, text string"
        )
        sh = char_shingles(df, k=12)
        cont = jaccard_pairs(sh, threshold=0.9, metric="containment").collect()
        assert len(cont) == 1 and cont[0].a_id == 1 and cont[0].b_id == 2
        assert cont[0].containment >= 0.99
        # plain jaccard at the same threshold sees nothing
        assert jaccard_pairs(sh, threshold=0.9, metric="jaccard").count() == 0

    def test_entropy_extremes(self, spark):
        import math

        from nhl_data_warehouse_spark.operators.text import token_entropy

        df = spark.createDataFrame(
            [
                (1, "spam spam spam spam"),          # zero entropy
                (2, "a b c d"),                       # uniform: ln(4)
                (3, "a a b"),                         # mixed
            ],
            "doc_id long, text string",
        )
        got = {r.doc_id: r for r in token_entropy(df).collect()}
        assert float(got[1].entropy_nats) == 0.0
        assert abs(float(got[2].entropy_nats) - math.log(4)) < 1e-6
        assert got[3].n_tokens == 3 and got[3].n_distinct_terms == 2
        expected = -(2 / 3 * math.log(2 / 3) + 1 / 3 * math.log(1 / 3))
        assert abs(float(got[3].entropy_nats) - expected) < 1e-6


class TestBm25:
    def test_ranking_and_length_normalization(self, spark):
        from nhl_data_warehouse_spark.operators.text import bm25_scores

        df = spark.createDataFrame(
            [
                (1, "spark spark spark shuffle"),            # tf=3, short
                (2, "spark " + "filler " * 40),              # tf=1, long
                (3, "join window join"),                      # 2 distinct hits
                (4, "nothing relevant here at all"),          # no hits
            ],
            "doc_id long, text string",
        )
        out = bm25_scores(df, ["spark", "join", "window"], k=10).collect()
        got = {r.doc_id: r for r in out}
        assert 4 not in got  # zero-hit docs never appear
        assert got[1].n_hit_terms == 1 and got[3].n_hit_terms == 2
        # higher tf + shorter doc beats single hit in a long doc
        assert float(got[1].bm25) > float(got[2].bm25)
        # all scores positive with RSJ idf
        assert all(float(r.bm25) > 0 for r in out)
        # output is sorted by score desc
        scores = [float(r.bm25) for r in out]
        assert scores == sorted(scores, reverse=True)

    def test_idf_downweights_ubiquitous_terms(self, spark):
        from nhl_data_warehouse_spark.operators.text import bm25_scores

        # "common" appears in every doc, "rare" in one; same tf/dl profile
        rows = [(i, "common pad pad pad") for i in range(9)]
        rows.append((9, "rare pad pad pad"))
        rows.append((10, "common rare pad pad"))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r.doc_id: r
            for r in bm25_scores(df, ["common", "rare"], k=20).collect()
        }
        # doc 10 has both terms; its score is dominated by "rare"
        assert float(got[9].bm25) > float(got[0].bm25)
        assert got[10].n_hit_terms == 2


class TestPmiBigrams:
    def test_glued_phrase_tops_independent_pair(self, spark):
        from nhl_data_warehouse_spark.operators.text import pmi_bigrams

        # "new york" always adjacent (perfect collocation); "the cat"
        # co-occurs but both words also appear apart constantly.
        doc = ("new york " * 1 + "the cat sat . the dog sat . cat the dog . ") * 6
        df = spark.createDataFrame(
            [(i, doc) for i in range(2)], "doc_id long, text string"
        )
        out = pmi_bigrams(df, min_count=5, k=50).collect()
        by_pair = {(r.w1, r.w2): float(r.pmi) for r in out}
        assert ("new", "york") in by_pair
        assert by_pair[("new", "york")] == max(by_pair.values())
        assert by_pair[("new", "york")] > by_pair[("the", "cat")]

    def test_min_count_prunes(self, spark):
        from nhl_data_warehouse_spark.operators.text import pmi_bigrams

        df = spark.createDataFrame(
            [(1, "alpha beta " * 4 + "gamma delta " * 8)],
            "doc_id long, text string",
        )
        pairs = {(r.w1, r.w2) for r in pmi_bigrams(df, min_count=6, k=50).collect()}
        assert ("gamma", "delta") in pairs          # 8 occurrences pass
        assert ("alpha", "beta") not in pairs        # 4 occurrences pruned


class TestRepetitionSignals:
    def test_exact_fractions(self, spark):
        from nhl_data_warehouse_spark.operators.text import repetition_signals

        rows = [
            (1, "a b c d e " * 3),        # 15 tokens: 11 5-gram slots, 5 distinct
            (2, "a b c d e f g h i j"),   # all unique: dup frac 0
            (3, "x y"),                    # shorter than n: excluded
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: r for r in repetition_signals(df, n=5).collect()}
        assert 3 not in got
        assert got[1].n_grams == 11 and got[1].n_distinct_grams == 5
        assert abs(got[1].dup_ngram_frac - 6 / 11) < 1e-12
        assert got[2].dup_ngram_frac == 0.0
        # doc 1 bigrams: 14 slots, "a b" appears 3 times -> top share 3/14
        assert got[1].n_bigrams == 14 and got[1].top_bigram_count == 3
        assert abs(got[1].top_bigram_frac - 3 / 14) < 1e-12


class TestBpeMergeCandidates:
    def test_pair_counts_within_words(self, spark):
        from nhl_data_warehouse_spark.operators.text import bpe_merge_candidates

        df = spark.createDataFrame(
            [(1, "aab aab"), (2, "ba x")], "doc_id long, text string"
        )
        got = {r.pair: r.pair_count for r in
               bpe_merge_candidates(df, min_count=1, k=10).collect()}
        # "aab" twice -> 'a a' x2, 'a b' x2; "ba" -> 'b a'; "x" has no
        # pair (single char); pairs never cross word boundaries
        assert got == {"a a": 2, "a b": 2, "b a": 1}

    def test_min_count_and_topk_order(self, spark):
        from nhl_data_warehouse_spark.operators.text import bpe_merge_candidates

        df = spark.createDataFrame([(1, "aab aab ba")], "doc_id long, text string")
        rows = bpe_merge_candidates(df, min_count=2, k=1).collect()
        # ties on count=2 break on pair asc -> 'a a' wins the k=1 cut
        assert [(r.pair, r.pair_count) for r in rows] == [("a a", 2)]
