"""Degenerate-input hardening: every reusable operator must accept an
EMPTY frame and return an empty result with the right schema instead
of crashing — the library contract for incremental pipelines whose
daily batch can legitimately be empty."""

from __future__ import annotations

from pyspark.sql import functions as F


def _empty(spark, schema: str):
    return spark.createDataFrame([], schema)


def test_dedup_ops_accept_empty(spark):
    from nhl_data_warehouse_spark.operators import dedup

    docs = _empty(spark, "doc_id long, text string")
    assert dedup.exact_dedup(docs).count() == 0
    assert dedup.remove_duplicate_spans(docs).count() == 0
    assert dedup.dup_chunk_stats(docs).count() == 0
    sh = dedup.char_shingles(docs, k=4)
    assert dedup.minhash_signatures(sh).count() == 0


def test_sampling_ops_accept_empty(spark):
    from nhl_data_warehouse_spark.operators import sampling

    df = _empty(spark, "doc_id long, lang string, score long, w long")
    assert sampling.hash_sample(df, 0.5).count() == 0
    assert sampling.stratified_kfold(df, 5).count() == 0
    assert (
        sampling.budget_select(df, "score", "w", budget=10, max_score=2).count()
        == 0
    )
    assert (
        sampling.mixture_epoch_plan(
            df, "lang", "w", budget=100, shares={"en": 1.0}
        ).count()
        == 0
    )


def test_text_and_stats_ops_accept_empty(spark):
    from nhl_data_warehouse_spark.operators import text
    from nhl_data_warehouse_spark.operators.regression import mad_by_group

    docs = _empty(spark, "doc_id long, text string, lang string")
    assert text.quality_score(docs).count() == 0
    assert text.dsir_logratio_weights(docs, F.col("lang") == "en").count() == 0
    assert mad_by_group(_empty(spark, "g string, x double"), "g", "x").count() == 0


def test_timeseries_and_media_ops_accept_empty(spark):
    from nhl_data_warehouse_spark.operators import multimodal
    from nhl_data_warehouse_spark.operators.timeseries import ewma

    assert (
        ewma(_empty(spark, "k long, t long, x double"), "k", "t", "x").count() == 0
    )
    media = _empty(spark, "media_id long, payload binary")
    out = multimodal.byte_class_stats(media)
    assert out.count() == 0
    assert [f.name for f in out.schema] == [
        "media_id", "n_bytes", "n_ascii", "n_spaces", "ascii_ratio",
    ]


def test_round5_ops_accept_empty(spark):
    from nhl_data_warehouse_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )
    from nhl_data_warehouse_spark.operators.packing import (
        length_bucket_padding_stats,
    )
    from nhl_data_warehouse_spark.operators.quantiles import exact_quantiles
    from nhl_data_warehouse_spark.operators.rangejoin import interval_lookup_join
    from nhl_data_warehouse_spark.operators.regression import welch_ab_stats
    from nhl_data_warehouse_spark.operators.text import fim_split
    from nhl_data_warehouse_spark.operators.timeseries import cusum_positive

    vals = _empty(spark, "v double")
    assert exact_quantiles(vals, "v", [0.5, 0.9]).count() == 0
    assert (
        exact_quantiles(
            _empty(spark, "g string, v double"), "v", [0.5], group_col="g"
        ).count()
        == 0
    )
    sh = _empty(spark, "doc_id long, shingle string")
    assert prefix_filter_jaccard_pairs(sh, threshold=0.5).count() == 0
    pts = _empty(spark, "pid long, v double")
    rng = _empty(spark, "label string, lo double, hi double")
    assert interval_lookup_join(pts, rng, value_col="v", cell_width=10.0).count() == 0
    assert cusum_positive(
        _empty(spark, "t long, x long, k long"), "t", "x"
    ).count() == 0
    assert fim_split(_empty(spark, "doc_id long, text string")).count() == 0
    assert length_bucket_padding_stats(
        _empty(spark, "n_tokens long"), weight_col="n_tokens"
    ).count() == 0
    # welch on empty: the single global-agg row survives with NULL
    # stats (counts 0) — the SQL aggregate convention, documented here
    r = welch_ab_stats(_empty(spark, "variant string, value double")).collect()[0]
    assert r.n_a == 0 and r.n_b == 0 and r.z_score is None


def test_round6_ops_accept_empty(spark):
    from pyspark.sql import functions as F

    from nhl_data_warehouse_spark.operators.skyline import pareto_frontier_2d
    from nhl_data_warehouse_spark.operators.stats import (
        ks_two_sample,
        mann_whitney_u,
    )
    from nhl_data_warehouse_spark.operators.timeseries import (
        day_bitmask_retention,
        linear_interpolate,
    )

    two = _empty(spark, "v double, g string")
    # degenerate statistics come back as one row of NULL/zero counts
    # or empty — either way they must not raise
    mw = mann_whitney_u(two, "v", F.col("g") == "a").collect()
    assert len(mw) <= 1
    ks = ks_two_sample(two, "v", F.col("g") == "a").collect()
    assert len(ks) <= 1

    pts = _empty(spark, "id long, cost double, gain long")
    assert pareto_frontier_2d(pts, "cost", "gain").count() == 0

    ev = _empty(spark, "user_id long, ts timestamp")
    ret = day_bitmask_retention(ev, n_days=5).collect()
    # no users -> the day spine itself is empty (explode over no rows)
    assert ret == []

    grid = _empty(spark, "k string, day date, v double")
    out = linear_interpolate(grid, "k", "day", "v")
    assert out.count() == 0
    assert [f.name for f in out.schema] == ["k", "day", "value_interp", "is_gap"]


def test_round7_ops_accept_empty(spark):
    from nhl_data_warehouse_spark.operators import membership

    keys = _empty(spark, "k string")
    bloom = membership.bloom_build(keys, "k", m_bits=256, k=2)
    assert bloom.count() == 0  # empty history -> empty bitmap relation
    probe = _empty(spark, "pid long, k string")
    assert (
        membership.bloom_probe(
            probe, bloom, key_col="k", id_col="pid", m_bits=256, k=2
        ).count()
        == 0
    )
    # non-empty probe against an EMPTY bitmap: everything definitely-new
    probe2 = spark.createDataFrame([(1, "x"), (2, "y")], "pid long, k string")
    rows = membership.bloom_probe(
        probe2, bloom, key_col="k", id_col="pid", m_bits=256, k=2
    ).collect()
    assert len(rows) == 2 and all(not r.bloom_member for r in rows)
