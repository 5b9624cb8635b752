"""The operator cache contract (``operators/caching.py``).

Every persist/localCheckpoint in the package goes through
``pin``/``checkpoint``, and ``cache_scope()`` releases exactly the
frames they cached inside it: after build + action in a scope the
session holds the same persistent RDDs as at entry and an empty
cache manager — while a caller's own cache survives, even when it is
first materialized inside the scope.
"""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.sql import functions as F

from nhl_data_warehouse_spark.operators.caching import cache_scope

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "nhl_data_warehouse_spark"
OPERATORS = PACKAGE / "operators"

DOCS = [
    (0, "the cat sat on the mat. spark joins are fast. the end"),
    (1, "the cat sat on the mat. a dog ran. the end"),
    (2, "spark joins are fast. the cat sat on the mat. the end"),
    (3, "completely different words here. a dog ran"),
    (4, "the cat sat on the mat. spark joins are fast. the end"),
]
VECS = [
    (0, [1.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0]),
    (1, [0.0, 1.0, 0.0, 1.0, 0.0, 0.0, 1.0, 0.0]),
    (2, [0.99, 0.01, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0]),
    (3, [-1.0, 0.0, 0.0, 0.0, -1.0, 0.0, 0.0, 0.0]),
    (4, [0.5, 0.5, 0.0, 0.5, 0.5, 0.0, 0.5, 0.0]),
]
EDGES = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "e")]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _vecs(spark):
    return spark.createDataFrame(VECS, "vec_id long, embedding array<double>")


def _edges(spark, a="a", b="b"):
    return spark.createDataFrame(EDGES, f"{a} string, {b} string")


def _shingles(spark):
    from nhl_data_warehouse_spark.operators.dedup import char_shingles

    return char_shingles(_docs(spark), k=4)


def _xy(spark):
    return spark.createDataFrame(
        [(i % 7, float(i % 11), f"g{i % 2}", i % 3, i % 4) for i in range(60)],
        "x int, y double, g string, pa int, pb int",
    )


def _dedup(spark, fn):
    from nhl_data_warehouse_spark.operators import dedup

    if fn == "minhash_band_candidates":
        return dedup.minhash_band_candidates(
            dedup.minhash_signatures(_shingles(spark)), star_cap=2
        )
    if fn == "jaccard_pairs":
        return dedup.jaccard_pairs(_shingles(spark), max_shingle_freq=3)
    if fn == "prefix_filter_jaccard_pairs":
        return dedup.prefix_filter_jaccard_pairs(_shingles(spark))
    if fn in ("connected_components", "connected_components_kiveris"):
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (5, 6)], "a_id long, b_id long"
        )
        return getattr(dedup, fn)(edges)
    if fn == "source_overlap_matrix":
        return dedup.source_overlap_matrix(
            _docs(spark).withColumn("source", (F.col("doc_id") % 2).cast("string")),
            chunk_tokens=2,
        )
    if fn == "paragraph_dedup_stats":
        return dedup.paragraph_dedup_stats(
            _docs(spark).withColumn("text", F.regexp_replace("text", r"\. ", "\n\n"))
        )
    return getattr(dedup, fn)(_docs(spark), chunk_tokens=2)


def _graph(spark, fn):
    from nhl_data_warehouse_spark.operators import graph

    if fn == "pagerank":
        nodes = spark.createDataFrame([(c,) for c in "abcde"], "node string")
        edges = _edges(spark, "src", "dst").withColumn("weight", F.lit(1))
        return graph.pagerank(nodes, edges)
    if fn == "bfs_hops":
        seeds = spark.createDataFrame([("a",)], "node string")
        return graph.bfs_hops(_edges(spark, "src", "dst"), seeds)
    if fn == "kcore_peel":
        return graph.kcore_peel(_edges(spark), k=2)
    if fn == "association_rules":
        return graph.association_rules(
            _docs(spark).select(
                "doc_id", F.explode(F.split("text", " ")).alias("w")
            ),
            "doc_id",
            "w",
            min_pair_count=1,
        )
    return getattr(graph, fn)(_edges(spark))


def _similarity(spark, fn):
    from nhl_data_warehouse_spark.operators import similarity

    vecs = _vecs(spark)
    if fn == "semantic_dedup":
        return similarity.semantic_dedup(vecs, n_centroids=2)
    if fn == "ivf_topk":
        q = F.array(*[F.lit(v) for v in VECS[0][1]])
        return similarity.ivf_topk(vecs, q, n_centroids=2, k=3)
    if fn == "ivfpq_topk":
        return similarity.ivfpq_topk(vecs, n_centroids=2, dim=8, m=2, n_codes=2)
    return getattr(similarity, fn)(vecs, n_planes=2, dim=8)


def _stats(spark, fn):
    from nhl_data_warehouse_spark.operators import stats

    df = _xy(spark)
    if fn in ("spearman_rho", "kendall_tau_b"):
        return getattr(stats, fn)(df, "x", "y")
    if fn == "prefix_sum_cells":
        return stats.prefix_sum_cells(
            df.groupBy(F.col("x").alias("c")).agg(F.count(F.lit(1)).alias("nv")),
            num_ranges=4,
        )
    if fn == "quantile_bucket_report":
        return stats.quantile_bucket_report(df, "g", "y")
    return stats.partition_agreement_ari(df, "pa", "pb")


def _text(spark, fn):
    from nhl_data_warehouse_spark.operators import text

    docs = _docs(spark)
    if fn == "remove_boilerplate":
        return text.remove_boilerplate(docs, max_df=2)
    if fn == "contamination_check":
        return text.contamination_check(docs, n=2, benchmark_every=2)
    if fn == "bm25_scores":
        return text.bm25_scores(docs, ["cat", "spark"])
    if fn == "pmi_bigrams":
        return text.pmi_bigrams(docs, min_count=1)
    if fn == "dsir_logratio_weights":
        return text.dsir_logratio_weights(docs, F.col("doc_id") % 2 == 0)
    if fn.startswith("heldout_"):
        return getattr(text, fn)(docs.where("doc_id < 2"), docs.where("doc_id >= 2"))
    return getattr(text, fn)(docs)


def _other(spark, fn):
    if fn == "fuzzyjoin.blocked_edit_distance_pairs":
        from nhl_data_warehouse_spark.operators.fuzzyjoin import (
            blocked_edit_distance_pairs,
        )

        words = spark.createDataFrame(
            [(w,) for w in ["spark", "spork", "spar", "dog"]], "v string"
        )
        return blocked_edit_distance_pairs(words, "v")
    if fn == "mart.rfm_segments":
        from nhl_data_warehouse_spark.operators.mart import rfm_segments

        orders = spark.createDataFrame(
            [(c, f"2025-01-{o + 1:02d}", 100.0 * (c + 1)) for c in range(6) for o in range(c + 1)],
            "o_custkey long, o_orderdate string, o_totalprice double",
        ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))
        return rfm_segments(orders, n_tiles=3)
    if fn == "sketches.countmin_estimates":
        from nhl_data_warehouse_spark.operators.sketches import countmin_estimates

        return countmin_estimates(
            _docs(spark).select(F.explode(F.split("text", " ")).alias("term"))
        )
    if fn == "skew.key_skew_report":
        from nhl_data_warehouse_spark.operators.skew import key_skew_report

        return key_skew_report(_xy(spark), "x")
    if fn == "timeseries.theil_sen_trend":
        from nhl_data_warehouse_spark.operators.timeseries import theil_sen_trend

        days = spark.createDataFrame(
            [(f"2025-01-{d:02d}", 3 * d + d % 4) for d in range(1, 21)],
            "d string, x long",
        ).withColumn("d", F.col("d").cast("date"))
        return theil_sen_trend(days)
    raise KeyError(fn)


# every operator that calls pin/checkpoint -> the frame whose action
# the scope must clean up after
CASES = {
    **{
        f"dedup.{fn}": lambda spark, fn=fn: _dedup(spark, fn)
        for fn in (
            "minhash_band_candidates",
            "jaccard_pairs",
            "prefix_filter_jaccard_pairs",
            "connected_components",
            "connected_components_kiveris",
            "paragraph_dedup_stats",
            "remove_duplicate_spans",
            "source_overlap_matrix",
        )
    },
    **{
        f"graph.{fn}": lambda spark, fn=fn: _graph(spark, fn)
        for fn in (
            "pagerank",
            "triangle_counts",
            "clustering_coefficients",
            "bfs_hops",
            "kcore_peel",
            "association_rules",
        )
    },
    **{
        f"similarity.{fn}": lambda spark, fn=fn: _similarity(spark, fn)
        for fn in (
            "embedding_near_dup_pairs",
            "knn_join_bucketed",
            "hard_negative_pairs",
            "semantic_dedup",
            "ivf_topk",
            "ivfpq_topk",
        )
    },
    **{
        f"stats.{fn}": lambda spark, fn=fn: _stats(spark, fn)
        for fn in (
            "spearman_rho",
            "kendall_tau_b",
            "prefix_sum_cells",
            "quantile_bucket_report",
            "partition_agreement_ari",
        )
    },
    **{
        f"text.{fn}": lambda spark, fn=fn: _text(spark, fn)
        for fn in (
            "remove_boilerplate",
            "tfidf_top_terms",
            "contamination_check",
            "unigram_logprob_score",
            "bm25_scores",
            "pmi_bigrams",
            "bigram_logprob_score",
            "dsir_logratio_weights",
            "heldout_unigram_nll",
            "heldout_interp_bigram_nll",
        )
    },
    **{
        fn: lambda spark, fn=fn: _other(spark, fn)
        for fn in (
            "fuzzyjoin.blocked_edit_distance_pairs",
            "mart.rfm_segments",
            "sketches.countmin_estimates",
            "skew.key_skew_report",
            "timeseries.theil_sen_trend",
        )
    },
}
# private cores are exercised through their public wrappers
VIA = {
    "graph._deg_tri": (
        "graph.triangle_counts",
        "graph.clustering_coefficients",
    ),
    "similarity._normed_self_join": (
        "similarity.embedding_near_dup_pairs",
        "similarity.knn_join_bucketed",
        "similarity.hard_negative_pairs",
        "similarity.semantic_dedup",
    ),
    "text._ref_vocab": (
        "text.heldout_unigram_nll",
        "text.heldout_interp_bigram_nll",
    ),
}


def _caching_callers() -> set[str]:
    """``module.function`` for every top-level operator function whose
    body calls ``pin`` or ``checkpoint``."""
    out = set()
    for path in OPERATORS.glob("*.py"):
        if path.name == "caching.py":
            continue
        for node in ast.parse(path.read_text()).body:
            if not isinstance(node, ast.FunctionDef):
                continue
            if any(
                isinstance(c, ast.Call)
                and isinstance(c.func, ast.Name)
                and c.func.id in ("pin", "checkpoint")
                for c in ast.walk(node)
            ):
                out.add(f"{path.stem}.{node.name}")
    return out


def _persistent_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def test_operators_cache_only_through_caching_helpers():
    offenders = [
        f"{path.relative_to(PACKAGE)}:{i}: {line.strip()}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path.name != "caching.py"
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if any(k in line for k in (".persist(", ".cache()", ".localCheckpoint("))
    ]
    assert not offenders, "persist/checkpoint outside caching.py:\n" + "\n".join(
        offenders
    )


def test_cases_cover_every_caching_operator():
    callers = _caching_callers()
    wrappers = {w for ws in VIA.values() for w in ws}
    assert set(VIA) <= callers
    assert set(CASES) == (callers - set(VIA)) | wrappers


@pytest.mark.parametrize("name", sorted(CASES))
def test_scope_releases_everything_it_cached(spark, name):
    from nhl_data_warehouse_spark.session import release_cached

    release_cached(spark)
    before = _persistent_ids(spark)
    with cache_scope():
        CASES[name](spark).collect()
    assert _persistent_ids(spark) == before
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_caller_cache_first_materialized_in_scope_survives(spark):
    """bfs_hops pins its edge input directly: with the caller's own
    lazily persisted edges, the operator must leave that cache alone —
    even though its first materialization (and fresh RDD id) happens
    inside the scope."""
    from nhl_data_warehouse_spark.operators.graph import bfs_hops
    from nhl_data_warehouse_spark.session import release_cached

    release_cached(spark)
    edges = _edges(spark, "src", "dst").persist()
    seeds = spark.createDataFrame([("a",)], "node string")
    derived = edges.where("src != 'e'").persist()
    with cache_scope():
        hops = {r.node: r.hop for r in bfs_hops(derived, seeds).collect()}
        assert hops["d"] == 2
    assert edges.is_cached and derived.is_cached
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.lookupCachedData(edges._jdf).isDefined()
    assert cm.lookupCachedData(derived._jdf).isDefined()
    assert len(_persistent_ids(spark)) == 2
    release_cached(spark)


def test_nested_scope_releases_only_its_own(spark):
    from nhl_data_warehouse_spark.operators.text import unigram_logprob_score
    from nhl_data_warehouse_spark.session import release_cached

    release_cached(spark)
    with cache_scope():
        outer = unigram_logprob_score(_docs(spark))
        outer.collect()
        held = _persistent_ids(spark)
        with cache_scope():
            unigram_logprob_score(_docs(spark).where("doc_id > 0")).collect()
        assert _persistent_ids(spark) == held
    assert _persistent_ids(spark) == set()
