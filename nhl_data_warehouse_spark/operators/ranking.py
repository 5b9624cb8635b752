"""Ranking-quality evaluation: NDCG@k and MRR per query group.

The retrieval/eval companion to the classifier metrics in stats.py
(rank_auc, calibration): given rows scored by a ranker and a graded
relevance label, compute per-group NDCG@k and MRR with a fully
deterministic floating-point recipe, so the values hash-match a SQL
oracle bit-for-bit:

- the rank order carries a unique tie-break column (suite doctrine);
- discount weights are round(log2(rank+1), 6) — the 6-dp rounding
  absorbs libm last-ulp differences between engines (the suite's
  rounded-ln rule), and none of the small-integer log2 values sit
  near a 6-dp midpoint;
- DCG folds the <= k per-group terms LEFT-TO-RIGHT in rank order
  (F.aggregate over a rank-sorted array; the oracle uses DuckDB's
  ordered-aggregate SUM(x ORDER BY rank)) — identical IEEE op
  sequence on both engines;
- IDCG is STANDARD NDCG@k (ADVICE r8): it folds the top-k terms of
  the FULL candidate set ranked by relevance descending — not just
  the score-retrieved top k — so a ranker that buries every relevant
  item below rank k scores 0, not NULL, and a top k of low-relevance
  items is not inflated. Equal relevance values make within-tie
  order irrelevant to the sum; the ideal rank tie-breaks on the
  score rank for a deterministic row_number.

Scale: both windows partition by the group key — one exchange, two
in-partition sorts; everything after operates on <= 2k rows per
group collapsed to arrays — no further exchange, no row-scale window.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def rrf_fuse(
    arm_a: DataFrame,
    score_a: str,
    arm_b: DataFrame,
    score_b: str,
    top_n: int = 20,
) -> DataFrame:
    """Reciprocal Rank Fusion of two retrieval arms — the standard
    hybrid-search combiner (RRF, Cormack et al.): score(d) =
    sum over arms of 1/(k + rank_arm(d)), which needs NO score
    calibration between arms (ranks only), which is why it is the
    default fusion for lexical + vector hybrid retrieval. An arm that
    did not retrieve the doc contributes 0.

    Determinism: each arm is ranked by (score desc, id asc) — a total
    order; each reciprocal is ONE division of exact small integers;
    the fused score adds the two terms in fixed arm order; ties in
    the fused ordering break on id. Output: the top ``top_n`` fused
    docs with both arm ranks (NULL where an arm missed).

    Scale shape: the arms arrive as ALREADY-BOUNDED top-N relations
    (the retrieval stack's contract — e.g. ``bm25_scores(k=...)``
    distributes its top-k via TakeOrdered), so the rank windows here
    run over <= N rows each, the join is bounded x bounded, and the
    final TakeOrdered is over <= 2N rows. Nothing in this operator
    touches corpus-scale data; fusing F arms generalizes to F-1
    bounded joins.
    """
    wa = Window.orderBy(F.col(score_a).desc(), F.col("doc_id").asc())
    wb = Window.orderBy(F.col(score_b).desc(), F.col("doc_id").asc())
    ra = arm_a.select(F.col("doc_id"), F.row_number().over(wa).alias("rank_a"))
    rb = arm_b.select(
        F.col("doc_id").alias("_idb"), F.row_number().over(wb).alias("rank_b")
    )
    fused = ra.join(rb, on=F.col("doc_id") == F.col("_idb"), how="full_outer").select(
        F.coalesce(F.col("doc_id"), F.col("_idb")).alias("doc_id"),
        "rank_a",
        "rank_b",
        (
            F.expr(
                "CASE WHEN rank_a IS NULL THEN 0.0"
                " ELSE 1.0 / CAST(60 + rank_a AS DOUBLE) END"
            )
            + F.expr(
                "CASE WHEN rank_b IS NULL THEN 0.0"
                " ELSE 1.0 / CAST(60 + rank_b AS DOUBLE) END"
            )
        ).alias("rrf_score"),
    )
    return fused.orderBy(F.col("rrf_score").desc(), F.col("doc_id").asc()).limit(top_n)


def ndcg_mrr_at_k(
    df: DataFrame,
    group_col: str,
    score_col: str,
    tiebreak_col: str,
    relevance: Column,
    k: int = 10,
) -> DataFrame:
    """Per-group NDCG@k and MRR of the ``score_col``-descending
    ranking against a graded ``relevance`` column expression.

    Standard NDCG@k: the ideal DCG normalizer comes from the top-k
    relevances of the group's FULL candidate set (relevance
    descending), not the retrieved top k — so relevant items buried
    below rank k yield ndcg = 0 (a real ranking failure), and a top k
    of only low-relevance items is penalized, not normalized away.

    Output: (group, n_ranked, ndcg, mrr) — ndcg NULL only when the
    whole group has no relevant item at all (IDCG = 0), mrr NULL when
    no relevant item appears in the retrieved top k.
    """
    w = Window.partitionBy(group_col).orderBy(
        F.col(score_col).desc(), F.col(tiebreak_col).asc()
    )
    ranked = (
        df.select(
            F.col(group_col),
            F.col(score_col),
            F.col(tiebreak_col),
            relevance.cast("double").alias("rel"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .drop(score_col, tiebreak_col)
    )
    # ideal rank over the FULL set: relevance descending; rnk (unique
    # in-group) breaks ties deterministically — tie order cannot
    # change the sum since tied terms share the same rel value
    wi = Window.partitionBy(group_col).orderBy(
        F.col("rel").desc(), F.col("rnk").asc()
    )
    ranked = ranked.withColumn("irank", F.row_number().over(wi))
    # collect_list skips the NULLs the when() leaves behind, so each
    # array holds exactly the <= k qualifying terms
    g = ranked.groupBy(group_col).agg(
        F.sort_array(
            F.collect_list(
                F.when(F.col("rnk") <= k, F.struct("rnk", "rel"))
            )
        ).alias("items"),
        F.sort_array(
            F.collect_list(
                F.when(F.col("irank") <= k, F.struct("irank", "rel"))
            )
        ).alias("ideal_items"),
    )
    # per-element double ops are deterministic; the folds are ordered
    terms = F.transform(
        "items", lambda s: s["rel"] / F.round(F.log2(s["rnk"] + 1), 6)
    )
    dcg = F.aggregate(
        terms, F.lit(0.0), lambda acc, x: acc + x
    )
    ideal_terms = F.transform(
        "ideal_items", lambda s: s["rel"] / F.round(F.log2(s["irank"] + 1), 6)
    )
    idcg = F.aggregate(ideal_terms, F.lit(0.0), lambda acc, x: acc + x)
    first_rel = F.array_min(
        F.transform(
            F.filter("items", lambda s: s["rel"] > 0), lambda s: s["rnk"]
        )
    )
    return g.select(
        F.col(group_col),
        F.size("items").cast("long").alias("n_ranked"),
        F.when(idcg > 0, dcg / idcg).alias("ndcg"),
        F.when(
            first_rel.isNotNull(), F.lit(1.0) / first_rel
        ).alias("mrr"),
    )
