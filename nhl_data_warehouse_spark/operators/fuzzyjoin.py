"""Blocked fuzzy (edit-distance) matching — the entity-resolution /
vocabulary-dedup primitive.

The naive form is an all-pairs Levenshtein — O(n^2) distance calls,
untenable past ~10^5 strings. The standard scale shape (record-linkage
"blocking", Fellegi–Sunter lineage) is used here: a cheap equality key
(first ``prefix_len`` chars) plus a length band restricts candidate
pairs to co-blocked strings, and the exact distance filter runs only on
those. Blocking is lossy BY DESIGN: a typo inside the prefix escapes
the block — recall is tuned by ``prefix_len`` (0 disables prefix
blocking) exactly like LSH band width tunes MinHash recall
(operators/dedup.py).

Scale: the self-join shuffles on the block key only; per-block fan-out
is |block|^2, so block granularity bounds the work the same way LSH
bucket width does. Distance is ``F.levenshtein`` — JVM-side, codegen,
no Python. At 100 TB the block key doubles as a partition key so each
block's pairs are partition-local.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nhl_data_warehouse_spark.operators.caching import pin


def blocked_edit_distance_pairs(
    df: DataFrame,
    col: str,
    max_dist: int = 1,
    prefix_len: int = 1,
    length_band: int = 1,
) -> DataFrame:
    """Distinct unordered string pairs within ``max_dist`` edits,
    candidate-limited to pairs sharing the first ``prefix_len`` chars
    and differing in length by at most ``length_band``.

    Returns (a, b, dist) with a < b (deterministic orientation). The
    length band is sound for recall within the block: two strings at
    edit distance d differ in length by at most d, so
    ``length_band >= max_dist`` loses nothing.
    """
    vals = df.select(F.col(col).alias("v")).filter(F.col("v").isNotNull()).distinct()
    blocked = vals.select(
        "v",
        F.substring("v", 1, prefix_len).alias("_blk"),
        F.length("v").alias("_len"),
    )
    blocked = pin(blocked)  # both self-join sides
    a = blocked.select(
        F.col("v").alias("a"), F.col("_blk"), F.col("_len").alias("_la")
    )
    b = blocked.select(
        F.col("v").alias("b"), F.col("_blk"), F.col("_len").alias("_lb")
    )
    cand = a.join(b, on="_blk").filter(
        (F.col("a") < F.col("b"))
        & (F.abs(F.col("_la") - F.col("_lb")) <= length_band)
    )
    return (
        cand.select("a", "b", F.levenshtein("a", "b").alias("dist"))
        .filter(F.col("dist") <= max_dist)
    )


def fuzzy_semi_match(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    max_dist: int = 1,
    prefix_len: int = 1,
) -> DataFrame:
    """Left rows having at least one fuzzy match in ``right`` — the
    lookup form (e.g. "is this near-miss of a benchmark answer string
    present in the training corpus"). Same blocking as
    ``blocked_edit_distance_pairs``; returns ``left`` rows distinct.

    Scale: ``right`` is reduced to its distinct blocked strings before
    the join; when that projection is dimension-sized it broadcasts
    (AQE decides), so the big left side never re-shuffles.
    """
    r = (
        right.select(F.col(right_col).alias("_rv"))
        .filter(F.col("_rv").isNotNull())
        .distinct()
        .select("_rv", F.substring("_rv", 1, prefix_len).alias("_blk"))
    )
    l_blk = left.withColumn("_blk", F.substring(F.col(left_col), 1, prefix_len))
    matched = (
        l_blk.join(r, on="_blk")
        .filter(
            (F.abs(F.length(left_col) - F.length("_rv")) <= max_dist)
            & (F.levenshtein(F.col(left_col), F.col("_rv")) <= max_dist)
        )
        .drop("_blk", "_rv")
        .distinct()
    )
    return matched
