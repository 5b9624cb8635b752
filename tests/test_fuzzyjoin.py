"""Blocked edit-distance matching (operators/fuzzyjoin.py)."""

from __future__ import annotations

from nhl_data_warehouse_spark.operators.fuzzyjoin import (
    blocked_edit_distance_pairs,
    fuzzy_semi_match,
)


def test_pairs_within_block_and_distance(spark):
    df = spark.createDataFrame(
        [("color",), ("colour",), ("colr",), ("flavor",), ("flavour",),
         ("kolor",), ("color",)],  # duplicate collapses
        "v string",
    )
    got = {
        (r.a, r.b): r.dist
        for r in blocked_edit_distance_pairs(df, "v").collect()
    }
    # colour<->color: dist 1, same block 'c'; colr<->color: dist 1.
    # kolor is 1 edit from color but blocked out (prefix 'k' != 'c').
    # colour<->colr is dist 2 -> filtered; flavor<->flavour dist 1.
    assert got == {
        ("color", "colour"): 1,
        ("color", "colr"): 1,
        ("flavor", "flavour"): 1,
    }


def test_prefix_zero_disables_blocking(spark):
    df = spark.createDataFrame([("color",), ("kolor",)], "v string")
    got = blocked_edit_distance_pairs(df, "v", prefix_len=0).collect()
    assert [(r.a, r.b, r.dist) for r in got] == [("color", "kolor", 1)]


def test_fuzzy_semi_match_lookup(spark):
    corpus = spark.createDataFrame(
        [(1, "paris"), (2, "pariss"), (3, "london"), (4, "tokyo")],
        "id long, city string",
    )
    ref = spark.createDataFrame([("paris",), ("tokio",)], "name string")
    got = sorted(
        r.id
        for r in fuzzy_semi_match(corpus, ref, "city").collect()
    )
    # paris exact, pariss 1 edit; tokyo vs tokio is 1 edit same block
    assert got == [1, 2, 4]
