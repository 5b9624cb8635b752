"""Round-13 statistics tests: Kruskal-Wallis H, Brown-Forsythe W,
partition-agreement ARI and the Benjamini-Hochberg step-up screen —
each vs a structurally independent pure-Python reference (scipy-free),
plus the degenerate/negative cases the tolerance-band doctrine asks
for (tiny alpha -> nothing rejected, identical partitions -> ARI 1)."""

from __future__ import annotations

import math
import random
from collections import Counter

from pyspark.sql import functions as F

from tests.conftest import *  # noqa: F401,F403  (spark fixture)


# ---------------------------------------------------------------------------
# pure-Python references
# ---------------------------------------------------------------------------


def _midranks(cents: list[int]) -> dict[int, float]:
    cnt = Counter(cents)
    ranks, cum = {}, 0
    for v in sorted(cnt):
        t = cnt[v]
        ranks[v] = cum + (t + 1) / 2
        cum += t
    return ranks


def _kw_ref(pairs: list[tuple[str, int]]) -> float:
    """Tie-corrected Kruskal-Wallis H over (group, cents) pairs."""
    cents = [c for _, c in pairs]
    ranks = _midranks(cents)
    n = len(pairs)
    by_g: dict[str, list[float]] = {}
    for g, c in pairs:
        by_g.setdefault(g, []).append(ranks[c])
    s = sum(sum(r) ** 2 / len(r) for r in by_g.values())
    h = 12.0 / (n * (n + 1)) * s - 3.0 * (n + 1)
    tie = 1.0 - sum(t**3 - t for t in Counter(cents).values()) / (
        n**3 - n
    )
    return h / tie


def _bf_ref(pairs: list[tuple[str, int]]) -> float:
    """Brown-Forsythe W over (group, cents) pairs — medians exact on
    the grid (doubled-deviation units, which cancel)."""
    by_g: dict[str, list[int]] = {}
    for g, c in pairs:
        by_g.setdefault(g, []).append(c)
    z_by_g: dict[str, list[int]] = {}
    for g, cs in by_g.items():
        cs = sorted(cs)
        m2 = cs[(len(cs) - 1) // 2] + cs[len(cs) // 2]
        z_by_g[g] = [abs(2 * c - m2) for c in cs]
    n = sum(len(z) for z in z_by_g.values())
    k = len(z_by_g)
    zbar = sum(sum(z) for z in z_by_g.values()) / n
    num = sum(
        len(z) * (sum(z) / len(z) - zbar) ** 2 for z in z_by_g.values()
    )
    den = sum(
        (zi - sum(z) / len(z)) ** 2 for z in z_by_g.values() for zi in z
    )
    return (n - k) / (k - 1) * num / den


def _ari_ref(a: list, b: list) -> float:
    """Pair-counting adjusted Rand index."""
    cells = Counter(zip(a, b))
    am, bm = Counter(a), Counter(b)
    comb = lambda x: x * (x - 1) / 2  # noqa: E731
    sij = sum(comb(v) for v in cells.values())
    sa = sum(comb(v) for v in am.values())
    sb = sum(comb(v) for v in bm.values())
    cn = comb(len(a))
    if cn == 0:
        return 0.0
    exp = sa * sb / cn
    den = 0.5 * (sa + sb) - exp
    return 1.0 if den == 0 else (sij - exp) / den


def _mwu_z_ref(pairs: list[tuple[str, int]], group: str) -> float:
    """One-vs-rest tie-corrected MWU z from combined midranks."""
    cents = [c for _, c in pairs]
    ranks = _midranks(cents)
    n = len(pairs)
    g_cs = [c for g, c in pairs if g == group]
    n1 = len(g_cs)
    n2 = n - n1
    r1 = sum(ranks[c] for c in g_cs)
    u = r1 - n1 * (n1 + 1) / 2
    tsum = sum(t**3 - t for t in Counter(cents).values())
    sigma = math.sqrt(
        n1 * n2 / 12.0 * ((n + 1) - tsum / (n * (n - 1)))
    )
    return (u - n1 * n2 / 2.0) / sigma


def _bh_ref(zs: dict[str, float], m: int, alpha: float) -> set[str]:
    """Textbook BH step-up on two-sided normal p-values."""
    items = sorted(zs.items(), key=lambda kv: (-abs(kv[1]), kv[0]))
    k_star = 0
    for k, (_, z) in enumerate(items, start=1):
        if math.erfc(abs(z) / math.sqrt(2)) <= k * alpha / m:
            k_star = k
    return {key for i, (key, _) in enumerate(items, 1) if i <= k_star}


def _mk_pairs(seed: int, shift: dict[str, int]) -> list[tuple[str, int]]:
    """Heavy-tie synthetic (group, cents) data with per-group shift."""
    rng = random.Random(seed)
    pairs = []
    for g, d in shift.items():
        for _ in range(120 + rng.randint(0, 30)):
            pairs.append((g, rng.randint(100, 150) + d))
    return pairs


# ---------------------------------------------------------------------------
# Kruskal-Wallis
# ---------------------------------------------------------------------------


def test_kruskal_wallis_vs_reference(spark):
    from nhl_data_warehouse_spark.operators.stats import kruskal_wallis_h

    pairs = _mk_pairs(7, {"a": 0, "b": 4, "c": -3})
    df = spark.createDataFrame(
        [(g, c / 100.0) for g, c in pairs], "g string, v double"
    )
    row = kruskal_wallis_h(df, "v", "g", ["a", "b", "c"]).collect()[0]
    assert row["n"] == len(pairs)
    assert row["k_groups"] == 3
    assert math.isclose(
        row["h_statistic"], _kw_ref(pairs), rel_tol=0, abs_tol=1e-9
    )


def test_kruskal_wallis_excludes_undeclared_groups(spark):
    from nhl_data_warehouse_spark.operators.stats import kruskal_wallis_h

    pairs = _mk_pairs(11, {"a": 0, "b": 6})
    extra = [("zz", c) for _, c in _mk_pairs(12, {"x": 50})]
    df = spark.createDataFrame(
        [(g, c / 100.0) for g, c in pairs + extra], "g string, v double"
    )
    row = kruskal_wallis_h(df, "v", "g", ["a", "b"]).collect()[0]
    # undeclared rows must not enter the ranking at all
    assert row["n"] == len(pairs)
    assert math.isclose(
        row["h_statistic"], _kw_ref(pairs), rel_tol=0, abs_tol=1e-9
    )


# ---------------------------------------------------------------------------
# Brown-Forsythe
# ---------------------------------------------------------------------------


def test_brown_forsythe_vs_reference(spark):
    from nhl_data_warehouse_spark.operators.stats import brown_forsythe_w

    rng = random.Random(3)
    pairs = []
    for g, spread in [("a", 5), ("b", 25), ("c", 12)]:
        for _ in range(151):  # odd n: single-cell median
            pairs.append((g, 500 + rng.randint(-spread, spread)))
    pairs += [("b", 500), ("c", 510)]  # even n for b and c
    df = spark.createDataFrame(
        [(g, c / 100.0) for g, c in pairs], "g string, v double"
    )
    row = brown_forsythe_w(df, "v", "g", ["a", "b", "c"]).collect()[0]
    assert row["n"] == len(pairs)
    assert math.isclose(
        row["w_statistic"], _bf_ref(pairs), rel_tol=0, abs_tol=1e-9
    )
    # wider spread must be detectable: W far above 1
    assert row["w_statistic"] > 10.0


def test_brown_forsythe_equal_spreads_small_w(spark):
    from nhl_data_warehouse_spark.operators.stats import brown_forsythe_w

    rng = random.Random(5)
    pairs = [
        (g, 500 + rng.randint(-10, 10))
        for g in ("a", "b")
        for _ in range(400)
    ]
    df = spark.createDataFrame(
        [(g, c / 100.0) for g, c in pairs], "g string, v double"
    )
    row = brown_forsythe_w(df, "v", "g", ["a", "b"]).collect()[0]
    assert math.isclose(
        row["w_statistic"], _bf_ref(pairs), rel_tol=0, abs_tol=1e-9
    )
    assert abs(row["w_statistic"]) < 6.0  # ~F(1, 798): no spread drift


# ---------------------------------------------------------------------------
# partition-agreement ARI
# ---------------------------------------------------------------------------


def test_ari_vs_reference_random_labelings(spark):
    from nhl_data_warehouse_spark.operators.stats import (
        partition_agreement_ari,
    )

    rng = random.Random(13)
    a = [f"a{rng.randint(0, 12)}" for _ in range(500)]
    b = [f"b{rng.randint(0, 9)}" for _ in range(500)]
    df = spark.createDataFrame(list(zip(a, b)), "pa string, pb string")
    row = partition_agreement_ari(df, "pa", "pb").collect()[0]
    assert row["n_rows"] == 500
    assert math.isclose(
        row["ari_statistic"], _ari_ref(a, b), rel_tol=0, abs_tol=1e-12
    )
    # independent random partitions: chance-corrected score near 0
    assert abs(row["ari_statistic"]) < 0.05


def test_ari_identical_and_refined_partitions(spark):
    from nhl_data_warehouse_spark.operators.stats import (
        partition_agreement_ari,
    )

    rng = random.Random(17)
    a = [f"c{rng.randint(0, 5)}" for _ in range(300)]
    df = spark.createDataFrame(list(zip(a, a)), "pa string, pb string")
    row = partition_agreement_ari(df, "pa", "pb").collect()[0]
    assert row["ari_statistic"] == 1.0
    # all-singleton vs all-singleton (identical trivial partitions)
    ids = [str(i) for i in range(50)]
    df2 = spark.createDataFrame(list(zip(ids, ids)), "pa string, pb string")
    assert (
        partition_agreement_ari(df2, "pa", "pb").collect()[0][
            "ari_statistic"
        ]
        == 1.0
    )
    # refinement: b merges pairs of a-classes — agreement strictly
    # between 0 and 1, matching the reference
    b = [f"m{int(x[1:]) // 2}" for x in a]
    df3 = spark.createDataFrame(list(zip(a, b)), "pa string, pb string")
    got = partition_agreement_ari(df3, "pa", "pb").collect()[0][
        "ari_statistic"
    ]
    assert math.isclose(got, _ari_ref(a, b), rel_tol=0, abs_tol=1e-12)
    assert 0.0 < got < 1.0


# ---------------------------------------------------------------------------
# BH step-up screen
# ---------------------------------------------------------------------------


def test_bh_thresholds_invert_two_sided_p():
    from nhl_data_warehouse_spark.operators.stats import bh_z_thresholds

    m, alpha = 25, 0.05
    zc = bh_z_thresholds(m, alpha)
    assert len(zc) == m and zc == sorted(zc, reverse=True)
    for k, z in enumerate(zc, start=1):
        assert math.isclose(
            math.erfc(z / math.sqrt(2)), k * alpha / m, rel_tol=1e-12
        )


def test_bh_screen_vs_reference(spark):
    from nhl_data_warehouse_spark.operators.stats import (
        bh_fdr_select,
        bh_z_thresholds,
        mwu_screen_by_group,
    )

    # 6 groups, two genuinely shifted — BH must reject those and the
    # rejected set must equal the textbook p-value step-up
    shift = {"a": 0, "b": 0, "c": 14, "d": 0, "e": -16, "f": 1}
    pairs = _mk_pairs(23, shift)
    df = spark.createDataFrame(
        [(g, c / 100.0) for g, c in pairs], "g string, v double"
    )
    m, alpha = 6, 0.05
    scr = mwu_screen_by_group(df, "v", "g")
    out = {
        r["g"]: r
        for r in bh_fdr_select(scr, bh_z_thresholds(m, alpha)).collect()
    }
    zs = {}
    for g in shift:
        z = _mwu_z_ref(pairs, g)
        assert math.isclose(
            out[g]["z_value"], z, rel_tol=0, abs_tol=1e-9
        ), g
        zs[g] = z
    expected = _bh_ref(zs, m, alpha)
    got = {g for g, r in out.items() if r["rejected"]}
    assert got == expected
    assert {"c", "e"} <= got and "a" not in got
    # ranks are the |z|-descending permutation
    ranks = sorted(out.values(), key=lambda r: r["p_rank"])
    zabs = [abs(r["z_value"]) for r in ranks]
    assert zabs == sorted(zabs, reverse=True)


def test_bh_screen_tiny_alpha_rejects_nothing(spark):
    from nhl_data_warehouse_spark.operators.stats import (
        bh_fdr_select,
        bh_z_thresholds,
        mwu_screen_by_group,
    )

    pairs = _mk_pairs(29, {"a": 0, "b": 2, "c": -1})
    df = spark.createDataFrame(
        [(g, c / 100.0) for g, c in pairs], "g string, v double"
    )
    scr = mwu_screen_by_group(df, "v", "g")
    out = bh_fdr_select(scr, bh_z_thresholds(3, 1e-12)).collect()
    assert not any(r["rejected"] for r in out)


# ---------------------------------------------------------------------------
# log-rank two-sample
# ---------------------------------------------------------------------------


def _logrank_ref(
    spells: list[tuple[int, int, int]],
) -> tuple[int, float, float]:
    """Textbook Mantel-Cox (o1, e1, v) over (duration, observed, g1)
    — unrounded terms (the operator rounds each to 6dp before the
    decimal sum, so comparisons carry a #terms * 5e-7 band)."""
    times = sorted({d for d, o, _ in spells if o == 1})
    o1 = sum(g for d, o, g in spells if o == 1)
    e1 = v = 0.0
    for t in times:
        n = sum(1 for d, _, _ in spells if d >= t)
        n1 = sum(g for d, _, g in spells if d >= t)
        dt = sum(o for d, o, _ in spells if d == t and o == 1)
        e1 += dt * n1 / n
        if n > 1:
            v += dt * (n1 / n) * (1 - n1 / n) * ((n - dt) / (n - 1))
    return o1, e1, v


def _mk_spells(seed: int, shift1: int) -> list[tuple[int, int, int]]:
    rng = random.Random(seed)
    spells = []
    for g in (0, 1):
        for _ in range(250):
            d = rng.randint(1, 60) + (shift1 if g == 1 else 0)
            observed = 1 if rng.random() < 0.8 else 0
            spells.append((d, observed, g))
    return spells


def test_logrank_vs_reference(spark):
    from nhl_data_warehouse_spark.operators.timeseries import (
        logrank_two_sample,
    )

    spells = _mk_spells(31, shift1=15)
    df = spark.createDataFrame(
        spells, "duration long, observed int, g1 int"
    )
    row = logrank_two_sample(df).collect()[0]
    o1, e1, v = _logrank_ref(spells)
    assert row["o1"] == o1
    assert row["d_total"] == sum(o for _, o, _ in spells)
    assert math.isclose(row["e1_expected"], e1, rel_tol=0, abs_tol=1e-3)
    assert math.isclose(row["v_variance"], v, rel_tol=0, abs_tol=1e-3)
    z = (o1 - e1) / math.sqrt(v)
    assert math.isclose(row["z_value"], z, rel_tol=0, abs_tol=1e-3)
    # group 1 survives LONGER (shifted +15 days): fewer early group-1
    # events than expected -> z must be decisively negative
    assert row["z_value"] < -3.0


def test_logrank_null_when_groups_identical(spark):
    from nhl_data_warehouse_spark.operators.timeseries import (
        logrank_two_sample,
    )

    spells = _mk_spells(37, shift1=0)
    df = spark.createDataFrame(
        spells, "duration long, observed int, g1 int"
    )
    row = logrank_two_sample(df).collect()[0]
    o1, e1, v = _logrank_ref(spells)
    assert math.isclose(
        row["z_value"], (o1 - e1) / math.sqrt(v), rel_tol=0, abs_tol=1e-3
    )
    assert abs(row["z_value"]) < 3.0  # same generator: no real signal


# ---------------------------------------------------------------------------
# join-size estimation
# ---------------------------------------------------------------------------


def test_join_size_estimate_vs_reference(spark):
    from nhl_data_warehouse_spark.operators.skew import join_size_estimate

    rng = random.Random(41)
    # one mega-key + a long tail: uniformity must underestimate,
    # the heavy-hitter correction must recover it
    keys = [0] * 3000 + [rng.randint(1, 900) for _ in range(3000)]
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    row = join_size_estimate(df, "k").collect()[0]
    cnt = Counter(keys)
    exact = sum(c * c for c in cnt.values())
    n, d = len(keys), len(cnt)
    assert row["n_rows"] == n and row["n_keys"] == d
    assert row["exact_pairs"] == float(exact)
    assert row["est_uniform"] == n * n / d
    top = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:100]
    texact = sum(c * c for _, c in top)
    tn = sum(c for _, c in top)
    est_topk = texact + (n - tn) ** 2 / (d - len(top))
    assert math.isclose(
        row["est_topk"], est_topk, rel_tol=0, abs_tol=1e-6
    )
    # skew story: uniform underestimates badly, correction recovers
    assert row["err_uniform"] < 0.5
    assert row["err_topk"] > row["err_uniform"]
    assert 0.9 < row["err_topk"] <= 1.5


def test_join_size_estimate_topk_covers_all_keys(spark):
    from nhl_data_warehouse_spark.operators.skew import join_size_estimate

    rng = random.Random(43)
    keys = [rng.randint(1, 40) for _ in range(2000)]  # 40 keys < top_k
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    row = join_size_estimate(df, "k").collect()[0]
    cnt = Counter(keys)
    exact = float(sum(c * c for c in cnt.values()))
    # every key is in the exact head: the corrected estimate IS exact
    assert row["est_topk"] == exact
    assert row["err_topk"] == 1.0
