"""Unit tests for the analytics operator family: gap fill, time-range
rolling windows, Z-order keys, count-min sketch."""

from __future__ import annotations

import datetime

import pytest

from pyspark.sql import functions as F

from nhl_data_warehouse_spark.operators.layout import z_value, zorder_file_assignment
from nhl_data_warehouse_spark.operators.sketches import countmin_estimates
from nhl_data_warehouse_spark.operators.timeseries import gap_fill, rolling_days


def _d(s: str) -> datetime.date:
    return datetime.date.fromisoformat(s)


class TestGapFill:
    def test_fills_grid_zero_and_ffill(self, spark):
        daily = spark.createDataFrame(
            [
                ("a", _d("2024-01-02"), 3, 30.0),
                ("a", _d("2024-01-04"), 1, 10.0),
                ("b", _d("2024-01-01"), 2, 20.0),
            ],
            "k string, day date, n long, rev double",
        )
        out = gap_fill(
            daily, "k", "day", "2024-01-01", "2024-01-05",
            zero_fill=["n"], ffill=["rev"],
        )
        rows = {(r.k, str(r.day)): r for r in out.collect()}
        assert len(rows) == 10  # 2 keys x 5 days
        # before first observation: zero count, NULL ffill, gap
        r = rows[("a", "2024-01-01")]
        assert (r.n, r.rev_ffill, r.is_gap) == (0, None, 1)
        # observed day keeps its value
        r = rows[("a", "2024-01-02")]
        assert (r.n, r.rev_ffill, r.is_gap) == (3, 30.0, 0)
        # gap after: zero count but forward-filled value
        r = rows[("a", "2024-01-03")]
        assert (r.n, r.rev_ffill, r.is_gap) == (0, 30.0, 1)
        # new observation replaces the fill
        assert rows[("a", "2024-01-04")].rev_ffill == 10.0
        assert rows[("a", "2024-01-05")].rev_ffill == 10.0
        assert rows[("b", "2024-01-03")].rev_ffill == 20.0


class TestRollingDays:
    def test_calendar_gaps_shorten_frame(self, spark):
        daily = spark.createDataFrame(
            [
                ("k", _d("2024-01-01"), 1.0),
                ("k", _d("2024-01-05"), 2.0),
                # 20th is >7 days after both -> frame is just itself
                ("k", _d("2024-01-20"), 4.0),
            ],
            "k string, day date, v double",
        )
        out = {
            str(r.day): (float(r.rolling_7d_sum), r.rolling_7d_n)
            for r in rolling_days(daily, "k", "day", "v").collect()
        }
        assert out["2024-01-01"] == (1.0, 1)
        assert out["2024-01-05"] == (3.0, 2)  # 1st is within 6 days
        assert out["2024-01-20"] == (4.0, 1)


class TestTimeWeightedAvg:
    def test_locf_weighting_and_open_tail_excluded(self, spark):
        from nhl_data_warehouse_spark.operators.timeseries import (
            time_weighted_avg,
        )

        # value 10 held for 3s, value 20 held for 1s -> TWA 12.5; the
        # last observation (value 99) has no successor and is excluded
        rows = [
            (1, "2024-01-01 00:00:00", 10.0, 1),
            (1, "2024-01-01 00:00:03", 20.0, 2),
            (1, "2024-01-01 00:00:04", 99.0, 3),
        ]
        df = spark.createDataFrame(
            rows, "user_id long, ts string, value double, event_id long"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        (r,) = time_weighted_avg(df).collect()
        assert r.time_weighted_avg == pytest.approx(12.5)
        assert r.observed_seconds == pytest.approx(4.0)

    def test_single_observation_key_drops(self, spark):
        from nhl_data_warehouse_spark.operators.timeseries import (
            time_weighted_avg,
        )

        df = spark.createDataFrame(
            [(7, "2024-01-01 00:00:00", 5.0, 1)],
            "user_id long, ts string, value double, event_id long",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        assert time_weighted_avg(df).count() == 0


class TestPsiDrift:
    def _events(self, spark, second_half_values):
        rows = [(float(v % 10), f"2024-01-01 00:00:{i:02d}") for i, v in enumerate(range(30))]
        rows += [
            (float(v), f"2024-01-02 00:00:{i:02d}")
            for i, v in enumerate(second_half_values)
        ]
        return spark.createDataFrame(rows, "value double, ts string").withColumn(
            "ts", F.col("ts").cast("timestamp")
        )

    def test_shifted_distribution_yields_positive_psi(self, spark):
        from nhl_data_warehouse_spark.operators.sketches import psi_drift

        # second half concentrates high: contributions must exist and
        # every non-null contribution is >= 0 ((q-p) and ln(q/p) share sign)
        df = self._events(spark, [9] * 25 + [0, 1, 2, 3, 4])
        out = psi_drift(df, n_bins=5).collect()
        contribs = [r.psi_contrib for r in out if r.psi_contrib is not None]
        assert contribs and all(c >= 0 for c in contribs)
        assert sum(contribs) > 0.2  # conventional drift alarm fires

    def test_identical_halves_zero_psi(self, spark):
        from nhl_data_warehouse_spark.operators.sketches import psi_drift

        df = self._events(spark, [v % 10 for v in range(30)])
        out = psi_drift(df, n_bins=5).collect()
        for r in out:
            if r.psi_contrib is not None:
                assert r.psi_contrib == 0.0
            assert r.n_ref == r.n_cur


class TestZOrder:
    def test_z_value_matches_python_interleave(self, spark):
        pts = [(0, 0), (1, 0), (0, 1), (3, 5), (65535, 65535), (12345, 54321)]

        def morton(x, y):
            out = 0
            for i in range(16):
                out |= ((x >> i) & 1) << (2 * i)
                out |= ((y >> i) & 1) << (2 * i + 1)
            return out

        df = spark.createDataFrame(pts, "x long, y long")
        got = {
            (r.x, r.y): r.z
            for r in df.select(
                "x", "y", z_value(F.col("x"), F.col("y")).alias("z")
            ).collect()
        }
        assert got == {(x, y): morton(x, y) for x, y in pts}

    def test_file_assignment_is_total_and_balanced(self, spark):
        df = spark.createDataFrame(
            [(i, i * 7 % 100, i * 13 % 100) for i in range(64)],
            "id long, x long, y long",
        )
        out = zorder_file_assignment(df, "id", n_files=8).collect()
        assert len(out) == 64
        per_file = {}
        for r in out:
            per_file.setdefault(r.file_id, 0)
            per_file[r.file_id] += 1
        assert per_file == {i: 8 for i in range(1, 9)}  # ntile is 1-based

    def test_file_assignment_matches_ntile_on_uneven_total(self, spark):
        # 67 rows / 8 files: NTILE gives three 9-row tiles then five
        # 8-row tiles. The scale-safe two-level-rank form must stay
        # bit-identical to the NTILE closed form the oracle runs.
        from pyspark.sql.window import Window

        df = spark.createDataFrame(
            [(i, i * 7 % 100, i * 13 % 100) for i in range(67)],
            "id long, x long, y long",
        )
        got = {
            r.id: r.file_id
            for r in zorder_file_assignment(df, "id", n_files=8).collect()
        }
        from nhl_data_warehouse_spark.operators.layout import z_value

        mask = 65535
        ref_df = df.withColumn(
            "z_key",
            z_value(
                F.col("x").bitwiseAND(F.lit(mask)),
                F.col("y").bitwiseAND(F.lit(mask)),
            ),
        )
        w = Window.orderBy("z_key", "id")
        ref = {
            r.id: r.file_id
            for r in ref_df.select(
                "id", F.ntile(8).over(w).alias("file_id")
            ).collect()
        }
        assert got == ref

    def test_equal_depth_assign_matches_ntile(self, spark):
        # doubles with duplicates, uneven total (67 % 8 != 0)
        from pyspark.sql.window import Window

        from nhl_data_warehouse_spark.operators.layout import equal_depth_assign

        df = spark.createDataFrame(
            [(i, float((i * 37) % 19) + 0.25) for i in range(67)],
            "id long, v double",
        )
        got = {
            r.id: r["__tile"]
            for r in equal_depth_assign(df, "v", "id", n_tiles=8).collect()
        }
        w = Window.orderBy("v", "id")
        ref = {
            r.id: r.t
            for r in df.select("id", F.ntile(8).over(w).alias("t")).collect()
        }
        assert got == ref

    def test_equal_depth_assign_constant_values(self, spark):
        # min == max: the width_bucket guard must not divide by zero,
        # and the id tie-break alone orders the tiles
        from nhl_data_warehouse_spark.operators.layout import equal_depth_assign

        df = spark.createDataFrame(
            [(i, 5.0) for i in range(10)], "id long, v double"
        )
        out = equal_depth_assign(df, "v", "id", n_tiles=5).collect()
        by_tile = {}
        for r in out:
            by_tile.setdefault(r["__tile"], []).append(r.id)
        assert {t: sorted(ids) for t, ids in by_tile.items()} == {
            1: [0, 1], 2: [2, 3], 3: [4, 5], 4: [6, 7], 5: [8, 9]
        }

    def test_skipping_manifest_prunes_disjoint_files(self, spark):
        from nhl_data_warehouse_spark.operators.layout import skipping_manifest

        # file 1 holds x,y in [0,9]; file 2 in [100,109]: a predicate
        # on [0,9] must scan file 1 only, and stats must be exact
        rows = [(i, i, i, 1) for i in range(10)] + [
            (i + 10, 100 + i, 100 + i, 2) for i in range(10)
        ]
        df = spark.createDataFrame(rows, "id long, x long, y long, file_id int")
        out = {
            r.file_id: r
            for r in skipping_manifest(
                df, pred_ranges={"x": (0, 9), "y": (0, 9)},
            ).collect()
        }
        assert out[1].scanned and not out[2].scanned
        assert (out[1].min_x, out[1].max_x, out[1].n_rows) == (0, 9, 10)
        assert (out[2].min_y, out[2].max_y) == (100, 109)

    def test_skipping_manifest_envelope_overlap_scans(self, spark):
        from nhl_data_warehouse_spark.operators.layout import skipping_manifest

        # partial overlap on one dim is enough to force a scan (min/max
        # envelopes are conservative)
        df = spark.createDataFrame(
            [(1, 5, 50, 1), (2, 15, 60, 1)], "id long, x long, y long, file_id int"
        )
        (r,) = skipping_manifest(
            df, pred_ranges={"x": (10, 20), "y": (0, 100)}
        ).collect()
        assert r.scanned

    def test_file_assignment_fewer_rows_than_files(self, spark):
        # total < n_files: q = 0, every row its own tile — the CASE
        # guard must keep the `div q` branch unevaluated
        df = spark.createDataFrame(
            [(i, i, i) for i in range(5)], "id long, x long, y long"
        )
        out = zorder_file_assignment(df, "id", n_files=8).collect()
        assert sorted(r.file_id for r in out) == [1, 2, 3, 4, 5]


class TestCountMin:
    def test_estimate_at_least_truth_and_usually_exact(self, spark):
        rows = [("apple",)] * 5 + [("pear",)] * 3 + [("plum",)] * 1
        df = spark.createDataFrame(rows, "term string")
        got = {r.term: (r.true_count, r.cms_estimate) for r in
               countmin_estimates(df).collect()}
        assert got["apple"][0] == 5 and got["pear"][0] == 3
        for true, est in got.values():
            assert est >= true
        # depth-4 x 256 buckets over 3 terms: no collision survives all
        # four rows, so the min recovers the exact count
        assert all(est == true for true, est in got.values())


class TestHllPartitionedRollup:
    def test_merge_matches_single_pass_and_bounds_error(self, spark):
        """The 100TB property: per-partition sketches merged via
        hll_union_agg estimate the same cardinality as one sketch
        over all rows to within the published HLL error (the union is
        NOT bit-identical — DataSketches unions run in their own
        internal mode), and both sit within that error of the exact
        distinct."""
        import pyspark.sql.functions as F

        from nhl_data_warehouse_spark.operators.sketches import (
            hll_partitioned_rollup,
        )

        rows = [("a", d % 7, u) for d, u in enumerate(range(500))]
        rows += [("a", d % 7, u) for d, u in enumerate(range(250))]  # dups
        rows += [("b", 0, u) for u in range(40)]
        df = spark.createDataFrame(rows, "g string, part int, uid long")
        merged = {
            r.g: (r.n_partials, r.est_distinct)
            for r in hll_partitioned_rollup(
                df, group_col="g", partition_col="part", id_col="uid"
            ).collect()
        }
        single = {
            r.g: r.est
            for r in df.groupBy("g")
            .agg(
                F.hll_sketch_estimate(
                    F.hll_sketch_agg("uid", F.lit(12))
                )
                .cast("long")
                .alias("est")
            )
            .collect()
        }
        assert merged["a"][0] == 7 and merged["b"][0] == 1
        # merged and single-pass both land within ~3x the published
        # relative error 1.04/sqrt(2^12) of the exact distinct
        for g, exact in (("a", 500), ("b", 40)):
            assert abs(merged[g][1] - exact) <= max(3, 0.05 * exact)
            assert abs(single[g] - exact) <= max(3, 0.05 * exact)
            assert abs(merged[g][1] - single[g]) <= max(3, 0.05 * exact)


class TestPageRank:
    def test_matches_python_reference(self, spark):
        from nhl_data_warehouse_spark.operators.graph import pagerank

        nodes = [1, 2, 3, 4]
        edges = [(1, 2, 1), (1, 3, 3), (2, 3, 1), (3, 1, 1)]  # 4 dangles
        ndf = spark.createDataFrame([(n,) for n in nodes], "node long")
        edf = spark.createDataFrame(edges, "src long, dst long, weight long")
        got = {r.node: float(r.rank) for r in pagerank(ndf, edf).collect()}

        # python reference with identical rounding discipline
        out_w = {1: 4, 2: 1, 3: 1}
        p = {(s, d): w / out_w[s] for s, d, w in edges}
        r = {n: round(1 / 4, 6) for n in nodes}
        for _ in range(3):
            contrib = {n: 0.0 for n in nodes}
            sums = {}
            for (s, d), pv in p.items():
                sums.setdefault(d, []).append(round(r[s] * pv, 12))
            nxt = {}
            for n in nodes:
                s = sum(sums.get(n, []))  # decimal-exact in-engine; exact here too
                nxt[n] = round(round((1 - 0.85) / 4, 12) + 0.85 * s, 6)
            r = nxt
        assert got == pytest.approx(r, abs=1e-9)
        # dangling node keeps only the base mass
        assert got[4] == pytest.approx(r[4]) and r[4] == round(0.0375 + 0.0, 6)

    def test_rank_mass_concentrates_on_sink_heavy_nodes(self, spark):
        from nhl_data_warehouse_spark.operators.graph import pagerank

        # star into node 9: everyone links to 9, 9 links back to 0
        ndf = spark.createDataFrame([(n,) for n in range(10)], "node long")
        edf = spark.createDataFrame(
            [(s, 9, 1) for s in range(9)] + [(9, 0, 1)],
            "src long, dst long, weight long",
        )
        got = {r.node: float(r.rank) for r in pagerank(ndf, edf).collect()}
        assert got[9] == max(got.values())
        assert got[9] > 5 * got[1]


class TestWeightedSample:
    def test_deterministic_and_weight_biased(self, spark):
        from nhl_data_warehouse_spark.operators.sampling import weighted_sample_topk

        rows = [(i, 1 if i < 900 else 1000) for i in range(1000)]
        df = spark.createDataFrame(rows, "doc_id long, w long")
        a = weighted_sample_topk(df, "w", k=50).collect()
        b = weighted_sample_topk(df, "w", k=50).collect()
        assert [r.doc_id for r in a] == [r.doc_id for r in b]  # reproducible
        # 100 heavy rows (w=1000) vs 900 light (w=1): heavy dominate top-50
        n_heavy = sum(1 for r in a if r.doc_id >= 900)
        assert n_heavy >= 40
        # different salt -> different (still deterministic) sample
        c = weighted_sample_topk(df, "w", k=50, salt="other").collect()
        assert [r.doc_id for r in a] != [r.doc_id for r in c]


class TestCooccurrencePairs:
    def test_counts_and_topk_order(self, spark):
        from nhl_data_warehouse_spark.operators import graph

        rows = [  # baskets: {A,B,C}, {A,B}, {A,B} (dup line), {B,C}, {D}
            (1, "A"), (1, "B"), (1, "C"),
            (2, "A"), (2, "B"),
            (2, "A"),  # duplicate item in the same group counts once
            (3, "B"), (3, "C"),
            (4, "D"),
        ]
        df = spark.createDataFrame(rows, "g long, item string")
        out = graph.cooccurrence_pairs(df, "g", "item", top_k=2).collect()
        assert [(r.item_a, r.item_b, r.n_groups) for r in out] == [
            ("A", "B", 2),
            ("B", "C", 2),
        ]
        full = {
            (r.item_a, r.item_b): r.n_groups
            for r in graph.cooccurrence_pairs(df, "g", "item").collect()
        }
        assert full == {("A", "B"): 2, ("B", "C"): 2, ("A", "C"): 1}


class TestEquiDepthBins:
    def test_bins_partition_rows_evenly(self, spark):
        from pyspark.sql.window import Window

        df = spark.createDataFrame(
            [(i, float(100 - i)) for i in range(10)], "k long, v double"
        )
        w = Window.orderBy(F.col("v").asc(), F.col("k").asc())
        out = (
            df.select("v", F.ntile(4).over(w).alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n"), F.min("v").alias("lo"), F.max("v").alias("hi"))
            .orderBy("bin")
            .collect()
        )
        # 10 rows over 4 bins: 3,3,2,2 with contiguous non-overlapping bounds
        assert [r.n for r in out] == [3, 3, 2, 2]
        for a, b in zip(out, out[1:]):
            assert a.hi < b.lo


class TestTriangleCounts:
    def test_k4_and_star(self, spark):
        from nhl_data_warehouse_spark.operators.graph import triangle_counts

        # K4: 4 triangles, each node in exactly 3
        k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
        df = spark.createDataFrame(k4, "a long, b long")
        got = {r.node: r.n_triangles for r in triangle_counts(df).collect()}
        assert got == {0: 3, 1: 3, 2: 3, 3: 3}
        # star has no triangles
        star = spark.createDataFrame([(0, i) for i in range(1, 5)], "a long, b long")
        assert triangle_counts(star).count() == 0

    def test_canonicalizes_dups_reverses_loops(self, spark):
        from nhl_data_warehouse_spark.operators.graph import triangle_counts

        df = spark.createDataFrame(
            [(1, 2), (2, 1), (2, 3), (3, 1), (1, 1), (2, 3)],
            "a long, b long",
        )
        got = {r.node: r.n_triangles for r in triangle_counts(df).collect()}
        assert got == {1: 1, 2: 1, 3: 1}


class TestBfsHops:
    def test_min_hop_on_diamond_path(self, spark):
        from nhl_data_warehouse_spark.operators.graph import bfs_hops

        #   0 -> 1 -> 3 -> 4,  0 -> 2 -> 3 (two paths to 3), 5 isolated
        edges = spark.createDataFrame(
            [(0, 1), (0, 2), (1, 3), (2, 3), (3, 4), (5, 0)],
            "src long, dst long",
        )
        seeds = spark.createDataFrame([(0,)], "node long")
        got = {r.node: r.hop for r in bfs_hops(edges, seeds, max_hops=4).collect()}
        assert got == {0: 0, 1: 1, 2: 1, 3: 2, 4: 3}

    def test_hop_bound_and_multi_seed(self, spark):
        from nhl_data_warehouse_spark.operators.graph import bfs_hops

        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(6)], "src long, dst long"
        )
        seeds = spark.createDataFrame([(0,), (4,)], "node long")
        got = {r.node: r.hop for r in bfs_hops(chain, seeds, max_hops=2).collect()}
        assert got == {0: 0, 4: 0, 1: 1, 5: 1, 2: 2, 6: 2}


class TestGrowthQueries:
    def test_growth_and_cumulative_invariants(self, spark):
        import os

        import pytest

        sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
        if not os.path.isdir(sf):
            pytest.skip("driver testdata absent")
        from nhl_data_warehouse_spark.suite import REGISTRY

        growth = sorted(
            REGISTRY["monthly_revenue_growth"].fn(spark, sf).collect(),
            key=lambda r: r.month,
        )
        assert growth[0].mom_growth is None  # no prior month
        for prev, cur in zip(growth, growth[1:]):
            if cur.mom_growth is not None:
                assert abs(
                    cur.mom_growth - (cur.revenue - prev.revenue) / prev.revenue
                ) < 1e-12
        cum = sorted(
            REGISTRY["cumulative_new_users"].fn(spark, sf).collect(),
            key=lambda r: r.month,
        )
        running = 0
        for r in cum:
            running += r.new_users
            assert r.cumulative_users == running
