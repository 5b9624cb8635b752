"""Round-6 operators: Mann-Whitney U / KS two-sample statistics,
2-D Pareto frontier, day-bitmask retention, linear interpolation."""

import math

from pyspark.sql import functions as F

from nhl_data_warehouse_spark.operators.skyline import pareto_frontier_2d
from nhl_data_warehouse_spark.operators.stats import ks_two_sample, mann_whitney_u
from nhl_data_warehouse_spark.operators.timeseries import (
    day_bitmask_retention,
    linear_interpolate,
)


def _mw_reference(xs, ys):
    """Textbook U and tie-corrected z computed row-at-a-time."""
    allv = sorted(xs + ys)
    # midrank of value v among allv (1-based)
    def midrank(v):
        lo = sum(1 for a in allv if a < v)
        eq = sum(1 for a in allv if a == v)
        return lo + (eq + 1) / 2.0

    r1 = sum(midrank(x) for x in xs)
    n1, n2 = len(xs), len(ys)
    n = n1 + n2
    u = r1 - n1 * (n1 + 1) / 2.0
    from collections import Counter

    t = sum(c**3 - c for c in Counter(allv).values())
    sigma = math.sqrt(n1 * n2 / 12.0 * ((n + 1) - t / (n * (n - 1))))
    z = (u - n1 * n2 / 2.0) / sigma
    return u, z


class TestMannWhitney:
    def test_matches_textbook_with_ties(self, spark):
        xs = [1.00, 2.50, 2.50, 3.00, 7.25, 0.75]
        ys = [2.50, 4.00, 4.00, 5.25, 0.75]
        rows = [(v, "a") for v in xs] + [(v, "b") for v in ys]
        df = spark.createDataFrame(rows, "v double, g string")
        got = mann_whitney_u(df, "v", F.col("g") == "a").collect()[0]
        u, z = _mw_reference(xs, ys)
        assert got.n1 == len(xs) and got.n2 == len(ys)
        assert got.u_statistic == u
        assert abs(got.z_value - z) < 1e-12, (got.z_value, z)

    def test_nulls_excluded(self, spark):
        rows = [(1.0, "a"), (None, "a"), (2.0, "b"), (None, "b")]
        df = spark.createDataFrame(rows, "v double, g string")
        got = mann_whitney_u(df, "v", F.col("g") == "a").collect()[0]
        assert (got.n1, got.n2) == (1, 1)

    def test_identical_samples_give_zero_z(self, spark):
        rows = [(float(i % 5), g) for i in range(20) for g in ("a", "b")]
        df = spark.createDataFrame(rows, "v double, g string")
        got = mann_whitney_u(df, "v", F.col("g") == "a").collect()[0]
        # U = n1*n2/2 exactly when the two samples are identical
        assert got.u_statistic == 20 * 20 / 2.0
        assert got.z_value == 0.0


class TestKsTwoSample:
    def test_matches_bruteforce_sup(self, spark):
        xs = [0.10, 0.20, 0.20, 0.55, 0.90, 1.55]
        ys = [0.15, 0.20, 0.60, 0.60, 2.00]
        rows = [(v, "a") for v in xs] + [(v, "b") for v in ys]
        df = spark.createDataFrame(rows, "v double, g string")
        got = ks_two_sample(df, "v", F.col("g") == "a").collect()[0]
        pts = sorted(set(xs + ys))
        d = max(
            abs(
                sum(1 for x in xs if x <= p) / len(xs)
                - sum(1 for y in ys if y <= p) / len(ys)
            )
            for p in pts
        )
        assert abs(got.d_stat - d) < 1e-15
        assert (got.n1, got.n2) == (len(xs), len(ys))

    def test_disjoint_supports_give_d_one(self, spark):
        rows = [(float(i), "a") for i in range(5)] + [
            (float(i + 100), "b") for i in range(7)
        ]
        df = spark.createDataFrame(rows, "v double, g string")
        assert ks_two_sample(df, "v", F.col("g") == "a").collect()[0].d_stat == 1.0


class TestParetoFrontier2D:
    def test_matches_bruteforce_dominance(self, spark):
        # deterministic pseudo-random points with deliberate ties
        pts = [((i * 37) % 101 / 4.0, (i * 53) % 89) for i in range(200)]
        pts += [(pts[0][0], pts[0][1]), (5.0, 88), (5.0, 88)]
        df = spark.createDataFrame(
            [(i, c, g) for i, (c, g) in enumerate(pts)],
            "id long, cost double, gain long",
        )
        got = {
            (r.cost, r.best_gain): r.n_rows
            for r in pareto_frontier_2d(df, "cost", "gain").collect()
        }
        # brute force: undominated distinct (cost, gain) points
        dominated = set()
        uniq = set(pts)
        for p in uniq:
            for q in uniq:
                if (
                    q[0] <= p[0]
                    and q[1] >= p[1]
                    and (q[0] < p[0] or q[1] > p[1])
                ):
                    dominated.add(p)
                    break
        want = {
            p: sum(1 for x in pts if x == p)
            for p in uniq
            if p not in dominated
        }
        assert got == want

    def test_single_point(self, spark):
        df = spark.createDataFrame([(1, 2.0, 3)], "id long, cost double, gain long")
        rows = pareto_frontier_2d(df, "cost", "gain").collect()
        assert [(r.cost, r.best_gain, r.n_rows) for r in rows] == [(2.0, 3, 1)]


class TestDayBitmaskRetention:
    def test_matches_naive_day_pair_counts(self, spark):
        import datetime

        rows = []
        # user 1 active days 1,2,3; user 2 days 2,4; user 3 day 29,30
        for uid, days in [(1, [1, 2, 3]), (2, [2, 4]), (3, [29, 30])]:
            for d in days:
                rows.append((uid, datetime.datetime(2024, 1, d, 12, 0, 0)))
        df = spark.createDataFrame(rows, "user_id long, ts timestamp")
        got = {
            r.day_of_month: (r.n_active, r.n_retained, r.retention)
            for r in day_bitmask_retention(df, 29).collect()
        }
        active = {d: set() for d in range(1, 31)}
        for uid, days in [(1, [1, 2, 3]), (2, [2, 4]), (3, [29, 30])]:
            for d in days:
                active[d].add(uid)
        for d in range(1, 30):
            na = len(active[d])
            nr = len(active[d] & active[d + 1])
            want_ratio = nr / na if na else 0.0
            assert got[d] == (na, nr, want_ratio), d

    def test_multiple_events_same_day_count_once(self, spark):
        import datetime

        df = spark.createDataFrame(
            [(1, datetime.datetime(2024, 1, 5, h)) for h in range(10)],
            "user_id long, ts timestamp",
        )
        got = {
            r.day_of_month: r.n_active
            for r in day_bitmask_retention(df, 10).collect()
        }
        assert got[5] == 1 and got[4] == 0


class TestLinearInterpolate:
    def _grid(self, spark, obs):
        import datetime

        days = [datetime.date(2024, 1, d) for d in range(1, 11)]
        rows = [("k", d, obs.get(d.day)) for d in days]
        return spark.createDataFrame(rows, "k string, day date, v double")

    def test_interpolates_between_brackets(self, spark):
        # observed day1=10, day5=30, day6=0: gaps 2,3,4 on the line
        grid = self._grid(spark, {1: 10.0, 5: 30.0, 6: 0.0})
        got = {
            r.day.day: (r.value_interp, r.is_gap)
            for r in linear_interpolate(grid, "k", "day", "v").collect()
        }
        assert got[1] == (10.0, 0)
        assert got[2] == (15.0, 1)
        assert got[3] == (20.0, 1)
        assert got[4] == (25.0, 1)
        assert got[5] == (30.0, 0)
        assert got[6] == (0.0, 0)
        # after the last observation: no bracket -> NULL
        assert got[10] == (None, 1)

    def test_leading_gap_stays_null(self, spark):
        grid = self._grid(spark, {3: 9.0})
        got = {
            r.day.day: r.value_interp
            for r in linear_interpolate(grid, "k", "day", "v").collect()
        }
        assert got[1] is None and got[2] is None and got[3] == 9.0


class TestRankStatisticProperties:
    """Rank statistics must be invariant under strictly increasing
    transforms of the measurement (they see only the order), and the
    skyline must be idempotent — properties, not point checks."""

    def _df(self, spark):
        # exact quarter values so cents rounding is exact before and
        # after the affine map (no half-ulp flips)
        vals = [(i % 13) / 4.0 for i in range(40)]
        rows = [(v, "a" if i % 3 == 0 else "b") for i, v in enumerate(vals)]
        return spark.createDataFrame(rows, "v double, g string")

    def test_mann_whitney_monotone_invariant(self, spark):
        from pyspark.sql import functions as F

        df = self._df(spark)
        base = mann_whitney_u(df, "v", F.col("g") == "a").collect()[0]
        mapped = df.withColumn("v", F.col("v") * 3 + 0.25)
        got = mann_whitney_u(mapped, "v", F.col("g") == "a").collect()[0]
        assert (got.u_statistic, got.z_value) == (
            base.u_statistic,
            base.z_value,
        )

    def test_ks_monotone_invariant(self, spark):
        from pyspark.sql import functions as F

        df = self._df(spark)
        base = ks_two_sample(df, "v", F.col("g") == "a").collect()[0]
        mapped = df.withColumn("v", F.col("v") * 3 + 0.25)
        got = ks_two_sample(mapped, "v", F.col("g") == "a").collect()[0]
        assert got.d_stat == base.d_stat

    def test_skyline_idempotent(self, spark):
        pts = [((i * 41) % 97 / 2.0, (i * 29) % 83) for i in range(150)]
        df = spark.createDataFrame(
            [(i, c, g) for i, (c, g) in enumerate(pts)],
            "id long, cost double, gain long",
        )
        f1 = pareto_frontier_2d(df, "cost", "gain")
        f2 = pareto_frontier_2d(
            f1.selectExpr("cost", "best_gain as gain"), "cost", "gain"
        )
        a = sorted((r.cost, r.best_gain) for r in f1.collect())
        b = sorted((r.cost, r.best_gain) for r in f2.collect())
        assert a == b
