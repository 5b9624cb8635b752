"""Round-12 regression pins for the ADVICE r11 items:

1. ``ks_two_sample`` / ``wasserstein_two_sample`` /
   ``grouped_ks_two_sample`` compute the cross-products
   ``cum1*n2 - cum2*n1`` in DECIMAL, not BIGINT — the long multiply
   silently wraps (non-ANSI) once n1*n2 >= 2^63 (~3e9 rows per
   side), exactly the row scale the docstrings target. The factors
   are cast to decimal(19,0) BEFORE the multiply, so the products
   are exact in decimal(38,0).
2. ``operators.similarity`` no longer imports pandas at module
   import time (it is needed only inside
   ``embedding_robust_profile``'s pandas_udf hints).
3. ``dedup_savings_report`` no longer takes the never-used
   ``id_col`` parameter.
4. ``triangle_counts`` / ``clustering_coefficients``: a library
   caller releases the two persisted relations of
   ``_deg_tri`` with ``cache_scope`` instead of stranding
   them.
"""

import inspect
import subprocess
import sys

from pyspark.sql import functions as F

from tests.conftest import *  # noqa: F401,F403  (spark fixture)


def _w1_ref(xs, ys, scale=100):
    """Naive single-node W1 over the cents grain: integral of
    |F1 - F2| between consecutive distinct cells, in value units."""
    cx = sorted(round(v * scale) for v in xs)
    cy = sorted(round(v * scale) for v in ys)
    cells = sorted(set(cx) | set(cy))
    n1, n2 = len(cx), len(cy)
    tot = 0
    for c, cn in zip(cells, cells[1:]):
        f1 = sum(1 for v in cx if v <= c)
        f2 = sum(1 for v in cy if v <= c)
        tot += abs(f1 * n2 - f2 * n1) * (cn - c)
    return tot / (n1 * n2 * scale)


def _ks_ref(xs, ys, scale=100):
    cx = sorted(round(v * scale) for v in xs)
    cy = sorted(round(v * scale) for v in ys)
    cells = sorted(set(cx) | set(cy))
    n1, n2 = len(cx), len(cy)
    return max(
        abs(
            sum(1 for v in cx if v <= c) * n2
            - sum(1 for v in cy if v <= c) * n1
        )
        for c in cells
    ) / (n1 * n2)


class TestDriftCrossProductsInDecimal:
    XS = [1.00, 1.50, 2.25, 2.25, 9.75, 4.10]
    YS = [1.00, 3.50, 3.50, 8.00, 0.25]

    def _df(self, spark):
        rows = [(v, 1) for v in self.XS] + [(v, 0) for v in self.YS]
        return spark.createDataFrame(rows, "v double, g int")

    def test_ks_decimal_products_and_value(self, spark):
        from nhl_data_warehouse_spark.operators.stats import ks_two_sample

        out = ks_two_sample(self._df(spark), "v", F.col("g") == 1)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "decimal(19,0)" in plan, (
            "KS cross-products must be computed in decimal, not bigint"
        )
        row = out.collect()[0]
        assert row["n1"] == len(self.XS) and row["n2"] == len(self.YS)
        assert abs(row["d_stat"] - _ks_ref(self.XS, self.YS)) < 1e-12

    def test_wasserstein_decimal_products_and_value(self, spark):
        from nhl_data_warehouse_spark.operators.stats import (
            wasserstein_two_sample,
        )

        out = wasserstein_two_sample(self._df(spark), "v", F.col("g") == 1)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "decimal(19,0)" in plan
        row = out.collect()[0]
        assert abs(row["w1_dist"] - _w1_ref(self.XS, self.YS)) < 1e-12

    def test_grouped_ks_decimal_products_and_value(self, spark):
        from nhl_data_warehouse_spark.operators.stats import (
            grouped_ks_two_sample,
        )

        rows = [("s", v, 1) for v in self.XS] + [
            ("s", v, 0) for v in self.YS
        ]
        df = spark.createDataFrame(rows, "grp string, v double, g int")
        out = grouped_ks_two_sample(df, "grp", "v", F.col("g") == 1)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "decimal(19,0)" in plan
        row = out.collect()[0]
        assert abs(row["d_stat"] - _ks_ref(self.XS, self.YS)) < 1e-12


def test_similarity_imports_without_pandas():
    """ADVICE r11 item 2: blocking pandas must not break importing
    the similarity module (pandas is only needed inside
    embedding_robust_profile, at call time)."""
    code = (
        "import sys; sys.modules['pandas'] = None; "
        "import nhl_data_warehouse_spark.operators.similarity; "
        "print('ok')"
    )
    res = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        cwd=str(__import__("pathlib").Path(__file__).resolve().parents[1]),
    )
    assert res.returncode == 0 and "ok" in res.stdout, res.stderr[-2000:]


def test_dedup_savings_report_has_no_id_col():
    from nhl_data_warehouse_spark.operators.dedup import dedup_savings_report

    assert "id_col" not in inspect.signature(dedup_savings_report).parameters


class TestGraphCacheRegistry:
    EDGES = [
        ("a", "b"), ("b", "c"), ("a", "c"),  # triangle
        ("c", "d"), ("d", "e"),
    ]

    def test_clustering_coefficients_releases_caches(self, spark):
        from nhl_data_warehouse_spark.operators.caching import cache_scope
        from nhl_data_warehouse_spark.operators.graph import (
            clustering_coefficients,
        )

        jsc = spark.sparkContext._jsc
        # compare RDD-id SETS, not global counts: the ContextCleaner
        # asynchronously unpersists frames earlier tests dropped, so a
        # global count can shrink mid-test and flip a count equality
        # (observed flaking when run right after the hypothesis CC
        # property test's localCheckpoint churn). Read the ids from the
        # Java map, not by parsing the Scala set's toString: that
        # mangles whichever id prints first, and the first id changes
        # as the set grows.
        before = set(jsc.getPersistentRDDs().keySet())
        df = spark.createDataFrame(self.EDGES, "a string, b string")
        with cache_scope():
            out = {
                r["node"]: r["clustering_coeff"]
                for r in clustering_coefficients(df).collect()
            }
            pinned = set(jsc.getPersistentRDDs().keySet()) - before
            assert len(pinned) == 2, "expected the e and o persisted relations"
        assert out["a"] == 1.0 and out["d"] == 0.0
        after = set(jsc.getPersistentRDDs().keySet())
        stranded = after - before
        assert not stranded, (
            f"clustering_coefficients stranded caches: {stranded}"
        )

    def test_triangle_counts_registry(self, spark):
        from nhl_data_warehouse_spark.operators.caching import cache_scope
        from nhl_data_warehouse_spark.operators.graph import triangle_counts

        jsc = spark.sparkContext._jsc.sc()
        before = jsc.getPersistentRDDs().size()
        df = spark.createDataFrame(self.EDGES, "a string, b string")
        with cache_scope():
            rows = triangle_counts(df).collect()
        assert {r["node"] for r in rows} == {"a", "b", "c"}
        assert jsc.getPersistentRDDs().size() == before
