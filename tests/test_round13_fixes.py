"""Round-13 regression pins for the ADVICE r12 + VERDICT r12 items:

1. ``register()`` refuses duplicate names (VERDICT r12 item 2 — two
   silent-overwrite incidents in round 12): a collision raises
   ``ValueError`` at import/decoration time instead of dropping a
   query from the registry.
2. ``wasserstein_two_sample`` fails LOUDLY on decimal(38,0) term
   overflow (ADVICE r12 item 3): a NULL term — only possible when
   n1 * n2 * max_cell_gap >= 1e38 under ``allowPrecisionLoss`` —
   raises via ``raise_error`` instead of being silently dropped by
   SUM, and the docstring states the exactness bound.
3. ``embedding_robust_profile`` uses the hint-based pandas_udf form
   (ADVICE r12 item 2): no deprecated ``PandasUDFType.GROUPED_AGG``
   enum (removal risk), no deprecation warning at call time, pandas
   still a soft dependency of the module import.
4. A library caller can release what an operator persisted (VERDICT
   r12 item 7 / ADVICE r12 item 1) — ``paragraph_dedup_stats`` and
   the other sites ADVICE named — with identical results; the
   release path is ``operators.caching.cache_scope``.
"""

from __future__ import annotations

import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from tests.conftest import *  # noqa: F401,F403  (spark fixture)


class TestRegisterRefusesDuplicates:
    def test_duplicate_name_raises(self):
        from nhl_data_warehouse_spark.suite.registry import REGISTRY, register

        name = next(iter(REGISTRY))  # any already-registered name
        with pytest.raises(ValueError, match="duplicate query registration"):

            @register(name, oracle="SELECT 1", op_ids="x", description="dup")
            def _dup(spark, sf_dir):  # pragma: no cover - never called
                raise AssertionError

        # the original spec survived untouched
        assert REGISTRY[name].description != "dup"

    def test_fresh_name_still_registers(self):
        from nhl_data_warehouse_spark.suite.registry import REGISTRY, register

        assert "_r13_fixture_query" not in REGISTRY

        @register(
            "_r13_fixture_query", oracle="SELECT 1", op_ids="x", description="t"
        )
        def _q(spark, sf_dir):  # pragma: no cover
            raise AssertionError

        assert "_r13_fixture_query" in REGISTRY
        del REGISTRY["_r13_fixture_query"]


class TestWassersteinOverflowGuard:
    def test_docstring_states_bound(self):
        from nhl_data_warehouse_spark.operators.stats import (
            wasserstein_two_sample,
        )

        assert "10^38" in wasserstein_two_sample.__doc__

    def test_null_term_raises_not_drops(self, spark):
        from nhl_data_warehouse_spark.operators.stats import _w1_final_select

        num = spark.createDataFrame(
            [(None, 1, 10, 10)],
            "wnum decimal(38,0), _null_terms long, n1 long, n2 long",
        )
        with pytest.raises(Exception, match="decimal\\(38,0\\) term overflow"):
            _w1_final_select(num, 100).collect()

    def test_zero_null_terms_unchanged(self, spark):
        from nhl_data_warehouse_spark.operators.stats import _w1_final_select

        from decimal import Decimal

        num = spark.createDataFrame(
            [(Decimal(1200), 0, 3, 4)],
            "wnum decimal(38,0), _null_terms long, n1 long, n2 long",
        )
        row = _w1_final_select(num, 100).collect()[0]
        assert row.w1_dist == pytest.approx(1200 / (3 * 4 * 100))

    def test_value_on_real_data_unchanged(self, spark):
        # same fixture as test_round12_fixes — the guard must be inert
        # on data inside the bound
        from nhl_data_warehouse_spark.operators.stats import (
            wasserstein_two_sample,
        )

        xs = [1.00, 1.50, 2.25, 2.25, 9.75, 4.10]
        ys = [1.00, 3.50, 3.50, 8.00, 0.25]
        df = spark.createDataFrame(
            [(v, 1) for v in xs] + [(v, 0) for v in ys], "v double, g int"
        )
        out = wasserstein_two_sample(df, "v", F.col("g") == 1).collect()[0]
        cx = sorted(round(v * 100) for v in xs)
        cy = sorted(round(v * 100) for v in ys)
        cells = sorted(set(cx) | set(cy))
        ref = sum(
            abs(
                sum(1 for v in cx if v <= c) * len(cy)
                - sum(1 for v in cy if v <= c) * len(cx)
            )
            * (cn - c)
            for c, cn in zip(cells, cells[1:])
        ) / (len(cx) * len(cy) * 100)
        assert out.w1_dist == pytest.approx(ref)


class TestRobustProfileHintForm:
    def test_no_deprecated_enum_in_source(self):
        import inspect

        from nhl_data_warehouse_spark.operators.similarity import (
            embedding_robust_profile,
        )

        import re

        src = inspect.getsource(embedding_robust_profile)
        # no pandas_udf(...) call passes the deprecated enum (the
        # explanatory comment may still name it)
        assert re.search(r"pandas_udf\([^)]*PandasUDFType", src) is None
        assert "import PandasUDFType" not in src
        assert "pd.Series" in src  # hint-based form

    def test_no_deprecation_warning_and_values(self, spark):
        import warnings

        import numpy as np

        from nhl_data_warehouse_spark.operators.similarity import (
            embedding_robust_profile,
        )

        vecs = [
            (1, [1.0, 10.0]),
            (2, [2.0, 20.0]),
            (3, [3.0, 300.0]),
            (4, [4.0, 40.0]),
            (5, [5.0, 50.0]),
        ]
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
        with warnings.catch_warnings():
            warnings.simplefilter("error", UserWarning)
            out = embedding_robust_profile(df)  # decoration happens here
        rows = {r.dim: r for r in out.collect()}
        a1 = np.array([1.0, 2.0, 3.0, 4.0, 5.0])
        assert rows[1].med == pytest.approx(float(np.median(a1)))
        assert rows[1].mad == pytest.approx(
            float(np.median(np.abs(a1 - np.median(a1))))
        )
        a2 = np.array([10.0, 20.0, 300.0, 40.0, 50.0])
        m, md = np.median(a2), np.median(np.abs(a2 - np.median(a2)))
        assert rows[2].n_outliers == int(
            (np.abs(a2 - m) > 3.0 * 1.4826 * md).sum()
        )

    def test_pandas_still_soft_dependency(self):
        # module must import (and its non-pandas operators must build
        # plans) when pandas is unimportable
        code = (
            "import sys; sys.modules['pandas'] = None\n"
            "import importlib\n"
            "real = importlib.import_module\n"
            "def fake(name, *a, **k):\n"
            "    if name == 'pandas':\n"
            "        raise ImportError('no pandas')\n"
            "    return real(name, *a, **k)\n"
            "importlib.import_module = fake\n"
            "del sys.modules['pandas']\n"
            "import builtins\n"
            "orig = builtins.__import__\n"
            "def imp(name, *a, **k):\n"
            "    if name == 'pandas' or name.startswith('pandas.'):\n"
            "        raise ImportError('no pandas')\n"
            "    return orig(name, *a, **k)\n"
            "builtins.__import__ = imp\n"
            "from nhl_data_warehouse_spark.operators import similarity\n"
            "assert similarity.pd is None\n"
            "print('OK')\n"
        )
        res = subprocess.run(
            [sys.executable, "-c", code], capture_output=True, text=True
        )
        assert res.returncode == 0, res.stderr
        assert "OK" in res.stdout


class TestCacheRegistryContract:
    """The per-call release contract, now ``cache_scope``: a library
    caller releases exactly what an operator pinned. (The signature
    check that every persist site took a per-call registry list is
    replaced by the static scan in ``tests/test_cache_scope.py``.)"""

    @staticmethod
    def _ids(spark) -> set:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    def test_paragraph_dedup_stats_release_path(self, spark):
        from nhl_data_warehouse_spark.operators.caching import cache_scope
        from nhl_data_warehouse_spark.operators.dedup import (
            paragraph_dedup_stats,
        )

        df = spark.createDataFrame(
            [
                (1, "alpha beta\n\nshared para\n\nunique one"),
                (2, "shared para\n\ndifferent text"),
            ],
            "doc_id long, text string",
        )
        before = self._ids(spark)
        with cache_scope():
            rows = {r.doc_id: r for r in paragraph_dedup_stats(df).collect()}
            pinned = self._ids(spark) - before
            assert len(pinned) == 1
        assert rows[1].n_dup_paras == 1 and rows[2].n_dup_paras == 1
        assert not pinned & self._ids(spark)

    def test_results_identical_with_and_without_registry(self, spark):
        from nhl_data_warehouse_spark.operators.caching import cache_scope
        from nhl_data_warehouse_spark.operators.text import (
            unigram_logprob_score,
        )
        from nhl_data_warehouse_spark.session import release_cached

        df = spark.createDataFrame(
            [(1, "a b a c"), (2, "a a a"), (3, "zzz b")],
            "doc_id long, text string",
        )
        before = self._ids(spark)
        with cache_scope():
            scoped = sorted(unigram_logprob_score(df).collect())
            assert len(self._ids(spark) - before) == 1
        assert not self._ids(spark) - before
        without = sorted(unigram_logprob_score(df).collect())
        assert scoped == without
        release_cached(spark)

    def test_knn_join_threads_through_private_core(self, spark):
        from nhl_data_warehouse_spark.operators.caching import cache_scope
        from nhl_data_warehouse_spark.operators.similarity import (
            knn_join_bucketed,
        )

        df = spark.createDataFrame(
            [(i, [float(i % 3), 1.0]) for i in range(6)],
            "vec_id long, embedding array<float>",
        )
        before = self._ids(spark)
        with cache_scope():
            knn_join_bucketed(df, n_planes=2, dim=2).collect()
            pinned = self._ids(spark) - before
            assert len(pinned) == 1
        assert not pinned & self._ids(spark)
