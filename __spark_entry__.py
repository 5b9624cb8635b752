"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship snowflake-join query at sf0.001;
``queries()`` exposes every implemented operator from SURVEY.md §2
(plus the beyond-reference training-data ops) as (spark, sf_dir) ->
DataFrame; ``oracle_sql()`` gives the DuckDB-equivalent SQL for each.

Implementation lives in ``nhl_data_warehouse_spark/suite/``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from nhl_data_warehouse_spark.suite import REGISTRY
from nhl_data_warehouse_spark.suite.core import flagship


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query."""
    return {name: spec.oracle for name, spec in REGISTRY.items()}
