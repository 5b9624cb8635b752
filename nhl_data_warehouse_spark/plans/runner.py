"""Topological model runner with per-stage retry (SURVEY.md §2.9 M5).

Replaces the reference's three orchestration layers — Airflow
``chain(...)`` DAGs, Cosmos, and dbt's manifest scheduler — with one
small deterministic runner: models declare dependencies by name, the
runner topo-sorts, executes each model function ``(spark, inputs) ->
DataFrame``, materializes per policy, and retries per stage
(reference retry policy: retries=1, delay 5s —
``hockeyreference_dag.py:65``).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession


@dataclass
class Model:
    name: str
    fn: Callable[..., DataFrame]  # (spark, **dep_dataframes) -> DataFrame
    deps: list[str] = field(default_factory=list)
    materialization: str = "view"  # "view" | "table" | "incremental"
    key: str = "unique_key"  # incremental dedup key
    # post-materialization quality gates (plans/quality.py callables,
    # e.g. lambda df: null_check(df, ["team"])); a raising gate fails
    # the model AFTER retries — data errors are not transient, so the
    # retry loop (reference policy M5) wraps only the build+write
    checks: list[Callable[[DataFrame], object]] = field(default_factory=list)


class PipelineRunner:
    def __init__(self, spark: SparkSession, retries: int = 1, retry_delay_s: float = 0.1):
        self.spark = spark
        self.models: dict[str, Model] = {}
        self.retries = retries
        self.retry_delay_s = retry_delay_s

    def register(self, model: Model) -> None:
        self.models[model.name] = model

    def _topo_order(self) -> list[str]:
        order: list[str] = []
        state: dict[str, int] = {}  # 0=unvisited 1=visiting 2=done

        def visit(name: str) -> None:
            if state.get(name) == 2:
                return
            if state.get(name) == 1:
                raise ValueError(f"dependency cycle at {name}")
            state[name] = 1
            for d in self.models[name].deps:
                if d in self.models:
                    visit(d)
            state[name] = 2
            order.append(name)

        for name in self.models:
            visit(name)
        return order

    def run(self) -> dict[str, DataFrame]:
        """Execute all models in dependency order; returns name -> DF."""
        from nhl_data_warehouse_spark import write

        results: dict[str, DataFrame] = {}
        for name in self._topo_order():
            model = self.models[name]
            inputs = {d: results[d] for d in model.deps if d in results}
            last_err: Exception | None = None
            for attempt in range(self.retries + 1):
                try:
                    df = model.fn(self.spark, **inputs)
                    # gates and dependents read what a table landed
                    # (dbt ref/test semantics), not its lineage again
                    if model.materialization == "view":
                        write.as_view(df, name)
                    elif model.materialization == "table":
                        write.overwrite_table(df, name)
                        df = self.spark.table(name)
                    elif model.materialization == "incremental":
                        write.incremental_insert(self.spark, df, name, key=model.key)
                        df = self.spark.table(name)
                    results[name] = df
                    last_err = None
                    break
                except AnalysisException:
                    raise  # a plan error fails the same way on every retry
                except Exception as e:  # retry per reference policy
                    last_err = e
                    if attempt < self.retries:
                        time.sleep(self.retry_delay_s)
            if last_err is not None:
                raise last_err
            for check in model.checks:
                check(results[name])
        return results
