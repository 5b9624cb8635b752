"""A long-lived session reuses what it has already compiled and inferred.

- ``suite.registry.read_parquet`` infers a parquet file's schema once
  per file version; later reads pass the memoized schema and start no
  Spark job, yet return the same schema and rows as an inferred read.
- ``get_spark`` sizes the generated-class cache so that a second round
  of the benchmark's query sample recompiles (almost) nothing.
"""

from __future__ import annotations

import gc
import importlib.util
import pathlib

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from nhl_data_warehouse_spark.suite.registry import read_parquet

ROOT = pathlib.Path(__file__).resolve().parent.parent
SF = ROOT / "perfbench" / "data" / "sf0.001"
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _next_job(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _fingerprint(df) -> tuple:
    """Row count plus an order-insensitive sum of per-row hashes."""
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).first()
    return row.n, row.h


@pytest.mark.parametrize("table", TABLES)
def test_memoized_read_starts_no_job_and_matches_inferred(spark, table):
    path = str(SF / f"{table}.parquet")
    read_parquet(spark, path)  # infers unless an earlier read did
    job0 = _next_job(spark)
    memo = read_parquet(spark, path)
    assert _next_job(spark) == job0

    fresh = spark.read.parquet(path)
    assert _next_job(spark) > job0  # the inferred read does start a job
    # events.ts is TIMESTAMP(NANOS), read as a long: the memo keeps it
    assert memo.schema == fresh.schema
    assert memo.dtypes == fresh.dtypes
    assert _fingerprint(memo) == _fingerprint(fresh)


def test_rewrite_in_place_invalidates_memo(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    assert read_parquet(spark, path).columns == ["a"]
    assert read_parquet(spark, path).columns == ["a"]  # memoized

    pq.write_table(pa.table({"b": ["x", "y"], "c": [0.5, 1.5]}), path)
    df = read_parquet(spark, path)
    assert df.dtypes == [("b", "string"), ("c", "double")]
    assert sorted(df.collect()) == [("x", 0.5), ("y", 1.5)]


def test_second_round_of_benchmark_sample_reuses_generated_classes(spark):
    """The benchmark's seven-query sample generates ~110 classes cold,
    more than Spark's default 100-entry cache holds, so at the default a
    second round recompiles most of them. At ``get_spark``'s 1000 the
    second round finds them cached. A few may still compile: a class
    name embeds its codegen stage id, which AQE hands out in stage
    completion order, so a query can meet a new ordering of the same
    stages (observed: 0 or 4 classes, from ``countmin_token_freq``).
    """
    from nhl_data_warehouse_spark.session import release_cached
    from nhl_data_warehouse_spark.suite import REGISTRY

    spec = importlib.util.spec_from_file_location("perfbench_run", ROOT / "perfbench" / "run.py")
    run = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(run)
    counter = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = counter.METRIC_COMPILATION_TIME()

    rounds = []
    for _ in range(2):
        n0 = compiles.getCount()
        for name in run.SAMPLE:
            df = REGISTRY[name].fn(spark, str(SF))
            df.write.format("noop").mode("overwrite").save()
            del df
            release_cached(spark)
            gc.collect()
        rounds.append(compiles.getCount() - n0)
    assert rounds[1] <= 10, rounds
