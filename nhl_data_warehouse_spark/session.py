"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[N]``; the configs below are the ones
that also matter on a real multi-executor cluster (AQE, shuffle
partition sizing, Arrow for the pandas-UDF slow path). Session
timezone is pinned to UTC so timestamp semantics match the DuckDB
oracle and are cluster-location-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "nhl_data_warehouse_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    - AQE on: runtime partition coalescing, skew-join splitting, and
      broadcast conversion — the knobs that keep a fixed plan healthy
      when data grows 100x.
    - ``spark.sql.shuffle.partitions`` defaults to cores in local mode
      (not 200); on a real cluster callers pass ~2-3x total cores.
    - Arrow enabled for the few pandas-UDF operators (similarity /
      multimodal); everything else stays JVM-side.
    - Generated-class cache of 1000 entries, not Spark's 100. Measured
      at sf0.001 on ``local[4]``: the benchmark's seven-query sample
      generates 110 classes in a cold pass, so at 100 a warm pass
      recompiled 79 of them; at 1000 it recompiles 0-4. A two-scale
      oracle sweep of the whole registry still compiles ~9,100 classes
      (12,500 at 100), so the cache holds a few dozen recent queries,
      not the suite; Metaspace at the end of that sweep was 227 MiB
      (221 MiB at 100).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # static: read once when the JVM first generates code
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # testdata events.parquet carries TIMESTAMP(NANOS); Spark has no
        # nanos timestamp — read as long, normalized in suite loading
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        # Long-running-driver hygiene: the app status store retains
        # up to 1000 SQL executions (full plan-description strings +
        # per-node metrics) even with the UI off. Wide plans here (LSH
        # explode chains, AQE re-plans) make those strings MB-sized, so
        # an unbounded store degrades a driver that serves hundreds of
        # queries per session. Keep only a short recent window.
        .config("spark.ui.retainedJobs", "50")
        .config("spark.ui.retainedStages", "50")
        .config("spark.ui.retainedTasks", "500")
        .config("spark.sql.ui.retainedExecutions", "8")
        .config("spark.worker.ui.retainedExecutors", "10")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def release_cached(spark: SparkSession) -> None:
    """Drop every cached block in the session: the harness half of the
    cache contract in ``operators/caching.py``.

    A long-lived session serving many suite queries calls
    ``release_cached(spark)`` between them (``tools/harness.run_query``
    does it after every query it runs, and ``tools/check_oracle.py``
    before each check); suite queries persist outside the
    operators too, so only a session-wide sweep covers them. A library
    caller that must keep its own caches uses
    ``operators.caching.cache_scope`` instead, which releases exactly
    what the operators pinned inside it. Covers both catalog-cached
    plans and directly-persisted RDD blocks (``localCheckpoint``
    output is NOT in the catalog and leaks without the RDD sweep).
    """
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(False)

