"""Query registry backing the driver contract."""

from __future__ import annotations

import os
import stat
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str  # DuckDB-runnable ANSI SQL
    op_ids: str  # SURVEY.md §2 operator ids exercised
    description: str


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, *, oracle: str, op_ids: str, description: str):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            # silent overwrite shrank the registry twice in round 12
            # (duplicate Benford / Count-Min implementations, caught
            # only by hand — VERDICT r12 item 2): a name collision
            # must fail the import, not drop a query
            raise ValueError(
                f"duplicate query registration: {name!r} is already "
                "registered — pick a distinct name (register() never "
                "overwrites; see duplicate-query-prevention notes)"
            )
        REGISTRY[name] = QuerySpec(name, fn, oracle, op_ids, description)
        return fn

    return deco


def normalize_timestamps(df: DataFrame, table: str | None = None) -> DataFrame:
    """Normalize driver-shaped timestamp encodings to plain TIMESTAMP.

    Two parquet shapes occur in the wild:

    - TIMESTAMP(NANOS), which Spark reads as a nanosecond long under
      ``spark.sql.legacy.parquet.nanosAsLong`` (``events.ts`` only);
      truncate ns→µs exactly like DuckDB's cast to its µs TIMESTAMP.
    - TIMESTAMP(MICROS) with isAdjustedToUTC=false, which Spark reads
      as TIMESTAMP_NTZ. The session timezone is pinned UTC, so casting
      to TIMESTAMP is a pure re-tagging — no instant shift — and it
      restores compatibility with ``unix_micros``/``window`` etc.
    """
    from pyspark.sql import functions as F

    if table == "events" and dict(df.dtypes).get("ts") == "bigint":
        # integer `div`, NOT `/`: float division of ns-since-epoch
        # longs exceeds double's 2^53 mantissa and loses microseconds
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    """Read the named driver parquet tables, timestamps normalized.

    The session timezone is pinned to UTC here because the external
    driver owns the SparkSession: every oracle (and the TIMESTAMP_NTZ
    -> TIMESTAMP re-tagging above) assumes UTC wall clocks, and a
    non-UTC caller session would shift `window()` / hour-truncation
    boundaries (half-hour offsets shift them by 30 minutes). Runtime
    conf — takes effect for all subsequent query planning.
    """
    pin_session_defaults(spark)
    return [
        normalize_timestamps(read_parquet(spark, f"{sf_dir}/{n}.parquet"), n)
        for n in names
    ]


# inferred schema per parquet file version: (abspath, size, mtime_ns).
# Process-wide on purpose: a file version has one schema under the
# session defaults ``pin_session_defaults`` sets, whichever session
# reads it; one small entry per file version ever read.
_SCHEMAS: dict[tuple[str, int, int], StructType] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers a file's schema once.

    Schema inference runs a Spark job that reads the file footer; a
    long-lived session reads each sf table many times, so the first
    read of a file version memoizes its schema and later reads pass it
    to ``.schema(...)`` and start no job. Only regular local files are
    memoized, keyed on path, size and ``st_mtime_ns``, so a file
    rewritten in place is inferred again; directories and non-local
    paths always infer.
    """
    try:
        st = os.stat(path)
    except OSError:  # a URI or a missing path: let Spark resolve it
        st = None
    key = None
    if st is not None and stat.S_ISREG(st.st_mode):
        key = (os.path.abspath(path), st.st_size, st.st_mtime_ns)
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    if key is not None:
        _SCHEMAS[key] = df.schema
    return df


def pin_session_defaults(spark: SparkSession) -> None:
    """Pin the caller session's semantics the suite depends on — also
    called by queries that read the testdata outside ``load`` (the
    streaming executions)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        # lets a caller session read TIMESTAMP(NANOS) parquet (the
        # round-1 testdata shape) as a long we then normalize; without
        # it the scan itself throws before normalization can run
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:  # noqa: BLE001 — static conf on some builds
        pass
