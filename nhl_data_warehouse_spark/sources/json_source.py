"""JSON stage loads — the ``COPY INTO`` VARIANT path (S7, S8, P12).

Reference behavior: ``include/sql/copy_into_nhl_api_*.sql`` parse each
staged JSON document (``parse_json($1)``), keep the whole document in a
``raw_json`` VARIANT column, and project top-level keys alongside the
audit columns. Spark-first: read each document as whole text
(``wholetext`` — one row per document, like one VARIANT row per staged
file), keep the raw string for reparse parity, and ``from_json`` with
an explicit StructType for the typed projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nhl_data_warehouse_spark.functions.cleaning import md5_key


def load_json_raw(
    spark: SparkSession,
    path_glob: str,
    schema: T.StructType,
) -> DataFrame:
    """Load staged JSON documents with audit columns + typed projection.

    Output columns mirror the reference raw tables
    (``copy_into_nhl_api_seasons.sql:3-9``): ``updated_at, raw_json,
    unique_key, source_file`` + one column per top-level key of ``schema``.
    ``unique_key = md5(filename || document)`` (reference line 6).
    """
    raw = (
        spark.read.text(path_glob, wholetext=True, pathGlobFilter="*.json")
        .select(
            F.col("value").alias("raw_json"),
            F.col("_metadata.file_name").alias("source_file"),
        )
    )
    parsed = raw.select(
        F.current_timestamp().alias("updated_at"),
        "raw_json",
        md5_key(F.col("source_file"), F.col("raw_json")).alias("unique_key"),
        "source_file",
        F.from_json("raw_json", schema).alias("doc"),
    )
    return parsed.select(
        "updated_at",
        "raw_json",
        "unique_key",
        "source_file",
        *[F.col(f"doc.{f.name}").alias(f.name) for f in schema.fields],
    )


def guard_has_games(df: DataFrame) -> DataFrame:
    """Drop documents lacking a ``games`` payload (P14) — the Spark-side
    restatement of the extractor's ``if 'games' not in payload: skip``
    guard (reference ``nhl_api_dag.py:97-98``).
    """
    return df.filter(F.col("games").isNotNull())
