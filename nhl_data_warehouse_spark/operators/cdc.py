"""Change-data-capture compaction and apply (beyond-reference).

The reference's idempotency story is insert-only (md5 key anti-join,
``games.sql:11-13``); real warehouse feeds also carry updates and
deletes. This module adds the standard CDC shapes:

- **compact**: a change batch holds many versions per key; keep only
  the latest (by a total-ordered sequence), honoring delete tombstones.
- **apply**: merge the compacted batch into a target table so the
  table converges to the source's current state.

Scale stance: compaction is one shuffle on the key (window row_number
with partial ordering pushed into the sort); at 100 TB the change
batch, not the target, is what gets windowed — the target is touched
only by the keyed merge. A delete tombstone must *suppress* its key
even when older inserts for the key sit in the same batch, which is
why deletes are filtered after latest-version selection, not before.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def compact_changes(
    changes: DataFrame,
    keys: Sequence[str],
    seq_cols: Sequence[str],
    op_col: str | None = None,
    delete_values: Sequence[str] = ("D",),
) -> DataFrame:
    """Latest-wins compaction: one row per key — the one with the
    highest ``seq_cols`` tuple (include a unique column last so the
    order is total and the result deterministic). If ``op_col`` is
    given, keys whose latest row is a delete disappear entirely."""
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in seq_cols])
    latest = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    if op_col is not None:
        latest = latest.filter(~F.col(op_col).isin(list(delete_values)))
    return latest


def apply_changes(
    spark: SparkSession,
    target_table: str,
    changes: DataFrame,
    keys: Sequence[str],
) -> None:
    """Converge ``target_table`` to the source state described by a
    change batch: compact, then delete+upsert by key (the same staged
    overwrite strategy as ``write.merge_upsert``, extended with
    tombstone deletes). Idempotent: re-applying the same batch is a
    no-op."""
    from nhl_data_warehouse_spark import write

    latest = compact_changes(changes, keys, ["seq"])  # keep tombstones for now
    upserts = latest.filter(~F.col("op").isin(["D"]))
    if not write.table_exists(spark, target_table):
        upserts.write.saveAsTable(target_table)
        return
    target = spark.table(target_table)
    # drop every key present in the batch (updates AND deletes), then
    # re-insert the surviving latest versions
    remaining = target.join(F.broadcast(latest.select(*keys).distinct()), on=list(keys), how="left_anti")
    merged = remaining.unionByName(upserts)
    write.overwrite_table_staged(spark, merged, target_table)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str],
) -> DataFrame:
    """Key-level reconciliation of two table snapshots — the audit op
    behind "did the migration/backfill change what it should have":
    each key is classified ``added`` (only in new), ``removed`` (only
    in old), ``changed`` (both sides, any compared column differs,
    NULL-safely), or ``unchanged``. Returns (keys..., change_type).

    Scale: each side is reduced to (keys, md5 of the compared columns)
    BEFORE the full-outer join, so the shuffle carries one narrow row
    per key and the wide payload columns never move — the difference
    between diffing two 100 TB snapshots and diffing two key sets.
    NULLs are md5'd via a sentinel so NULL vs '' vs absent differ.
    """

    def fingerprint(df: DataFrame, side: str) -> DataFrame:
        fp = F.md5(
            F.concat_ws(
                "\x1f",
                *[
                    F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))
                    for c in compare_cols
                ],
            )
        )
        return df.select(*keys, fp.alias(f"_fp_{side}"))

    o = fingerprint(old, "old")
    n = fingerprint(new, "new")
    joined = o.join(n, on=list(keys), how="full_outer")
    change = (
        F.when(F.col("_fp_old").isNull(), F.lit("added"))
        .when(F.col("_fp_new").isNull(), F.lit("removed"))
        .when(F.col("_fp_old") != F.col("_fp_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(*keys, change.alias("change_type"))
