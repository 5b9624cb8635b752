"""As-of (point-in-time) join — beyond-reference temporal operator.

The reference has no temporal joins (SURVEY.md §2.3: "as-of/range
become beyond-reference extensions"); this supplies the standard
"latest right-side row at or before each left timestamp" join that
feature-store / training-data pipelines need.

Spark-first design: NOT a per-row lookup and NOT a non-equi join
explosion. Both sides are tagged and unioned, shuffled ONCE on the
join key, sorted by event time within each key partition, and the
right-side payload is propagated forward with
``last(..., ignorenulls=True)`` over a running window. Cost is one
shuffle + one sort — the same profile as a sort-merge join — and it
scales linearly with rows per key regardless of how many right rows
precede each left row (the naive theta-join is quadratic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_on: str,
    right_on: str,
    left_time: str,
    right_time: str,
    payloads: list[str],
    direction: str = "backward",
) -> DataFrame:
    """For each left row, attach the nearest right-side ``payloads`` in
    ``direction``: "backward" = most recent with ``right_time <=
    left_time``, "forward" = earliest with ``right_time >=
    left_time``. Left rows with no match in that direction get NULL
    payloads (left-outer as-of semantics). Same one-shuffle one-sort
    cost either way.

    Tie handling at equal timestamps is deterministic: a right row at
    the left row's time matches (both bounds inclusive). If multiple right
    rows share the same (key, time), the propagated payload is the one
    that sorts last among them by input order of ``payloads`` values —
    callers that need full determinism under such ties should pass a
    time-unique right side (e.g. pre-aggregated) or include the
    matched ``right_time`` in outputs instead of a tied attribute.
    """
    assert direction in ("backward", "forward")
    # __src orders right rows relative to left rows at EQUAL time; that
    # relative order is what makes the bounds inclusive (<=, >=).
    # backward: window looks back, so right rows at a tie sort BEFORE
    # left (0). forward: window looks ahead, so they sort AFTER (2).
    r_src = 0 if direction == "backward" else 2
    l_tagged = left.withColumn("__k", F.col(left_on)).withColumn(
        "__t", F.col(left_time)
    ).withColumn("__src", F.lit(1))
    r_tagged = right.select(
        F.col(right_on).alias("__k"),
        F.col(right_time).alias("__t"),
        F.lit(r_src).alias("__src"),
        *[F.col(c).alias(f"__p_{c}") for c in payloads],
    )
    unioned = l_tagged.unionByName(r_tagged, allowMissingColumns=True)

    base = Window.partitionBy("__k").orderBy(F.col("__t").asc(), F.col("__src").asc())
    if direction == "backward":
        w = base.rowsBetween(Window.unboundedPreceding, 0)
        pick = lambda c: F.last(f"__p_{c}", ignorenulls=True).over(w)  # noqa: E731
    else:
        w = base.rowsBetween(0, Window.unboundedFollowing)
        pick = lambda c: F.first(f"__p_{c}", ignorenulls=True).over(w)  # noqa: E731
    filled = unioned.select(
        "*",
        *[pick(c).alias(f"__f_{c}") for c in payloads],
    )
    out_cols = [c for c in left.columns] + [
        F.col(f"__f_{c}").alias(f"asof_{c}") for c in payloads
    ]
    return filled.filter(F.col("__src") == 1).select(*out_cols)


def pit_join(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    ts_col: str,
    how: str = "left",
) -> DataFrame:
    """Point-in-time join of a fact stream to an SCD2 dimension: each
    fact row picks the dimension version whose validity interval
    covers the fact's event time (``valid_from <= ts < valid_to``,
    NULL valid_to = open) — the feature-store correctness join that
    prevents training-serving leakage from joining TODAY's attributes
    onto YESTERDAY's events.

    Plan shape: an EQUI-join on the key with the interval predicate as
    a join filter — co-partitioned hash join (or broadcast for a
    bounded dimension), never a range-bucket join, because the version
    count per key is small by SCD2 construction. With a correct SCD2
    table (non-overlapping intervals) at most one version matches.
    """
    f, d = facts.alias("__f"), dim.alias("__d")
    cond = (
        (F.col(f"__f.{key}") == F.col(f"__d.{key}"))
        & (F.col(f"__f.{ts_col}") >= F.col("__d.valid_from"))
        & (
            F.col("__d.valid_to").isNull()
            | (F.col(f"__f.{ts_col}") < F.col("__d.valid_to"))
        )
    )
    dim_cols = [
        c for c in dim.columns if c not in (key, "valid_from", "valid_to")
    ]
    # dim payloads keep their own names next to __f.* — that is only
    # well-formed when the names are disjoint from the fact columns
    # (unlike as_of_join, which prefixes with asof_). Fail loudly
    # instead of emitting a frame with duplicate column names.
    clash = sorted(set(dim_cols) & set(facts.columns))
    if clash:
        raise ValueError(
            f"pit_join: dimension payload columns {clash} collide with "
            "fact columns; rename them on the dim side before joining"
        )
    return f.join(d, cond, how).select(
        "__f.*", *[F.col(f"__d.{c}").alias(c) for c in dim_cols]
    )
