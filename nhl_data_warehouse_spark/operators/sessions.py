"""Batch sessionization — gap-based sessions without streaming state.

Streaming sessionization lives in ``streaming/windows.py``
(``session_window``); this is the batch twin expressed with plain
window functions so it is SQL-oracle-checkable and runs anywhere:
a session breaks when the gap to the previous event (per key) exceeds
the threshold; session ids are running counts of breaks.

One shuffle (partition by key) + one sort — the minimal cost for any
order-dependent per-key computation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize_batch(
    events: DataFrame,
    *,
    gap_minutes: int = 30,
) -> DataFrame:
    """One row per session: user_id, session_id (1-based per user),
    event count, start/end timestamps. Ordering ties broken by
    ``event_id`` so results are deterministic."""
    gap_us = gap_minutes * 60 * 1_000_000
    w_order = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    with_break = events.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.unix_micros("ts")
            - F.unix_micros(F.lag("ts").over(w_order))
            > F.lit(gap_us),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("is_break"),
    )
    w_run = w_order.rowsBetween(Window.unboundedPreceding, 0)
    with_session = with_break.select(
        "user_id",
        "ts",
        (F.sum("is_break").over(w_run) + 1).alias("session_id"),
    )
    return with_session.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


def event_transitions(events: DataFrame) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    streams: for each (from_type, to_type) pair, the observed count
    and the conditional probability P(to | from) — the
    path-analysis / next-action model product analytics builds on
    top of sessionization.

    Scale design: one keyed window per user (lead over the user's
    time-ordered stream — partitioned, never global), then a
    dimension-squared aggregation (event types are a small vocab);
    the per-from totals come from a second tiny agg joined back.
    Probability is one double division of exact counts — engine-
    stable without rounding. The last event per user has no
    successor and drops out (standard convention).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    pairs = (
        events.select(
            F.col("user_id"),
            F.col("event_type").alias("from_type"),
            F.col("ts"),
            F.col("event_id"),
        )
        .withColumn("to_type", F.lead("from_type").over(w))
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = pairs.groupBy("from_type").agg(F.sum("n").cast("long").alias("n_from"))
    return (
        pairs.join(F.broadcast(totals), on="from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            (F.col("n") / F.col("n_from").cast("double")).alias("p"),
        )
    )


def window_funnel(
    events: DataFrame,
    window_seconds: int,
) -> DataFrame:
    """Windowed ordered funnel (the ClickHouse ``windowFunnel`` shape):
    per user, the deepest step of the view -> click -> purchase
    sequence completed strictly in order within ``window_seconds`` of
    the ANCHOR (view) event — unlike
    the unbounded ordered funnel, a user who converts a week later
    does not count. Returns (user, funnel_level).

    Correctness: per (user, anchor) the chain keeps only the EARLIEST
    next-step event — greedy-earliest maximizes the remaining window,
    so it reaches level L iff any event choice does. Scale: each hop
    is a per-user equi-join whose time predicate bounds fan-out, then
    a (user, anchor) min — partial-agg keyed shuffles; anchors bound
    intermediate cardinality by the step-1 event count.
    """
    w = F.expr(f"INTERVAL {int(window_seconds)} SECONDS")
    anchors = events.filter(F.col("event_type") == "view").select(
        F.col("user_id"),
        F.col("ts").alias("_t1"),
        F.col("ts").alias("_tprev"),
    )
    levels = anchors.select("user_id").distinct().select(
        F.col("user_id"), F.lit(1).alias("funnel_level")
    )
    cur = anchors
    for depth, step in enumerate(["click", "purchase"], start=2):
        nxt = events.filter(F.col("event_type") == step).select(
            F.col("user_id"), F.col("ts").alias("_tn")
        )
        cur = (
            cur.join(nxt, on="user_id")
            .filter(
                (F.col("_tn") > F.col("_tprev"))
                & (F.col("_tn") <= F.col("_t1") + w)
            )
            .groupBy("user_id", "_t1")
            .agg(F.min("_tn").alias("_tprev"))
        )
        levels = levels.unionByName(
            cur.select("user_id")
            .distinct()
            .select(F.col("user_id"), F.lit(depth).alias("funnel_level"))
        )
    return levels.groupBy("user_id").agg(F.max("funnel_level").alias("funnel_level"))
