"""Streaming joins (beyond-reference, SURVEY.md §2.7).

Two shapes every event pipeline needs that the reference's batch-only
world never exercises:

- **stream-stream interval join** (ad-attribution shape): match events
  from two live streams on a key within an event-time range. Both
  sides carry watermarks so Spark can bound the join state buffer —
  without the time-range condition + watermarks the state grows
  forever; with them, rows are evicted as soon as the watermark passes
  the interval upper bound.
- **stream-static enrichment**: join a stream against a slowly-changing
  dimension table. The static side is re-read per micro-batch (so dim
  updates are picked up) and broadcast — no shuffle of the stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    upper: str = "15 minutes",
    streaming: bool = True,
    how: str = "inner",
) -> DataFrame:
    """Event-time interval join: pair a left event with the right
    events of the same ``user_id`` whose ``r_ts`` falls within (ts,
    ts + upper]. State note: the watermark on BOTH inputs plus the
    bounded time range is what lets the stream-stream join evict
    buffered rows; the 30-minute watermark must cover ``upper`` + max
    expected skew between streams. On batch frames the same expression
    is a plain range join (watermarks are no-ops), which the tests use
    as the twin.

    ``how="leftOuter"`` additionally emits null-padded left rows whose
    interval produced no match — but ONLY once the watermark passes
    the row's interval upper bound (Spark cannot know earlier that no
    match is coming). A finite run must therefore advance the
    watermark past the data (e.g. a far-future heartbeat row in a
    final micro-batch — the sentinel-flush pattern) or the trailing
    unmatched rows stay buffered forever."""
    lhs = left.withWatermark("ts", "30 minutes") if streaming else left
    rhs = right.withWatermark("r_ts", "30 minutes") if streaming else right
    cond = (
        (lhs["user_id"] == rhs["r_user_id"])
        & (rhs["r_ts"] > lhs["ts"])
        & (rhs["r_ts"] <= lhs["ts"] + F.expr(f"INTERVAL {upper}"))
    )
    return lhs.join(rhs, cond, how)


def enrich_stream(stream: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static join: broadcast the dimension under every
    micro-batch so the stream never shuffles. The dim is re-planned
    per batch — updates to the underlying table are visible without
    restarting the query."""
    return stream.join(F.broadcast(dim), on="user_id", how="left")
