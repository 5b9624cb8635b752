"""Event-time streaming operators (beyond-reference, SURVEY.md §2.6/§2.7).

Tumbling-window aggregation with watermarked late-data handling, and
gap-based sessionization via ``session_window`` — the two stateful
shapes a telemetry/training-data stream needs. Each has a batch twin
(same logical result on a static frame) used by the correctness
oracle, since the streaming and batch plans share Catalyst semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_counts(
    events: DataFrame,
    watermark: str = "2 hours",
    streaming: bool = False,
) -> DataFrame:
    """Tumbling event-time window: count + value sum per
    (window, event_type). On a stream, the watermark bounds state and
    admits late data up to the threshold; on a batch frame the same
    expression is a plain group-by (watermark is a no-op)."""
    src = events.withWatermark("ts", watermark) if streaming else events
    return (
        src.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_event_counts(
    events: DataFrame,
    streaming: bool = False,
) -> DataFrame:
    """Sliding (hopping) event-time window: 1-hour windows every 30
    minutes, so each event lands in two overlapping windows — the
    moving-average / rate-monitor shape. Same watermark semantics as
    the tumbling form; state scales with the number of open windows
    per key, i.e. twice the tumbling state."""
    src = events.withWatermark("ts", "2 hours") if streaming else events
    return (
        src.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def dedup_events_stream(
    events: DataFrame,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exactly-once event dedup: drop rows whose ``event_id``
    was already seen, keeping state only within the watermark —
    ``dropDuplicatesWithinWatermark`` bounds the seen-keys state (the
    unbounded-state problem plain dropDuplicates has on a stream).
    The at-least-once -> exactly-once repair every event pipeline
    needs in front of its sinks."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def sessionize(
    events: DataFrame,
    streaming: bool = False,
) -> DataFrame:
    """Gap-based sessions per user via ``session_window`` — state
    merges windows closer than 30 minutes; the canonical stateful
    streaming op (replaces a hand-rolled applyInPandasWithState for
    this shape, which Spark already expresses natively)."""
    src = events.withWatermark("ts", "30 minutes") if streaming else events
    return (
        src.groupBy(F.session_window("ts", "30 minutes").alias("s"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )
