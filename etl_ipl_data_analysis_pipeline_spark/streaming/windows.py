"""Event-time window aggregations under Structured Streaming (SURVEY §2.9
L5). These build the SAME logical expressions as the batch queries in
``plans/streaming_q.py`` — one definition of the aggregation, two execution
modes; tests assert the outputs match.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions import stable_sum


def tumbling_stream(events: DataFrame) -> DataFrame:
    """10-minute tumbling event-time windows per event_type (streaming
    twin of the window_tumbling batch query). The 30-minute watermark
    bounds state: windows older than max(event time) - watermark finalize
    and evict."""
    return (
        events.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            stable_sum("value", 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value"
        )
    )


def sliding_stream(events: DataFrame) -> DataFrame:
    """10-minute windows sliding by 5 minutes, 30-minute watermark
    (streaming twin of window_sliding)."""
    return (
        events.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            stable_sum("value", 2).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


def session_stream(events: DataFrame) -> DataFrame:
    """Session windows per user with a 30-minute gap (streaming twin of
    window_session). session_window requires a watermark under streaming
    — state for a session closes once the 30-minute watermark passes its
    gap."""
    return (
        events.withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            stable_sum("value", 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


def run_available_now(
    sdf: DataFrame, query_name: str, output_mode: str = "complete"
) -> DataFrame:
    """Execute a streaming aggregation with Trigger.AvailableNow into an
    in-memory sink and return the result table.

    complete mode re-emits every window each batch — with AvailableNow that
    is the full result, directly comparable to the batch query. append mode
    emits only watermark-finalized windows (windows still open when the
    source drains never appear), matching the window_tumbling_late_data
    batch projection.
    """
    spark = sdf.sparkSession
    query = (
        sdf.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table(query_name)
