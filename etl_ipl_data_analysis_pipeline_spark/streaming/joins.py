"""Stream-stream joins under Structured Streaming (SURVEY §2.9 L5/L6
extension): correlate two live event streams with bounded state.

The canonical event-pipeline shape: purchases joined to the views that
preceded them within an attribution window. Both sides carry watermarks
and the join condition carries a time bound — Spark uses the two to
compute exactly how long each side's rows must be retained, so state
stays O(window), not O(stream).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def attributed_purchases(purchases: DataFrame, views: DataFrame) -> DataFrame:
    """Inner stream-stream join: each purchase paired with every view by
    the same user in the preceding hour (the attribution window), both
    sides watermarked at 2 hours.

    Works identically on batch DataFrames (same expressions, time-range
    condition becomes a plain theta join) — the equivalence test runs both.
    At 100 TB-of-events scale the watermark is the knob that bounds the
    join state; without it Spark must keep every view forever.
    """
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("purchase_value"),
    )
    v = views.select(
        F.col("event_id").alias("view_id"),
        F.col("user_id"),
        F.col("ts").alias("v_ts"),
    )
    if purchases.isStreaming:
        p = p.withWatermark("p_ts", "2 hours")
        v = v.withWatermark("v_ts", "2 hours")
    cond = (
        (p["user_id"] == v["user_id"])
        & (v["v_ts"] <= p["p_ts"])
        & (v["v_ts"] >= p["p_ts"] - F.expr("INTERVAL 1 hour"))
    )
    return p.join(v, cond, "inner").select(
        "purchase_id", p["user_id"].alias("user_id"), "p_ts", "purchase_value", "view_id", "v_ts"
    )


def attributed_purchases_outer(purchases: DataFrame, views: DataFrame) -> DataFrame:
    """LEFT OUTER stream-stream join (same 1-hour window and 2-hour
    watermarks): every purchase emits, attributed views attached when they exist and NULLs otherwise — the "conversion
    with unattributed remainder" report.

    Outer stream-stream joins are stricter than inner: Spark only emits
    the null-padded row once the watermark proves no matching view can
    still arrive, so unmatched purchases surface with watermark delay —
    and purchases newer than (max event time - watermark) when an
    AvailableNow run drains are retained in state, NOT emitted as
    unmatched (they might match in a later run). The batch form of the
    same expressions is a plain left join; the streaming test asserts
    the matched subset equals the batch inner join and every null-view
    emission is truly unattributed in batch."""
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("purchase_value"),
    )
    v = views.select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    if purchases.isStreaming:
        p = p.withWatermark("p_ts", "2 hours")
        v = v.withWatermark("v_ts", "2 hours")
    cond = (
        (p["user_id"] == v["v_user"])
        & (v["v_ts"] <= p["p_ts"])
        & (v["v_ts"] >= p["p_ts"] - F.expr("INTERVAL 1 hour"))
    )
    return p.join(v, cond, "left_outer").select(
        "purchase_id", "user_id", "p_ts", "purchase_value", "view_id", "v_ts"
    )
