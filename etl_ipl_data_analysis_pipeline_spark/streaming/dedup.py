"""Streaming deduplication (L6 / X1-on-arrival): drop duplicate keys as
events stream in, with watermark-bounded state.

The LLM-ingest shape: documents arrive continuously; exact re-crawls must
be dropped before they hit the expensive near-dup/curation stages.
``dropDuplicatesWithinWatermark`` keeps the first row per key and evicts a
key's state once the watermark passes its event time — so state is bounded
by (arrival rate x watermark), not by corpus history, which is what lets
the operator run forever on an unbounded stream. A duplicate arriving
later than the watermark re-admits the key; batch exact dedup downstream
(operators/dedup.py) remains the terminal guarantee.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def deduped_stream(events: DataFrame, ts_col: str = "ts") -> DataFrame:
    """First-seen row per (user_id, event_type) within a 30-minute
    watermark horizon. The emitted row for a key is whichever duplicate
    arrived first (arrival order, not event-time order) — callers that
    need a deterministic representative project to the key columns or
    re-aggregate downstream."""
    return events.withWatermark(ts_col, "30 minutes").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
