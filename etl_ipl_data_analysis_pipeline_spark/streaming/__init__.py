"""Structured Streaming surface (SURVEY.md §2.9 L5/L6).

The reference's only genuinely stream-shaped behavior is incremental
file processing — discover-new, process-once, mark-done
(final_DAG.py:61-73, stream_upload_to_s3.py:37-46). Spark-first that is a
file-source stream with a checkpoint and ``Trigger.AvailableNow``: each
run drains exactly the files not yet committed to the checkpoint, then
stops — the ledger becomes Spark's own offset log.

- :mod:`.windows`     — event-time window aggregations (tumbling/sliding/
  session) with watermarks; the same expressions as the batch queries in
  ``plans/streaming_q.py`` (tests prove batch/stream equivalence).
- :mod:`.incremental` — checkpointed AvailableNow file pipeline (L1/L3
  streaming twin) and :func:`.incremental.drain`.
- :mod:`.stateful`    — custom stateful operator via
  ``applyInPandasWithState`` (L6).
- :mod:`.cdc`         — foreachBatch latest-row state maintenance
  (streaming CDC-apply; micro-batch-boundary independent), plain or
  into a versioned snapshot table.
- :mod:`.sketch_stream` — foreachBatch folds into persisted state: KMV,
  count, Bloom and signature-index states, the near-duplicate pair
  streams, and streaming BM25 index maintenance.
- :mod:`.snapshot_ingest` — one snapshot-table version per micro-batch,
  exactly once.
- :mod:`.changefeed`  — snapshot change feed mirrored into another
  table.
- :mod:`.joins`       — stream-stream joins with watermarks.
- :mod:`.dedup`       — watermark-bounded exact dedup on arrival.

Every foreachBatch stream above drains through one helper,
:func:`.incremental.drain` (``Trigger.AvailableNow``, checkpointed).
"""

from .cdc import latest_per_key, run_cdc_apply
from .dedup import deduped_stream
from .incremental import checkpoint_dir, file_stream_pipeline, read_events_stream
from .stateful import user_running_totals
from .windows import (
    run_available_now,
    session_stream,
    sliding_stream,
    tumbling_stream,
)

__all__ = [
    "deduped_stream",
    "latest_per_key",
    "run_cdc_apply",
    "file_stream_pipeline",
    "checkpoint_dir",
    "read_events_stream",
    "run_available_now",
    "session_stream",
    "sliding_stream",
    "tumbling_stream",
    "user_running_totals",
]
