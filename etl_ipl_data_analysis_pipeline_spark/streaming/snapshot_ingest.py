"""Streaming ingest into a versioned snapshot table (L6 × SNK3/L3):
each micro-batch commits as ONE table version, so the ingest history
IS the time-travel history — "the table as of batch k" is a manifest
read, and downstream consumers pin a version while ingest keeps
appending (readers never see a torn batch: the manifest rename is the
commit point).

Exactly-once: the micro-batch id rides the manifest itself
(snapshot_commit(batch_id=...)), so the replay marker and the data
commit share one atomic rename — a re-delivered batch sees
latest_batch_id >= its own id and skips, the run_count_stream marker
pattern with zero extra state. Contract: one stream owner per table
(a fresh re-ingest from batch 0 needs a fresh table path, exactly as
a fresh checkpoint needs a fresh ledger elsewhere)."""

from __future__ import annotations

from pyspark.sql import DataFrame

from .. import snapshots as sn
from .incremental import drain


def run_snapshot_ingest_stream(
    stream_df: DataFrame,
    table_path: str,
    prep_fn=None,
    checkpoint: str | None = None,
    compact_every: int | None = None,
    expire_retain: int | None = None,
    target_mb: int = 128,
) -> int:
    """Drain ``stream_df`` (Trigger.AvailableNow) committing one snapshot
    version per non-empty micro-batch; returns the number of versions
    committed by THIS run. Appends are O(batch): the new manifest
    references the parent's files verbatim.

    Without maintenance, a long-lived ingest accumulates one version +
    one file set per micro-batch forever. ``compact_every=N`` folds the
    table into ~target_mb files (one extra 'replace' version) after
    every N data commits, and ``expire_retain=K`` then drops all but
    the newest K versions and their unreferenced files. Both reuse the
    snapshot commit machinery, so history stays readable until expiry
    and the exactly-once batch-id marker carries through (pinned in
    tests). Expire runs with grace 0: the stream is the table's single
    owner and runs maintenance between its OWN batches, so no foreign
    commit can be in flight."""
    committed = 0

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        nonlocal committed
        spark = batch.sparkSession
        out = prep_fn(batch) if prep_fn is not None else batch
        last = sn.snapshot_latest_batch_id(spark, table_path)
        if last is not None and int(batch_id) <= last:
            return  # re-delivered batch: already committed atomically
        if out.limit(1).count() == 0:
            return
        sn.snapshot_commit(out, table_path, mode="append", batch_id=int(batch_id))
        committed += 1
        if compact_every and committed % compact_every == 0:
            sn.snapshot_compact(spark, table_path, target_mb=target_mb)
            if expire_retain:
                sn.snapshot_expire(
                    spark, table_path, keep_last=expire_retain, staging_grace_s=0
                )

    drain(
        stream_df, apply_batch, checkpoint or table_path.rstrip("/") + "__checkpoint"
    )
    return committed
