"""Streaming CDC-apply (L6): maintain a latest-row-per-key table from an
event stream with ``foreachBatch``.

The materialized view every warehouse keeps: "current value per key",
updated as changes stream in. Each micro-batch is reduced to its own
arg-max per key (one partial-agged shuffle of O(batch)), then merged into
the persisted state by re-running the same arg-max over
``state UNION batch-latest`` — an associative, commutative merge, so the
result is independent of how the stream was micro-batched (proven in
tests/test_streaming.py by comparing 1-file-per-trigger against
one-shot). State writes go through incremental.fold_into's temp-path +
atomic-rename swap so a crashed batch never leaves a torn table;
re-running a batch is idempotent because the merge is.

At fleet scale the state table is O(live keys), not O(event history) —
each batch shuffles O(batch + live keys touched), never the history.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from .incremental import drain, fold_into


def latest_per_key(
    df: DataFrame,
    keys: list[str],
    order_cols: list[str],
) -> DataFrame:
    """Arg-max rows: for each key, the row with the greatest (order_cols)
    tuple. The composite tiebreak makes the winner total-ordered and hence
    deterministic under any partitioning."""
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order_cols])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def run_cdc_apply(
    stream_df: DataFrame,
    state_path: str,
    keys: list[str],
    order_cols: list[str],
) -> DataFrame:
    """Drain ``stream_df`` with Trigger.AvailableNow, folding each
    micro-batch into the latest-row state table at ``state_path``; returns
    the final state. The per-batch reduction runs BEFORE the merge, so the
    union never carries raw events."""
    spark = stream_df.sparkSession

    def apply_batch(batch: DataFrame, _batch_id: int) -> None:
        fold_into(
            latest_per_key(batch, keys, order_cols),
            state_path,
            lambda current, incoming: latest_per_key(
                current.unionByName(incoming), keys, order_cols
            ),
        )

    drain(stream_df, apply_batch, f"{state_path}.__ckpt__")
    return spark.read.parquet(state_path)


def run_snapshot_cdc_stream(
    stream_df: DataFrame,
    table_path: str,
    keys: list[str],
    order_cols: list[str],
    checkpoint: str | None = None,
    compact_every: int | None = None,
    expire_retain: int | None = None,
    delete_col: str | None = None,
) -> DataFrame:
    """CDC-apply INTO a versioned snapshot table: each micro-batch
    reduces to its arg-max per key, resolves winners against the rows
    the table currently holds for those keys, and lands as ONE
    file-granular copy-on-write MERGE version — the batch id rides the
    merge's manifest, so the exactly-once replay marker and the upsert
    share one atomic rename (the run_snapshot_ingest_stream pattern,
    composed with snapshot_merge).

    vs ``run_cdc_apply``: per-batch cost is O(touched files) instead of
    a whole-state rewrite (the merge probe is pruned by the manifests'
    per-file key-range stats), and every batch's state is TIME-TRAVELABLE
    (as-of version k = state after batch k; retention via maintenance).
    Out-of-order delivery ACROSS batches cannot regress a key: the
    winners relation arg-maxes ``current rows for the incoming keys
    UNION the batch arg-max`` over the same total order, so a stale
    batch re-asserts the existing row rather than overwriting it —
    micro-batch-boundary independence is pinned in tests against the
    one-shot arg-max. ``compact_every``/``expire_retain`` bound file and
    version counts exactly as in run_snapshot_ingest_stream.

    ``delete_col`` (a boolean column on the stream) makes this a FULL
    CDC apply: an event whose marker is true is a DELETE op — if it
    wins its key's arg-max, the key is REMOVED from the table (one
    tombstone-aware snapshot_merge, still one atomic rename per batch);
    if a newer live event exists, the delete loses exactly like any
    stale event. The marker never lands in the table, so existing rows
    read as upserts (NULL marker) during winner resolution, and a
    replayed or out-of-order delete cannot resurrect or re-delete
    anything the arg-max already settled.

    Returns the final table state."""
    from .. import snapshots as sn

    spark = stream_df.sparkSession
    committed = 0

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        nonlocal committed
        sess = batch.sparkSession
        last = sn.snapshot_latest_batch_id(sess, table_path)
        if last is not None and int(batch_id) <= last:
            return  # re-delivered batch: its merge already committed
        incoming = latest_per_key(batch, keys, order_cols)
        if incoming.limit(1).count() == 0:
            return
        # O(1) head discovery (HEAD hint + probe): this runs EVERY
        # micro-batch, and a long-lived maintained ingest accumulates
        # thousands of versions — a directory listing per batch would
        # grow linearly with table age
        head_v = sn._head_version(sess, table_path)
        if head_v is not None:
            # the winner-resolution read needs only rows whose key the
            # batch touches: prune the scan by the incoming key range
            # (manifest footer stats / partition dirs), so a clustered
            # table reads a handful of files, not the state. Composite
            # keys prune on the LEADING column (the necessary-condition
            # rule _prune_by_key_stats uses: a file whose leading-column
            # range misses every incoming value can't hold a full-key
            # match), and when the table is Hive-partitioned on any key
            # column, that column's incoming min/max prunes DIRECTORIES
            # too — triples compose conjunctively.
            head_m = sn._read_manifest(sess, table_path, head_v)
            prune_cols = [keys[0]] + [
                c
                for c in (head_m.get("partition_by") or [])
                if c in keys and c != keys[0]
            ]
            aggs = []
            for i, c in enumerate(prune_cols):
                aggs += [F.min(c).alias(f"lo{i}"), F.max(c).alias(f"hi{i}")]
            r = incoming.agg(*aggs).collect()[0]
            prune = [
                (c, r[f"lo{i}"], r[f"hi{i}"])
                for i, c in enumerate(prune_cols)
                if r[f"lo{i}"] is not None
            ]
            current = sn.snapshot_read(sess, table_path, prune=prune or None)
            existing = current.join(
                incoming.select(*keys).distinct(), keys, "left_semi"
            )
            # allowMissingColumns: a schema-evolved table keeps its extra
            # columns (incoming rows fill NULL), and a widening batch
            # evolves the table through the merge's additive rule
            winners = latest_per_key(
                existing.unionByName(incoming, allowMissingColumns=True),
                keys,
                order_cols,
            )
            sn.snapshot_merge(
                winners,
                table_path,
                keys,
                batch_id=int(batch_id),
                delete_col=delete_col,
            )
        else:
            first = incoming
            if delete_col is not None:
                # no table yet: tombstones have nothing to delete; the
                # marker is an op-code, never data
                first = incoming.filter(
                    ~F.coalesce(F.col(delete_col), F.lit(False))
                ).drop(delete_col)
            sn.snapshot_commit(
                first, table_path, "append", batch_id=int(batch_id)
            )
        committed += 1
        if compact_every and committed % compact_every == 0:
            sn.snapshot_compact(sess, table_path)
            if expire_retain:
                sn.snapshot_expire(
                    sess, table_path, keep_last=expire_retain, staging_grace_s=0
                )

    drain(
        stream_df, apply_batch, checkpoint or table_path.rstrip("/") + "__checkpoint"
    )
    return sn.snapshot_read(spark, table_path)
