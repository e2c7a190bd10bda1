"""Incremental file processing as a Structured Stream (SURVEY §2.9 L1/L3).

Reference semantics: poll a landing zone, process only files not yet seen,
record them as done (final_DAG.py:61-73 ledger; stream_upload_to_s3.py:37-46
object-at-a-time upload). Spark-first, the checkpoint's file-source offset
log IS that ledger: ``Trigger.AvailableNow`` drains everything currently
unprocessed and stops, so re-running the same pipeline is idempotent — the
second run commits zero new files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..io import overwrite_parquet, recover_swapped


def _stream_reader(spark: SparkSession, path: str, fmt: str, schema):
    """File-source streams require a directory basePath; for a single-file
    fixture, stream the parent directory with a glob filter on the name."""
    reader = spark.readStream.schema(schema).format(fmt)
    if os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    return reader.load(path)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture. Schema comes from a
    static read (file streams require one up front); the TIMESTAMP(NANOS)
    conf + long→timestamp normalization match the batch loader so plans are
    interchangeable."""
    from ..plans import ensure_read_confs, normalize_nanos_ts, table_path

    ensure_read_confs(spark)
    path = table_path(sf_dir, "events")
    schema = spark.read.parquet(path).schema
    return normalize_nanos_ts(_stream_reader(spark, path, "parquet", schema))


def file_stream_pipeline(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    checkpoint: str,
    transform=None,
    fmt: str = "parquet",
) -> int:
    """Drain all currently-unprocessed files from ``src_path`` through
    ``transform`` into ``dst_path``, exactly once per file across runs.

    Returns the number of micro-batches executed this run (0 when nothing
    new — the run-twice idempotency contract). The checkpoint directory
    carries the processed-file log; deleting it reprocesses from scratch.
    """
    from ..plans import ensure_read_confs

    ensure_read_confs(spark)
    schema = spark.read.format(fmt).load(src_path).schema
    stream = _stream_reader(spark, src_path, fmt, schema)
    if transform is not None:
        stream = transform(stream)
    query = (
        stream.writeStream.format("parquet")
        .option("path", dst_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    progress = query.recentProgress
    return sum(1 for p in progress if p["numInputRows"] > 0)


def drain(stream_df: DataFrame, apply_batch, checkpoint: str) -> None:
    """Run ``apply_batch(batch, batch_id)`` on every micro-batch of
    ``stream_df`` available now (``foreachBatch`` under
    ``Trigger.AvailableNow``) and return once the source is drained. The
    checkpoint at ``checkpoint`` records which input is done, so a rerun
    sees only what arrived since; a batch whose effects landed before its
    checkpoint commit is re-delivered, and every caller's fold absorbs
    that replay."""
    (
        stream_df.writeStream.foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint)
        .start()
        .awaitTermination()
    )


def fold_into(incoming: DataFrame, path: str, merge) -> None:
    """Crash-safely overwrite the parquet state at ``path`` with
    ``merge(current, incoming)``, or with ``incoming`` alone when no
    state exists yet. recover_swapped (not a bare exists): a crash
    mid-swap must not read as "no state yet" — the checkpoint already
    marks prior batches committed, so rebuilding from this batch alone
    would silently drop all accumulated state."""
    sess = incoming.sparkSession
    if recover_swapped(sess, path):
        incoming = merge(sess.read.parquet(path), incoming)
    overwrite_parquet(incoming, path)


def checkpoint_dir(base: str, name: str) -> str:
    path = os.path.join(base, f"__checkpoint_{name}")
    os.makedirs(path, exist_ok=True)
    return path
