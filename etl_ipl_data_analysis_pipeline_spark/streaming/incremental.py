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

from ..io import overwrite_parquet, recover


def _stream_reader(spark: SparkSession, path: str, schema):
    """Parquet file-source stream. File-source streams require a
    directory basePath; for a single-file fixture, stream the parent
    directory with a glob filter on the name."""
    reader = spark.readStream.schema(schema).format("parquet")
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
    return normalize_nanos_ts(_stream_reader(spark, path, schema))


def file_stream_pipeline(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    checkpoint: str,
) -> int:
    """Copy all currently-unprocessed parquet files from ``src_path``
    into ``dst_path``, exactly once per file across runs.

    Returns the number of micro-batches executed this run (0 when nothing
    new — the run-twice idempotency contract). The checkpoint directory
    carries the processed-file log; deleting it reprocesses from scratch.
    """
    from ..plans import ensure_read_confs

    ensure_read_confs(spark)
    schema = spark.read.parquet(src_path).schema
    stream = _stream_reader(spark, src_path, schema)
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
    state exists yet. io.recover (not a bare exists) finishes a commit a
    crash tore: read mid-commit, the state would show old and new rows
    at once, and read as absent, it would be rebuilt from this batch
    alone although the checkpoint marks prior batches committed."""
    sess = incoming.sparkSession
    if recover(sess, path):
        incoming = merge(sess.read.parquet(path), incoming)
    overwrite_parquet(incoming, path)


def checkpoint_dir(base: str, name: str) -> str:
    path = os.path.join(base, f"__checkpoint_{name}")
    os.makedirs(path, exist_ok=True)
    return path
