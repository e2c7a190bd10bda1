"""Incremental downstream consumption of a snapshot table's change feed
(SNK3 × L2/L3): `mirror_snapshot_changes` keeps a DESTINATION snapshot
table equal to a SOURCE table by applying only the rows that changed
since the last sync — the polling consumer a 100 TB pipeline runs
instead of re-copying state (reference parity: the S3 folder promotion
in etl_glue_job.py:18-43 re-points whole prefixes; this replicates
row-level deltas with transactional semantics).

The consumer OFFSET is the destination's own batch-id marker: every
sync applies the changeset with ``batch_id = source head version``, so
the marker and the data land in ONE atomic manifest rename and a
re-delivered / crashed-and-retried sync is a no-op (the same
exactly-once pattern streaming ingest uses, reused as a cross-table
replication cursor — no side-channel state file to lose).

Scale: a sync reads snapshot_changes' O(churn) file diff, never the
source table; the merge into the destination is file-granular
copy-on-write. If the source's last-consumed version has been EXPIRED,
the sync falls back to one full-state reconciliation (exceptAll +
key anti-join) and then resumes incremental — correct at any retention
policy, merely slower for that one sync.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import SparkSession

from .. import snapshots as sn

_DEL = "__cdf_delete"


def mirror_snapshot_changes(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    key_cols: list[str],
) -> int:
    """Bring ``dst_path`` up to date with ``src_path`` (both snapshot
    tables; the source must be key-unique on ``key_cols``, e.g.
    merge/CDC-maintained). Returns the number of SOURCE versions
    consumed this call (0 = already current — calling again is free);
    expired versions inside the consumed range don't count, so the
    return is the count of manifests that actually existed in
    (last_cursor, source_head], not the cursor delta.

    First call bootstraps the destination with a full copy; afterwards
    each call diffs source head against the last-consumed version via
    the manifest-level change feed and applies inserts+postimages as
    upserts and deletes as tombstones in ONE atomic merge commit. The
    destination accepts ONLY mirror syncs (its batch-id lineage is the
    cursor); interleaving foreign writes to dst breaks the contract the
    same way two stream owners would."""
    src = src_path.rstrip("/")
    dst = dst_path.rstrip("/")
    src_versions = sn.snapshot_versions(spark, src)
    if not src_versions:
        raise ValueError(f"no committed snapshot at {src}")
    src_head = src_versions[-1]
    last = sn.snapshot_latest_batch_id(spark, dst)
    if last is None and sn.snapshot_versions(spark, dst):
        raise ValueError(
            f"snapshot mirror: {dst} exists but carries no sync cursor — "
            "it was not created by mirror_snapshot_changes"
        )
    if last is None:
        # bootstrap: one full copy, cursor = the version it captured
        sn.snapshot_commit(
            sn.snapshot_read(spark, src, src_head),
            dst,
            "append",
            batch_id=src_head,
        )
        return len(src_versions)
    if src_head <= last:
        return 0
    # count LIVE source versions in the consumed range — versions expired
    # from the source lineage were never consumable, so "src_head - last"
    # would overcount on any non-contiguous lineage
    consumed = len([v for v in src_versions if last < v <= src_head])
    if last in src_versions:
        ch = sn.snapshot_changes(spark, src, last, src_head, key_cols=key_cols)
        upserts = ch.filter(
            F.col("_change_type").isin("insert", "update_postimage")
        ).drop("_change_type").withColumn(_DEL, F.lit(False))
        dels = (
            ch.filter(F.col("_change_type") == "delete")
            .drop("_change_type")
            .withColumn(_DEL, F.lit(True))
        )
        changeset = upserts.unionByName(dels)
    else:
        # the cursor version was expired on the source: reconcile the two
        # FULL states once (rows differing by content upsert; destination
        # keys missing from the source tombstone), then resume incremental
        src_df = sn.snapshot_read(spark, src, src_head)
        dst_df = sn.snapshot_read(spark, dst)
        upserts = src_df.exceptAll(
            dst_df.select(*src_df.columns)
        ).withColumn(_DEL, F.lit(False))
        dels = (
            dst_df.select(*src_df.columns)
            .join(src_df.select(*key_cols).distinct(), key_cols, "left_anti")
            .withColumn(_DEL, F.lit(True))
        )
        changeset = upserts.unionByName(dels)
    # ONE evaluation of the (O(churn)) change-feed diff, and no emptiness
    # probe: snapshot_merge pins its input with a lazy checkpoint that its
    # validation aggregate materializes, so that one job evaluates the
    # diff, and an empty changeset comes back as the merge's no-op return
    # (head version unchanged), which is when the cursor-advance append
    # runs instead.
    dst_head_version = sn.snapshot_versions(spark, dst)[-1]
    new_version = sn.snapshot_merge(
        changeset, dst, key_cols, batch_id=src_head, delete_col=_DEL
    )
    if new_version == dst_head_version:
        # nothing changed between the versions (e.g. pure compaction on
        # the source) — advance the cursor with an empty append so the
        # next poll doesn't re-diff the same range. (A concurrent dst
        # writer racing this sync could also move the head past
        # dst_head_version; mirrors have a single stream owner by the
        # exactly-once contract, and even then the only effect is a
        # skipped cursor advance — the next poll re-diffs the same
        # range idempotently.)
        dst_head = sn._read_manifest(spark, dst, dst_head_version)
        from pyspark.sql.types import StructType

        import json as _json

        empty = spark.createDataFrame(
            [], StructType.fromJson(_json.loads(dst_head["schema"]))
        )
        sn.snapshot_commit(empty, dst, "append", batch_id=src_head)
    return consumed
