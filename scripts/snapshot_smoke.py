"""Scale smoke for the round-10 snapshot layer and streamed-BM25 fold.

Claims measured (recorded into SCALE_SMOKE_r10.json, now in git history):
1. snapshot append cost is O(delta), not O(table): appending a
   fixed-size delta to a table that has grown 16x must cost ~the same
   as the first append (manifest references parent files verbatim).
2. full-rewrite contrast at final size (what overwrite-per-ingest
   would pay every run).
3. expiry scales with FILE COUNT (manifest set arithmetic + deletes),
   not bytes.
4. bm25_merge_many fold cost ~linear in the number/size of deltas.

Round 11 additions:
5. snapshot_scan manifest-stats pruning: a range-filtered as-of read
   schedules tasks for ONLY the overlapping files (file counts +
   timing vs the unpruned scan at 16x).
6. streaming ingest maintenance (compact_every/expire_retain): 20
   micro-batches end with a BOUNDED live file set and version history,
   data intact — the unbounded-accumulation gap closed.

Round 12 addition:
7. many-versions axis (VERDICT r11 next-4): 10^4 committed versions —
   the shape a year of maintained streaming ingest produces — with
   listing, head resolution (HEAD hint vs directory listing), head
   read, history, and expiry sweep each timed. The HEAD hint keeps
   head reads O(1) regardless of version count.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    import tempfile

    from pyspark.sql import SparkSession, functions as F

    from etl_ipl_data_analysis_pipeline_spark import snapshots as sn
    from etl_ipl_data_analysis_pipeline_spark.operators import textstats as ts

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    out: dict = {}
    root = tempfile.mkdtemp(prefix="snapshot_smoke_")

    # --- 1/2: append flatness + rewrite contrast -------------------------
    base = root + "/tbl"
    n_delta = 1_000_000
    append_times = []
    for i in range(16):
        delta = (
            spark.range(i * n_delta, (i + 1) * n_delta)
            .withColumnRenamed("id", "k")
            .withColumn("v", (F.col("k") * 7919) % 104729)
            .repartition(4)
        )
        t0 = time.monotonic()
        sn.snapshot_commit(delta, base, "append")
        append_times.append(round(time.monotonic() - t0, 2))
    out["append_1st"] = append_times[0]
    out["append_8th"] = append_times[7]
    out["append_16th"] = append_times[15]
    out["append_all"] = append_times
    cur = sn.snapshot_read(spark, base)
    t0 = time.monotonic()
    cur.write.mode("overwrite").parquet(root + "/full_rewrite")
    out["full_rewrite_at_16x"] = round(time.monotonic() - t0, 2)
    out["rows_at_16x"] = sn.snapshot_read(spark, base).count()

    # --- 2b: point-merge flatness ----------------------------------------
    # every appended delta's files carry tight k-ranges in the manifest
    # stats, so a 100-key update confined to one delta's range must cost
    # ~the same whether the table holds 4 or 16 deltas (probe + rewrite
    # touch candidate files only, never the table)
    upd = (
        spark.range(0, 100)
        .select(
            (F.col("id") * 9973 % n_delta).alias("k"),
        )
        .withColumn("v", F.lit(-1).cast("long"))
        .dropDuplicates(["k"])
    )
    t0 = time.monotonic()
    sn.snapshot_merge(upd, base, ["k"])
    out["merge_100keys_at_16x"] = round(time.monotonic() - t0, 2)
    small = root + "/tbl_small"
    for i in range(4):
        delta = (
            spark.range(i * n_delta, (i + 1) * n_delta)
            .withColumnRenamed("id", "k")
            .withColumn("v", (F.col("k") * 7919) % 104729)
            .repartition(4)
        )
        sn.snapshot_commit(delta, small, "append")
    t0 = time.monotonic()
    sn.snapshot_merge(upd, small, ["k"])
    out["merge_100keys_at_4x"] = round(time.monotonic() - t0, 2)

    # --- 5: read-side manifest-stats pruning (r11) ------------------------
    # the 16 deltas carry disjoint 1M-wide k ranges, 4 files each; a
    # range-filtered as-of read confined to one delta must schedule ~4
    # file tasks, not 64+ — measured against the same filter unpruned
    lo, hi = 3 * n_delta + 1000, 3 * n_delta + 101_000
    full_read = sn.snapshot_read(spark, base)
    out["pruned_read_files_full"] = len(full_read.inputFiles())
    t0 = time.monotonic()
    full_sum = (
        full_read.filter(F.col("k").between(lo, hi)).agg(F.sum("v")).collect()[0][0]
    )
    out["pruned_read_unpruned_secs"] = round(time.monotonic() - t0, 2)
    pruned_read = sn.snapshot_scan(spark, base, filter=F.col("k").between(lo, hi))
    out["pruned_read_files_pruned"] = len(pruned_read.inputFiles())
    t0 = time.monotonic()
    pruned_sum = pruned_read.agg(F.sum("v")).collect()[0][0]
    out["pruned_read_pruned_secs"] = round(time.monotonic() - t0, 2)
    assert pruned_sum == full_sum, (pruned_sum, full_sum)

    # --- 3: expiry cost --------------------------------------------------
    # append lineage: the newest manifest references EVERY file, so
    # expiring old versions must delete nothing (shared-file ref-count)
    t0 = time.monotonic()
    # grace 0 throughout: the smoke is the only writer and wants the
    # reclamation measured now, not after the in-flight-commit window
    dropped, removed = sn.snapshot_expire(spark, base, keep_last=2, staging_grace_s=0)
    out["expire_append_versions_dropped"] = dropped
    out["expire_append_files_removed"] = removed  # 0 by construction
    out["expire_append_secs"] = round(time.monotonic() - t0, 2)
    # after an overwrite, the old lineage's files ARE unreferenced and a
    # keep_last=1 expiry reclaims all of them; cost is manifest set
    # arithmetic + per-file deletes, never a data scan
    sn.snapshot_commit(
        spark.range(0, 1000).withColumnRenamed("id", "k").withColumn(
            "v", F.col("k")
        ),
        base,
        "overwrite",
    )
    t0 = time.monotonic()
    dropped, removed = sn.snapshot_expire(spark, base, keep_last=1, staging_grace_s=0)
    out["expire_overwrite_versions_dropped"] = dropped
    out["expire_overwrite_files_removed"] = removed
    out["expire_overwrite_secs"] = round(time.monotonic() - t0, 2)

    # --- 4: bm25 fold linearity ------------------------------------------
    words = [f"w{i}" for i in range(500)]
    docs = spark.range(0, 120_000).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.element_at(
                    F.array(*[F.lit(w) for w in words]),
                    ((F.col("id") * (j + 3) + j) % 500 + 1).cast("int"),
                )
                for j in range(8)
            ],
        ).alias("text"),
    ).localCheckpoint()
    for n_deltas in (4, 8, 16):
        paths = []
        for i in range(n_deltas):
            p = f"{root}/bm25_{n_deltas}_{i}"
            ts.bm25_build_index(
                docs.filter(F.col("doc_id") % n_deltas == i), p, num_buckets=16
            )
            paths.append(p)
        t0 = time.monotonic()
        ts.bm25_merge_many(spark, paths, f"{root}/bm25_fold_{n_deltas}", num_buckets=16)
        out[f"bm25_fold_{n_deltas}_deltas"] = round(time.monotonic() - t0, 2)

    # --- 6: streaming ingest maintenance bounds files (r11) ---------------
    src = root + "/stream_src"
    n_batches = 20
    rows = spark.range(0, 2_000_000).withColumnRenamed("id", "k")
    for i in range(n_batches):
        rows.filter(F.col("k") % n_batches == i).coalesce(1).write.parquet(
            f"{src}/f{i:02d}"
        )
    from etl_ipl_data_analysis_pipeline_spark.streaming.snapshot_ingest import (
        run_snapshot_ingest_stream,
    )

    stream = (
        spark.readStream.schema(rows.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    tbl = root + "/stream_tbl"
    t0 = time.monotonic()
    n_committed = run_snapshot_ingest_stream(
        stream, tbl, checkpoint=root + "/stream_ckpt",
        compact_every=5, expire_retain=2,
    )
    out["stream_maint_secs"] = round(time.monotonic() - t0, 2)
    out["stream_maint_batches"] = n_committed
    versions = sn.snapshot_versions(spark, tbl)
    out["stream_maint_versions_retained"] = len(versions)
    out["stream_maint_live_files"] = len(
        sn._read_manifest(spark, tbl, versions[-1])["files"]
    )
    out["stream_maint_disk_files"] = sum(
        1
        for dirpath, _, names in os.walk(tbl + "/data")
        for n in names
        if n.endswith(".parquet")
    )
    out["stream_maint_rows"] = sn.snapshot_read(spark, tbl).count()
    assert out["stream_maint_rows"] == 2_000_000
    assert out["stream_maint_disk_files"] <= 12, out["stream_maint_disk_files"]

    # --- 7: many-versions axis (r12) --------------------------------------
    # a maintained streaming ingest produces one manifest per batch, so a
    # year-old table holds O(10^4) versions. Drive exactly that shape
    # (manifest-plane synthesis: each version appends the parent's file
    # list verbatim — the data plane is irrelevant to these costs) and
    # measure the operations whose cost scales with VERSION COUNT:
    # listing, head resolution (HEAD hint vs listing), history, expiry.
    from pyspark.sql.types import StructType

    many = root + "/tbl_many"
    sn.snapshot_commit(
        spark.range(0, 1000).withColumnRenamed("id", "k"), many, "append"
    )
    m1 = sn._read_manifest(spark, many, 1)
    schema = StructType.fromJson(json.loads(m1["schema"]))
    n_versions = 10_000
    t0 = time.monotonic()
    for v in range(2, n_versions + 1):
        sn._commit_manifest(
            spark, many, v, op="append", files=m1["files"], schema=schema
        )
    out["many_versions_n"] = n_versions
    out["many_versions_synthesize_secs"] = round(time.monotonic() - t0, 2)
    t0 = time.monotonic()
    assert len(sn.snapshot_versions(spark, many)) == n_versions
    out["many_versions_listing_secs"] = round(time.monotonic() - t0, 3)
    t0 = time.monotonic()
    for _ in range(20):
        assert sn._head_version(spark, many) == n_versions
    out["many_versions_head_hint_secs_x20"] = round(time.monotonic() - t0, 3)
    t0 = time.monotonic()
    for _ in range(20):
        assert sn.snapshot_versions(spark, many)[-1] == n_versions
    out["many_versions_head_listing_secs_x20"] = round(time.monotonic() - t0, 3)
    t0 = time.monotonic()
    assert sn.snapshot_read(spark, many).count() == 1000
    out["many_versions_head_read_secs"] = round(time.monotonic() - t0, 2)
    t0 = time.monotonic()
    assert sn.snapshot_history(spark, many).count() == n_versions
    out["many_versions_history_secs"] = round(time.monotonic() - t0, 2)
    t0 = time.monotonic()
    dropped, removed = sn.snapshot_expire(
        spark, many, keep_last=2, staging_grace_s=0
    )
    out["many_versions_expire_secs"] = round(time.monotonic() - t0, 2)
    assert dropped == n_versions - 2 and removed == 0
    assert sn.snapshot_read(spark, many).count() == 1000  # shared files live

    # --- 8: merge-on-read delete / change feed / mirror (r12b) -----------
    # cost-shape claims for the round-12b table features, all on a fresh
    # 8M-row, 32-file key-clustered table:
    # (a) snapshot_delete_keys of 100 keys spread across EVERY file costs
    #     ~a manifest write (no data read/rewritten), where COW delete of
    #     an equally-spread key set rewrites all 32 files;
    # (b) the post-MOR read pays one broadcast anti-join over the scan;
    # (c) snapshot_changes after a small merge reads only the churned
    #     files (O(churn)), not the table;
    # (d) mirror sync applies that churn incrementally vs the bootstrap
    #     full copy.
    mor = root + "/tbl_mor"
    big = (
        spark.range(0, 8_000_000)
        .withColumnRenamed("id", "k")
        .withColumn("v", (F.col("k") * 7919) % 104729)
    )
    sn.snapshot_commit(big.repartitionByRange(32, "k"), mor, "append")
    t0 = time.monotonic()
    assert sn.snapshot_read(spark, mor).count() == 8_000_000
    out["mor_read_pre_delete_secs"] = round(time.monotonic() - t0, 2)
    keys100 = spark.range(0, 8_000_000, 80_000).withColumnRenamed("id", "k")
    t0 = time.monotonic()
    v_mor = sn.snapshot_delete_keys(keys100, mor)
    out["mor_delete_100keys_secs"] = round(time.monotonic() - t0, 2)
    m_before = sn._read_manifest(spark, mor, v_mor - 1)
    m_after = sn._read_manifest(spark, mor, v_mor)
    assert m_after["files"] == m_before["files"]  # zero data files touched
    out["mor_delete_files_rewritten"] = 0
    t0 = time.monotonic()
    assert sn.snapshot_read(spark, mor).count() == 8_000_000 - 100
    out["mor_read_after_delete_secs"] = round(time.monotonic() - t0, 2)
    # COW contrast: 100 DIFFERENT keys, equally spread over all 32 files
    t0 = time.monotonic()
    v_cow = sn.snapshot_delete(spark, mor, (F.col("k") % 80_000) == 1)
    out["cow_delete_100keys_secs"] = round(time.monotonic() - t0, 2)
    m_cow = sn._read_manifest(spark, mor, v_cow)
    out["cow_delete_files_rewritten"] = len(
        set(m_after["files"]) - set(m_cow["files"])
    )
    assert out["cow_delete_files_rewritten"] == 32  # every file held a key
    # (c) change feed after a CLUSTERED 100-key merge (a point update on
    # a key-clustered table touches ~1 of the 32 files): the CDF reads
    # only the churned files, not the table
    upd = (
        spark.range(1_000_003, 1_000_103)
        .select(F.col("id").alias("k"))
        .withColumn("v", F.lit(-1).cast("long"))
    )
    v_merge = sn.snapshot_merge(upd, mor, ["k"])
    t0 = time.monotonic()
    ch = sn.snapshot_changes(spark, mor, v_merge - 1, v_merge, key_cols=["k"])
    n_ch = ch.count()
    out["cdf_small_merge_secs"] = round(time.monotonic() - t0, 2)
    assert n_ch == 200, n_ch  # 100 preimages + 100 postimages
    mm1 = sn._read_manifest(spark, mor, v_merge - 1)
    mm2 = sn._read_manifest(spark, mor, v_merge)
    out["cdf_files_read"] = len(
        set(mm1["files"]) ^ set(mm2["files"])
    )  # churned files only, of:
    out["cdf_files_total"] = len(mm2["files"])
    # (d) mirror: bootstrap full copy, then one incremental sync of churn
    dst = root + "/tbl_mor_dst"
    from etl_ipl_data_analysis_pipeline_spark.streaming.changefeed import (
        mirror_snapshot_changes,
    )

    t0 = time.monotonic()
    mirror_snapshot_changes(spark, mor, dst, ["k"])
    out["mirror_bootstrap_secs"] = round(time.monotonic() - t0, 2)
    upd2 = (
        spark.range(2_000_003, 2_000_103)
        .select(F.col("id").alias("k"))
        .withColumn("v", F.lit(-2).cast("long"))
    )
    sn.snapshot_merge(upd2, mor, ["k"])
    t0 = time.monotonic()
    assert mirror_snapshot_changes(spark, mor, dst, ["k"]) == 1
    out["mirror_incremental_secs"] = round(time.monotonic() - t0, 2)
    assert (
        sn.snapshot_read(spark, dst).count()
        == sn.snapshot_read(spark, mor).count()
    )

    # --- 9: maintenance-depth axis (r13, VERDICT r12 directive 7) ---------
    # A table that keeps TAKING maintenance without compaction: equality-
    # delete entries and rename epochs accumulate, and every read pays
    # their anti-joins / projection epochs until a compact absorbs them.
    # Measure (a) read cost as delete-entry depth grows, (b) the rename-
    # epoch surcharge, (c) compact cost and the post-compact read, and
    # derive the crossover: how many reads at max depth amortize one
    # compaction. Plus (d) change-feed cost as the version range spans
    # growing churn — the O(churn) claim measured, not asserted.
    dep = root + "/tbl_depth"
    dep_rows = 2_000_000
    sn.snapshot_commit(
        spark.range(0, dep_rows)
        .withColumnRenamed("id", "k")
        .withColumn("v", (F.col("k") * 7919) % 104729)
        .repartitionByRange(16, "k"),
        dep,
        "append",
    )
    depth_read = {}
    n_del = 0
    prev = 0
    for d_target in (0, 4, 16, 64):
        for i in range(prev, d_target):
            ks = (
                spark.range(i * 1000, i * 1000 + 10)
                .withColumnRenamed("id", "k")
            )
            sn.snapshot_delete_keys(ks, dep)
            n_del += 10
        prev = d_target
        t0 = time.monotonic()
        assert sn.snapshot_read(spark, dep).count() == dep_rows - n_del
        depth_read[str(d_target)] = round(time.monotonic() - t0, 2)
    out["depth_read_secs_by_delete_entries"] = depth_read
    # rename epochs on top (v is not a delete-key column, so it renames)
    sn.snapshot_rename_column(spark, dep, "v", "v2")
    sn.snapshot_rename_column(spark, dep, "v2", "v3")
    t0 = time.monotonic()
    assert sn.snapshot_read(spark, dep).count() == dep_rows - n_del
    out["depth_read_secs_64del_2renames"] = round(time.monotonic() - t0, 2)
    t0 = time.monotonic()
    sn.snapshot_compact(spark, dep)
    out["depth_compact_secs"] = round(time.monotonic() - t0, 2)
    t0 = time.monotonic()
    assert sn.snapshot_read(spark, dep).count() == dep_rows - n_del
    out["depth_read_secs_compacted"] = round(time.monotonic() - t0, 2)
    overhead = max(
        0.001,
        out["depth_read_secs_64del_2renames"] - out["depth_read_secs_compacted"],
    )
    out["depth_compact_crossover_reads"] = round(
        out["depth_compact_secs"] / overhead, 1
    )
    # (d) change-feed cost vs churn: 32 clustered point merges, then CDF
    # over version ranges spanning 1 / 8 / 32 merges
    churn = root + "/tbl_churn"
    sn.snapshot_commit(
        spark.range(0, dep_rows)
        .withColumnRenamed("id", "k")
        .withColumn("v", (F.col("k") * 7919) % 104729)
        .repartitionByRange(16, "k"),
        churn,
        "append",
    )
    heads = [1]
    for i in range(32):
        u = (
            spark.range(i * 50_000 + 3, i * 50_000 + 103)
            .select(F.col("id").alias("k"))
            .withColumn("v", F.lit(-(i + 1)).cast("long"))
        )
        heads.append(sn.snapshot_merge(u, churn, ["k"]))
    cdf_by_churn = {}
    for span in (1, 8, 32):
        t0 = time.monotonic()
        n = sn.snapshot_changes(
            spark, churn, heads[-1 - span], heads[-1], key_cols=["k"]
        ).count()
        cdf_by_churn[str(span)] = {
            "secs": round(time.monotonic() - t0, 2),
            "rows": n,
        }
    out["cdf_secs_by_churn_merges"] = cdf_by_churn

    print(json.dumps({"metric": "snapshot_smoke", "timings": out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
