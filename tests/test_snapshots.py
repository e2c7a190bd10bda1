"""Versioned snapshot tables (snapshots.py): commit atomicity, time
travel, compaction lineage, ref-counted expiry, crash-orphan hygiene."""

import os

import pytest

from etl_ipl_data_analysis_pipeline_spark import snapshots as sn


def _keys(spark, base, version=None):
    return sorted(r.k for r in sn.snapshot_read(spark, base, version).collect())


@pytest.fixture()
def table(spark, tmp_path):
    base = str(tmp_path / "tbl")
    a = spark.range(0, 10).withColumnRenamed("id", "k")
    b = spark.range(10, 15).withColumnRenamed("id", "k")
    c = spark.range(100, 103).withColumnRenamed("id", "k")
    assert sn.snapshot_commit(a, base, "append") == 1
    assert sn.snapshot_commit(b, base, "append") == 2
    assert sn.snapshot_commit(c, base, "overwrite") == 3
    return base


def test_time_travel_and_overwrite_isolation(spark, table):
    assert _keys(spark, table, 1) == list(range(10))
    assert _keys(spark, table, 2) == list(range(15))
    assert _keys(spark, table, 3) == [100, 101, 102]
    assert _keys(spark, table) == [100, 101, 102]  # latest
    with pytest.raises(ValueError, match="not in"):
        sn.snapshot_read(spark, table, 99)


def test_append_shares_files_verbatim(spark, table):
    m1 = sn._read_manifest(spark, table, 1)
    m2 = sn._read_manifest(spark, table, 2)
    assert set(m1["files"]) < set(m2["files"])  # nothing rewritten on append
    m3 = sn._read_manifest(spark, table, 3)
    assert not set(m3["files"]) & set(m2["files"])  # overwrite references none


def test_crash_orphans_are_invisible_then_reclaimed(spark, table):
    # simulate a commit that died after moving data files but before the
    # manifest rename: debris in data/ and a staging dir
    os.makedirs(table + "/_commit_00000099", exist_ok=True)
    orphan = table + "/data/v00000099-00000.parquet"
    with open(orphan, "wb") as f:
        f.write(b"not parquet")
    # readers never see it (manifest-listed files only)
    assert _keys(spark, table) == [100, 101, 102]
    assert sn.snapshot_versions(spark, table) == [1, 2, 3]
    # expire reclaims it: unreferenced by every retained manifest
    # (grace 0: the debris is seconds old, and no commit is in flight)
    dropped, removed = sn.snapshot_expire(spark, table, keep_last=3, staging_grace_s=0)
    assert dropped == 0 and removed >= 1
    assert not os.path.exists(orphan)
    assert not os.path.exists(table + "/_commit_00000099")
    assert _keys(spark, table, 1) == list(range(10))  # retained all read fine


def test_expire_refcounts_shared_files(spark, table):
    # keep v2+v3: v1's files are SHARED with v2 and must survive
    m1_files = set(sn._read_manifest(spark, table, 1)["files"])
    dropped, _ = sn.snapshot_expire(spark, table, keep_last=2)
    assert dropped == 1
    assert sn.snapshot_versions(spark, table) == [2, 3]
    for rel in m1_files:
        assert os.path.exists(table + "/" + rel)  # shared => retained
    assert _keys(spark, table, 2) == list(range(15))
    with pytest.raises(ValueError):
        sn.snapshot_read(spark, table, 1)


def test_compact_preserves_rows_and_old_versions(spark, table):
    v4 = sn.snapshot_compact(spark, table, target_mb=128)
    assert v4 == 4
    m3, m4 = (sn._read_manifest(spark, table, v) for v in (3, 4))
    assert len(m4["files"]) <= len(m3["files"]) and m4["op"] == "replace"
    assert _keys(spark, table, 4) == [100, 101, 102]
    assert _keys(spark, table, 3) == [100, 101, 102]  # originals untouched
    assert _keys(spark, table, 1) == list(range(10))


def test_empty_overwrite_keeps_schema(spark, table):
    empty = spark.range(0).withColumnRenamed("id", "k")
    v = sn.snapshot_commit(empty, table, "overwrite")
    out = sn.snapshot_read(spark, table, v)
    assert out.columns == ["k"] and out.count() == 0
    # and the table is still time-travelable past the empty version
    assert _keys(spark, table, 2) == list(range(15))


def test_bad_mode_and_missing_table_raise(spark, tmp_path):
    df = spark.range(1).withColumnRenamed("id", "k")
    with pytest.raises(ValueError, match="unknown snapshot mode"):
        sn.snapshot_commit(df, str(tmp_path / "x"), "merge")
    with pytest.raises(ValueError, match="no committed snapshot"):
        sn.snapshot_read(spark, str(tmp_path / "y"))
    with pytest.raises(ValueError, match="no committed snapshot"):
        sn.snapshot_compact(spark, str(tmp_path / "y"))
    with pytest.raises(ValueError, match="no committed snapshot"):
        sn.snapshot_optimize(spark, str(tmp_path / "y"), ["k"])


def test_stream_ingest_versions_asof_and_replay(spark, tmp_path):
    """Streaming snapshot ingest: 3 forced 1-file micro-batches commit 3
    versions; 'the table as of batch k' equals the union of the first
    k files; a full re-delivery (checkpoint wiped, table kept) is
    skipped by the manifest-borne batch-id marker — zero new versions,
    data unchanged."""
    import pyspark.sql.functions as F

    from etl_ipl_data_analysis_pipeline_spark.streaming.snapshot_ingest import (
        run_snapshot_ingest_stream,
    )

    df = spark.range(0, 30).withColumnRenamed("id", "k")
    src = str(tmp_path / "src")
    for i in range(3):
        df.filter((F.col("k") % 3) == i).coalesce(1).write.parquet(f"{src}/f{i}")

    def stream():
        return (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )

    table = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    n = run_snapshot_ingest_stream(stream(), table, checkpoint=ckpt)
    assert n == 3
    versions = sn.snapshot_versions(spark, table)
    assert versions == [1, 2, 3]
    sizes = [sn.snapshot_read(spark, table, v).count() for v in versions]
    assert sizes == [10, 20, 30]  # as-of batch k = first k files
    all_keys = _keys(spark, table)
    assert all_keys == list(range(30))

    # full re-delivery: wipe the checkpoint only; batch ids restart at 0,
    # every one is <= the recorded marker, so nothing commits
    import shutil

    shutil.rmtree(ckpt)
    n2 = run_snapshot_ingest_stream(stream(), table, checkpoint=ckpt)
    assert n2 == 0
    assert sn.snapshot_versions(spark, table) == [1, 2, 3]
    assert _keys(spark, table) == all_keys

    # a maintenance compact between runs must not break the marker scan
    sn.snapshot_compact(spark, table)
    assert sn.snapshot_latest_batch_id(spark, table) == 2


def test_additive_schema_evolution(spark, table):
    """Appending a batch that carries a NEW column evolves the table:
    the merged schema serves old rows as NULL in the new column, the
    as-of read of an older version keeps the old column set, and a
    same-name type change is refused."""
    import pyspark.sql.functions as F

    evolved = (
        spark.range(200, 203)
        .withColumnRenamed("id", "k")
        .withColumn("tag", F.concat(F.lit("t"), F.col("k").cast("string")))
    )
    v = sn.snapshot_commit(evolved, table, "append")
    out = sn.snapshot_read(spark, table, v)
    assert out.columns == ["k", "tag"]
    rows = {r.k: r.tag for r in out.collect()}
    assert rows[200] == "t200" and rows[100] is None  # old rows NULL
    assert sn.snapshot_read(spark, table, 3).columns == ["k"]  # as-of stable

    bad = spark.range(1).select(F.col("id").cast("string").alias("k"))
    with pytest.raises(ValueError, match="changes type"):
        sn.snapshot_commit(bad, table, "append")


def test_merge_cow_rewrites_only_touched_files(spark, tmp_path):
    """File-granular MERGE: with keys clustered by repartitionByRange,
    an update batch touching one key range rewrites ONLY the files
    holding it — every other file is referenced verbatim by the new
    manifest — and the merged rows are exact (update replaces, insert
    appends). Old versions still read the pre-merge originals."""
    import pyspark.sql.functions as F

    base = str(tmp_path / "tbl")
    df = (
        spark.range(0, 1000)
        .withColumnRenamed("id", "k")
        .withColumn("v", F.col("k") * 10)
        .repartitionByRange(8, "k")
    )
    sn.snapshot_commit(df, base, "append")
    m1 = sn._read_manifest(spark, base, 1)
    assert len(m1["files"]) == 8

    updates = spark.createDataFrame(
        [(5, -5), (7, -7), (2000, -1)], "k long, v long"
    )
    v2 = sn.snapshot_merge(updates, base, ["k"])
    m2 = sn._read_manifest(spark, base, v2)
    shared = set(m1["files"]) & set(m2["files"])
    assert len(shared) == 7  # keys 5 and 7 live in ONE range file
    assert m2["op"] == "merge"
    rows = {r.k: r.v for r in sn.snapshot_read(spark, base).collect()}
    assert len(rows) == 1001
    assert rows[5] == -5 and rows[7] == -7 and rows[2000] == -1
    assert rows[6] == 60  # same-file neighbor carried over
    old = {r.k: r.v for r in sn.snapshot_read(spark, base, 1).collect()}
    assert old[5] == 50 and 2000 not in old


def test_delete_cow_and_merge_schema_evolution(spark, tmp_path):
    import pyspark.sql.functions as F

    base = str(tmp_path / "tbl")
    df = (
        spark.range(0, 100)
        .withColumnRenamed("id", "k")
        .withColumn("v", F.col("k"))
        .repartitionByRange(4, "k")
    )
    sn.snapshot_commit(df, base, "append")
    v2 = sn.snapshot_delete(spark, base, F.col("k").between(10, 19))
    m1, m2 = sn._read_manifest(spark, base, 1), sn._read_manifest(spark, base, 2)
    assert len(set(m1["files"]) & set(m2["files"])) == 3  # one file touched
    assert m2["op"] == "delete"
    keys = _keys(spark, base)
    assert keys == [k for k in range(100) if not 10 <= k <= 19]
    assert _keys(spark, base, 1) == list(range(100))  # time travel intact

    # merge that evolves the schema: update carries a new column
    upd = spark.createDataFrame([(3, 33, "x")], "k long, v long, tag string")
    v3 = sn.snapshot_merge(upd, base, ["k"])
    out = sn.snapshot_read(spark, base, v3)
    assert out.columns == ["k", "v", "tag"]
    rows = {r.k: (r.v, r.tag) for r in out.collect()}
    assert rows[3] == (33, "x") and rows[4] == (4, None)


def test_delete_null_condition_keeps_row(spark, tmp_path):
    """SQL DELETE semantics under three-valued logic: a row where the
    condition evaluates to NULL is NOT deleted — regardless of whether
    it shares a file with matched rows."""
    import pyspark.sql.functions as F

    base = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, "spam"), (2, None), (3, "ok")], "k long, status string"
    ).coalesce(1)  # one file: the NULL row co-locates with a matched row
    sn.snapshot_commit(df, base, "append")
    sn.snapshot_delete(spark, base, F.col("status") == "spam")
    assert _keys(spark, base) == [2, 3]  # NULL survives, spam goes


def test_merge_duplicate_update_keys_raise(spark, tmp_path):
    base = str(tmp_path / "tbl")
    sn.snapshot_commit(
        spark.createDataFrame([(1, 10)], "k long, v long"), base, "append"
    )
    dup = spark.createDataFrame([(1, 11), (1, 12)], "k long, v long")
    with pytest.raises(ValueError, match="duplicate keys"):
        sn.snapshot_merge(dup, base, ["k"])


def test_batch_marker_survives_compact_and_expire(spark, tmp_path):
    """The exactly-once marker must outlive maintenance: after a compact
    (op 'replace') and an expiry that drops every stream-written
    manifest, the retained head still carries the max batch id, so a
    checkpoint-rebuilt re-delivery commits nothing."""
    import pyspark.sql.functions as F

    from etl_ipl_data_analysis_pipeline_spark.streaming.snapshot_ingest import (
        run_snapshot_ingest_stream,
    )

    df = spark.range(0, 30).withColumnRenamed("id", "k")
    src = str(tmp_path / "src")
    for i in range(3):
        df.filter((F.col("k") % 3) == i).coalesce(1).write.parquet(f"{src}/f{i}")

    def stream():
        return (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )

    table = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    assert run_snapshot_ingest_stream(stream(), table, checkpoint=ckpt) == 3
    sn.snapshot_compact(spark, table)
    sn.snapshot_expire(spark, table, keep_last=1)
    assert sn.snapshot_versions(spark, table) == [4]
    assert sn.snapshot_latest_batch_id(spark, table) == 2  # carried forward

    import shutil

    shutil.rmtree(ckpt)
    assert run_snapshot_ingest_stream(stream(), table, checkpoint=ckpt) == 0
    assert _keys(spark, table) == list(range(30))


def test_manifest_key_stats_prune_merge_probe(spark, tmp_path):
    """Commits capture per-file column min/max from the parquet footers;
    a point-update merge probes only the files whose key range can
    intersect the update batch (strictly conservative: files without
    stats stay candidates), and pruning changes nothing about the
    result."""
    import pyspark.sql.functions as F

    base = str(tmp_path / "tbl")
    df = (
        spark.range(0, 800)
        .withColumnRenamed("id", "k")
        .withColumn("v", F.col("k"))
        .repartitionByRange(8, "k")
    )
    sn.snapshot_commit(df, base, "append")
    m = sn._read_manifest(spark, base, 1)
    assert "stats" in m and len(m["stats"]) == 8
    for rng in (st["k"] for st in m["stats"].values()):
        assert rng[0] <= rng[1]

    updates = spark.createDataFrame([(5, -5)], "k long, v long")
    keys = updates.select("k").distinct()
    cands = sn._prune_by_key_stats(m, ["k"], keys, 1)
    assert len(cands) == 1  # exactly the one range file holding k=5

    v2 = sn.snapshot_merge(updates, base, ["k"])
    m2 = sn._read_manifest(spark, base, v2)
    assert len(set(m["files"]) & set(m2["files"])) == 7
    rows = {r.k: r.v for r in sn.snapshot_read(spark, base).collect()}
    assert rows[5] == -5 and rows[6] == 6 and len(rows) == 800
    # stats carried for untouched files + captured for the rewrite
    assert len(m2.get("stats", {})) == len(m2["files"])

    # a file with no stats must remain a candidate (conservative)
    m_no = {"files": m["files"], "stats": {}}
    assert sn._prune_by_key_stats(m_no, ["k"], keys, 1) == m["files"]


def test_concurrent_commit_loser_aborts_cleanly(spark, table):
    """The manifest publish arbitrates the MANIFEST level: a second
    attempt at an already-committed version number raises and the
    committed state is untouched. Writers cannot collide on the data
    plane — every staging attempt names its files with a fresh uuid
    token — so this exclusive publish is the only arbitration two
    racing writers need. This test pins it."""
    head = sn.snapshot_versions(spark, table)[-1]
    df = spark.range(500, 505).withColumnRenamed("id", "k")
    # a racing writer targeting the same next version: stage its files,
    # then watch its manifest commit lose the rename race
    version = head + 1
    files = sn._stage_files(df, table, version)
    sn._commit_manifest(spark, table, version, "append", files, df.schema)
    with pytest.raises(IOError, match="manifest publish failed"):
        sn._commit_manifest(spark, table, version, "append", files, df.schema)
    # the winner's view is intact and the loser changed nothing
    assert sn.snapshot_versions(spark, table)[-1] == version


def test_optimistic_concurrent_appends_both_commit(spark, table, monkeypatch):
    """Two racing appenders BOTH land (VERDICT r10 directive 3): writer B
    commits between writer A's head read and manifest rename, so A's
    first rename loses; A then re-reads the head, re-points the parent
    (B's manifest), and commits at the next version — no data restaged.
    The table ends at n+2 with BOTH deltas readable and expiry correct."""
    head = sn.snapshot_versions(spark, table)[-1]
    b_df = spark.range(300, 305).withColumnRenamed("id", "k")
    a_df = spark.range(400, 402).withColumnRenamed("id", "k")
    assert sn.snapshot_commit(b_df, table, "append") == head + 1  # B wins

    # A raced: it read the head BEFORE B committed. Simulate by feeding
    # A a stale version list on its first read only.
    real_versions = sn.snapshot_versions
    calls = {"n": 0}

    def stale_once(spark_, path_):
        calls["n"] += 1
        out = real_versions(spark_, path_)
        return out[:-1] if calls["n"] == 1 else out

    monkeypatch.setattr(sn, "snapshot_versions", stale_once)
    v = sn.snapshot_commit(a_df, table, "append")
    assert v == head + 2  # retried onto the new head
    keys = _keys(spark, table)
    assert keys == [100, 101, 102, 300, 301, 302, 303, 304, 400, 401]
    # B's intermediate version is intact (A's retry referenced it verbatim)
    assert _keys(spark, table, head + 1) == [100, 101, 102, 300, 301, 302, 303, 304]
    # expiry after the race: retained head still reads everything
    dropped, _ = sn.snapshot_expire(spark, table, keep_last=1, staging_grace_s=0)
    assert dropped == head + 1
    assert _keys(spark, table) == keys


def test_commit_conflict_exhausts_retries(spark, table, monkeypatch):
    """When every retry keeps losing (pathological contention), the
    SnapshotConflict surfaces after _PUBLISH_RETRIES retries instead of
    spinning."""
    real = sn._commit_manifest
    attempts = []

    def always_lose(*a, **kw):
        attempts.append(a[2])
        raise sn.SnapshotConflict("manifest rename failed (simulated)")

    monkeypatch.setattr(sn, "_commit_manifest", always_lose)
    df = spark.range(1).withColumnRenamed("id", "k")
    with pytest.raises(sn.SnapshotConflict):
        sn.snapshot_commit(df, table, "append")
    monkeypatch.setattr(sn, "_commit_manifest", real)
    assert len(attempts) == sn._PUBLISH_RETRIES + 1


def test_snapshot_read_prunes_by_manifest_stats(spark, tmp_path):
    """prune=(col, lo, hi) drops manifest files whose footer min/max
    can't intersect the range BEFORE Spark schedules tasks for them;
    files without stats stay; results equal the unpruned filtered read."""
    import pyspark.sql.functions as F

    base = str(tmp_path / "tbl")
    df = (
        spark.range(0, 800)
        .withColumnRenamed("id", "k")
        .withColumn("v", F.col("k") * 2)
        .repartitionByRange(8, "k")
    )
    sn.snapshot_commit(df, base, "append")
    m = sn._read_manifest(spark, base, 1)
    assert len(m["files"]) == 8

    pruned = sn.snapshot_read(spark, base, prune=("k", 100, 199))
    assert len(pruned.inputFiles()) < 8  # fewer files even reach the scan
    got = sorted(r.k for r in pruned.filter(F.col("k").between(100, 199)).collect())
    assert got == list(range(100, 200))

    # open-ended bounds
    lo_only = sn.snapshot_read(spark, base, prune=("k", 700, None))
    assert len(lo_only.inputFiles()) < 8
    assert {r.k for r in lo_only.filter(F.col("k") >= 700).collect()} == set(
        range(700, 800)
    )

    # a column with no stats anywhere: nothing pruned (conservative)
    m_no = dict(m)
    m_no["stats"] = {}
    assert sn._prune_files_by_range(m_no, "k", 0, 1) == m["files"]
    # cross-type bounds: conservative keep, not a crash
    assert sn._prune_files_by_range(m, "k", "a", "b") == m["files"]


def test_partitioned_snapshot_roundtrip_and_pruned_read(spark, tmp_path):
    """partition_by lays data under Hive col=value dirs; reads restore
    the partition column via basePath, appends inherit the layout, a
    pruned as-of read scans ONLY the matching directory, and merge /
    delete / compact keep working on the partitioned layout."""
    import pyspark.sql.functions as F

    base = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, ["en", "fr", "de"][i % 3], i * 10) for i in range(90)],
        "k long, lang string, v long",
    )
    sn.snapshot_commit(df, base, "append", partition_by=["lang"])
    m1 = sn._read_manifest(spark, base, 1)
    assert m1["partition_by"] == ["lang"]
    assert all("/lang=" in rel or rel.startswith("data/lang=") for rel in m1["files"])

    out = sn.snapshot_read(spark, base)
    assert set(out.columns) == {"k", "lang", "v"}
    assert out.count() == 90
    assert out.filter(F.col("lang") == "en").count() == 30

    # pruned read: only the lang=en directory's files reach the scan
    pr = sn.snapshot_read(spark, base, prune=("lang", "en", "en"))
    assert all("lang=en" in f for f in pr.inputFiles())
    assert sorted(r.k for r in pr.collect()) == [i for i in range(90) if i % 3 == 0]

    # append inherits the layout; a mismatching explicit layout raises
    extra = spark.createDataFrame([(1000, "en", 1)], "k long, lang string, v long")
    v2 = sn.snapshot_commit(extra, base, "append")
    assert sn._read_manifest(spark, base, v2)["partition_by"] == ["lang"]
    with pytest.raises(ValueError, match="partition_by"):
        sn.snapshot_commit(extra, base, "append", partition_by=["v"])

    # merge, delete, compact on the partitioned layout
    upd = spark.createDataFrame([(0, "en", -1), (2000, "de", -2)],
                                "k long, lang string, v long")
    v3 = sn.snapshot_merge(upd, base, ["k"])
    rows = {r.k: (r.lang, r.v) for r in sn.snapshot_read(spark, base, v3).collect()}
    assert rows[0] == ("en", -1) and rows[2000] == ("de", -2) and len(rows) == 92
    v4 = sn.snapshot_delete(spark, base, F.col("lang") == "fr")
    assert sn.snapshot_read(spark, base, v4).filter(F.col("lang") == "fr").count() == 0
    v5 = sn.snapshot_compact(spark, base)
    m5 = sn._read_manifest(spark, base, v5)
    assert m5["partition_by"] == ["lang"]
    assert sn.snapshot_read(spark, base, v5).count() == 62  # 92 - 30 fr
    # as-of past versions still read the pre-maintenance layout
    assert sn.snapshot_read(spark, base, 1).count() == 90


def test_merge_empty_updates_is_noop(spark, tmp_path):
    """An empty update batch commits NOTHING: no new version, no probe
    scan of the table (ADVICE r10: empty kvals used to probe-scan the
    whole table and commit a no-op version)."""
    base = str(tmp_path / "tbl")
    sn.snapshot_commit(
        spark.createDataFrame([(1, 10)], "k long, v long"), base, "append"
    )
    empty = spark.createDataFrame([], "k long, v long")
    assert sn.snapshot_merge(empty, base, ["k"]) == 1
    assert sn.snapshot_versions(spark, base) == [1]
    # all-NULL keys: no candidates either (NULL never equi-joins)
    m = sn._read_manifest(spark, base, 1)
    nulls = spark.createDataFrame([(None, 5)], "k long, v long")
    assert sn._prune_by_key_stats(m, ["k"], nulls.select("k"), 1) == []


def test_merge_large_update_set_skips_broadcast(spark, tmp_path, monkeypatch):
    """Past _BROADCAST_KEYS_MAX the probe/anti joins drop the broadcast
    hint (a too-big key set would fail the job on the broadcast limit);
    the merge result is identical either way."""
    monkeypatch.setattr(sn, "_BROADCAST_KEYS_MAX", 2)
    base = str(tmp_path / "tbl")
    df = spark.createDataFrame([(i, i) for i in range(20)], "k long, v long")
    sn.snapshot_commit(df.repartitionByRange(2, "k"), base, "append")
    upd = spark.createDataFrame([(i, -i) for i in range(0, 20, 5)], "k long, v long")
    v2 = sn.snapshot_merge(upd, base, ["k"])  # 4 keys > threshold 2
    rows = {r.k: r.v for r in sn.snapshot_read(spark, base, v2).collect()}
    assert rows[5] == -5 and rows[6] == 6 and len(rows) == 20


def test_expire_grace_protects_young_unreferenced_files(spark, table):
    """With the default grace, an in-flight commit's just-moved data
    files and staging dir survive expiry; with grace 0 they are swept.
    This is the ADVICE r10 expire-races-a-commit fix."""
    import os

    os.makedirs(table + "/_commit_00000077_deadbeef", exist_ok=True)
    orphan = table + "/data/v00000077-deadbeef-00000.parquet"
    with open(orphan, "wb") as f:
        f.write(b"in-flight commit's staged file")
    _, removed = sn.snapshot_expire(spark, table, keep_last=3)  # default grace
    assert os.path.exists(orphan)
    assert os.path.exists(table + "/_commit_00000077_deadbeef")
    _, removed = sn.snapshot_expire(spark, table, keep_last=3, staging_grace_s=0)
    assert not os.path.exists(orphan)
    assert not os.path.exists(table + "/_commit_00000077_deadbeef")


def test_stream_ingest_with_maintenance_bounds_files(spark, tmp_path):
    """compact_every/expire_retain keep a long-lived ingest's file and
    version counts BOUNDED (VERDICT r10 directive 5): 20 one-file
    micro-batches with compact_every=5, expire_retain=2 must end with
    far fewer than 20 data files and versions, identical data, and the
    exactly-once marker intact (a checkpoint-wiped replay commits 0)."""
    import shutil

    import pyspark.sql.functions as F

    from etl_ipl_data_analysis_pipeline_spark.streaming.snapshot_ingest import (
        run_snapshot_ingest_stream,
    )

    n_batches = 20
    df = spark.range(0, 200).withColumnRenamed("id", "k")
    src = str(tmp_path / "src")
    for i in range(n_batches):
        df.filter((F.col("k") % n_batches) == i).coalesce(1).write.parquet(
            f"{src}/f{i:02d}"
        )

    def stream():
        return (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )

    table = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    n = run_snapshot_ingest_stream(
        stream(), table, checkpoint=ckpt, compact_every=5, expire_retain=2
    )
    assert n == n_batches
    assert _keys(spark, table) == list(range(200))
    versions = sn.snapshot_versions(spark, table)
    assert len(versions) <= 7  # 2 retained at last expiry + <=5 since
    live = sn._read_manifest(spark, table, versions[-1])["files"]
    assert len(live) <= 6  # 1 compacted + <=5 singleton appends
    on_disk = [
        p for p in (tmp_path / "tbl" / "data").iterdir() if p.suffix == ".parquet"
    ]
    assert len(on_disk) <= 12  # unreferenced originals actually reclaimed
    assert sn.snapshot_latest_batch_id(spark, table) == n_batches - 1

    shutil.rmtree(ckpt)
    assert run_snapshot_ingest_stream(stream(), table, checkpoint=ckpt) == 0
    assert _keys(spark, table) == list(range(200))


def test_cluster_by_and_conjunctive_prune(spark, tmp_path):
    """cluster_by gives each data file a tight key interval, so footer
    stats actually prune; a list-valued prune applies the conjunction
    (partition dir AND cluster key)."""
    import pyspark.sql.functions as F

    base = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, ["en", "fr"][i % 2], i % 1000) for i in range(4000)],
        "k long, lang string, bucket long",
    )
    sn.snapshot_commit(
        df, base, "append", partition_by=["lang"], cluster_by=["k"],
        cluster_files=8,
    )
    m = sn._read_manifest(spark, base, 1)
    n_all = len(m["files"])
    assert n_all > 4  # range-partitioned into several files per lang dir

    # conjunction: one lang dir AND one narrow k interval
    pr = sn.snapshot_read(
        spark, base, prune=[("lang", "en", "en"), ("k", 100, 120)]
    )
    scanned = pr.inputFiles()
    assert 0 < len(scanned) < n_all
    assert all("lang=en" in f for f in scanned)
    got = sorted(
        r.k
        for r in pr.filter(
            (F.col("lang") == "en") & F.col("k").between(100, 120)
        ).collect()
    )
    assert got == [k for k in range(100, 121) if k % 2 == 0]

    # the same narrow read WITHOUT cluster_by stats would keep all files
    # in the lang dir; with clustering it must keep strictly fewer
    dir_only = sn.snapshot_read(spark, base, prune=("lang", "en", "en"))
    assert len(scanned) < len(dir_only.inputFiles())


def test_composite_key_merge_prunes_on_leading_column(spark, tmp_path):
    """A composite-key merge prunes candidates on the LEADING key column
    (necessary-condition pruning) instead of probing every file, and
    the merged rows are exact."""
    import pyspark.sql.functions as F

    base = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, i % 3, i * 10) for i in range(400)], "a long, b long, v long"
    ).repartitionByRange(8, "a")
    sn.snapshot_commit(df, base, "append")
    m = sn._read_manifest(spark, base, 1)
    upd = spark.createDataFrame([(5, 2, -1), (7, 1, -2)], "a long, b long, v long")
    cands = sn._prune_by_key_stats(m, ["a", "b"], upd.select("a", "b"), 2)
    assert len(cands) < len(m["files"])  # leading-column ranges pruned

    v2 = sn.snapshot_merge(upd, base, ["a", "b"])
    m2 = sn._read_manifest(spark, base, v2)
    assert len(set(m["files"]) & set(m2["files"])) >= len(m["files"]) - 1
    rows = {(r.a, r.b): r.v for r in sn.snapshot_read(spark, base, v2).collect()}
    assert rows[(5, 2)] == -1 and rows[(7, 1)] == -2
    assert rows[(6, 0)] == 60 and len(rows) == 400


def test_threaded_concurrent_appends_both_land(spark, tmp_path):
    """REAL thread-level race (not simulated staleness): two appenders
    committing simultaneously both land — whoever loses the manifest
    rename retries onto the winner's head. Data files are attempt-unique
    so the data plane cannot collide."""
    from concurrent.futures import ThreadPoolExecutor

    base = str(tmp_path / "tbl")
    sn.snapshot_commit(spark.range(1).withColumnRenamed("id", "k"), base, "append")

    def commit(lo):
        df = spark.range(lo, lo + 5).withColumnRenamed("id", "k")
        return sn.snapshot_commit(df, base, "append")

    with ThreadPoolExecutor(2) as ex:
        vs = sorted(ex.map(commit, [100, 200]))
    assert vs == [2, 3]
    assert _keys(spark, base) == [0] + list(range(100, 105)) + list(range(200, 205))


def test_history_restore_and_timestamp_asof(spark, table):
    """snapshot_history lists every version manifest-only;
    snapshot_restore rolls back as a NEW version referencing the target's
    files verbatim (zero data movement, history intact, restored files
    survive expiry through the restore's references); as_of_ts reads the
    newest version committed at or before the timestamp."""
    import time

    hist = {r.version: r for r in sn.snapshot_history(spark, table).collect()}
    assert sorted(hist) == [1, 2, 3]
    assert hist[1].op == "append" and hist[3].op == "overwrite"
    assert hist[2].n_files > hist[1].n_files
    assert all(hist[v].committed_at is not None for v in hist)

    # timestamp as-of: between v2 and v3 reads v2
    t_mid = (hist[2].committed_at + hist[3].committed_at) / 2
    assert sorted(
        r.k for r in sn.snapshot_read(spark, table, as_of_ts=t_mid).collect()
    ) == list(range(15))
    assert sorted(
        r.k for r in sn.snapshot_read(spark, table, as_of_ts=time.time()).collect()
    ) == [100, 101, 102]
    with pytest.raises(ValueError, match="at or before"):
        sn.snapshot_read(spark, table, as_of_ts=hist[1].committed_at - 10)
    with pytest.raises(ValueError, match="not both"):
        sn.snapshot_read(spark, table, version=1, as_of_ts=t_mid)

    # restore: rollback to v2 as version 4, nothing rewritten
    v4 = sn.snapshot_restore(spark, table, 2)
    assert v4 == 4
    m2, m4 = sn._read_manifest(spark, table, 2), sn._read_manifest(spark, table, 4)
    assert m4["files"] == m2["files"] and m4["op"] == "restore"
    assert _keys(spark, table) == list(range(15))
    assert _keys(spark, table, 3) == [100, 101, 102]  # bad version still readable

    # expiry keeps the restored files alive via the restore's references
    dropped, _ = sn.snapshot_expire(spark, table, keep_last=1, staging_grace_s=0)
    assert dropped == 3
    assert _keys(spark, table) == list(range(15))

    # restore on a streamed table must not re-open the exactly-once
    # window: the marker carries from the HEAD, not the restored version
    marked = table + "_marked"
    df = spark.range(3).withColumnRenamed("id", "k")
    sn.snapshot_commit(df, marked, "append", batch_id=0)
    sn.snapshot_commit(df, marked, "append", batch_id=7)
    sn.snapshot_restore(spark, marked, 1)
    assert sn.snapshot_latest_batch_id(spark, marked) == 7


def test_zorder_clustered_commit_prunes_both_dimensions(spark, tmp_path):
    """cluster_method='zorder' interleaves both cluster columns into the
    file layout, so a narrow range prune on EITHER dimension drops
    files — lexicographic range clustering can only do that for the
    leading column."""
    import pyspark.sql.functions as F

    base_z = str(tmp_path / "tbl_z")
    base_r = str(tmp_path / "tbl_r")
    df = spark.createDataFrame(
        [(i, i % 64, (i * 37) % 64) for i in range(4096)],
        "rid long, x long, y long",
    )
    sn.snapshot_commit(
        df, base_z, "append",
        cluster_by=["x", "y"], cluster_files=16,
        cluster_method="zorder", cluster_tiebreak="rid",
    )
    sn.snapshot_commit(
        df, base_r, "append", cluster_by=["x", "y"], cluster_files=16
    )
    mz = sn._read_manifest(spark, base_z, 1)
    n_all = len(mz["files"])
    assert n_all >= 8

    for col in ("x", "y"):
        pr = sn.snapshot_read(spark, base_z, prune=(col, 10, 13))
        assert 0 < len(pr.inputFiles()) < n_all, col
        got = sorted(
            (r.rid) for r in pr.filter(F.col(col).between(10, 13)).collect()
        )
        want = sorted(
            r.rid for r in df.filter(F.col(col).between(10, 13)).collect()
        )
        assert got == want, col

    # the lexicographic layout cannot prune on the SECOND column
    mr = sn._read_manifest(spark, base_r, 1)
    pr_y = sn._prune_files_by_range(mr, "y", 10, 13)
    pz_y = sn._prune_files_by_range(mz, "y", 10, 13)
    assert len(pz_y) < len(pr_y)  # z-order strictly better on dim 2

    with pytest.raises(ValueError, match="cluster_tiebreak"):
        sn.snapshot_commit(df, base_z, "append", cluster_by=["x", "y"],
                           cluster_method="zorder")
    with pytest.raises(ValueError, match="unknown cluster_method"):
        sn.snapshot_commit(df, base_z, "append", cluster_by=["x"],
                           cluster_method="hilbert")


def test_expire_dry_run_deletes_nothing(spark, table):
    """dry_run reports the same counts a real expiry would produce and
    leaves every manifest and data file in place."""
    import os

    would_drop, would_remove = sn.snapshot_expire(
        spark, table, keep_last=1, staging_grace_s=0, dry_run=True
    )
    assert would_drop == 2  # v1, v2 of 3
    assert sn.snapshot_versions(spark, table) == [1, 2, 3]  # nothing dropped
    all_files = {
        rel for v in (1, 2, 3) for rel in sn._read_manifest(spark, table, v)["files"]
    }
    assert all(os.path.exists(table + "/" + rel) for rel in all_files)

    dropped, removed = sn.snapshot_expire(
        spark, table, keep_last=1, staging_grace_s=0
    )
    assert (dropped, removed) == (would_drop, would_remove)  # audit was exact
    assert sn.snapshot_versions(spark, table) == [3]


def test_append_after_restore_and_legacy_manifest_asof(spark, table):
    """An append after a rollback builds on the RESTORED state (its
    manifest references the restore's files plus the new ones), and a
    pre-r11 manifest lacking committed_at stays eligible for as_of_ts
    without ever shadowing a stamped one."""
    import json
    import time

    v4 = sn.snapshot_restore(spark, table, 2)  # back to keys 0..14
    extra = spark.range(500, 502).withColumnRenamed("id", "k")
    v5 = sn.snapshot_commit(extra, table, "append")
    assert v5 == v4 + 1
    assert _keys(spark, table) == list(range(15)) + [500, 501]
    m4 = sn._read_manifest(spark, table, v4)
    m5 = sn._read_manifest(spark, table, v5)
    assert set(m4["files"]) < set(m5["files"])  # restore's files shared

    # strip committed_at from v1's manifest: a legacy (pre-r11) table
    # (drop the Hadoop-local-FS .crc sidecar too — rewriting the file
    # outside Hadoop would otherwise fail the checksum on next read)
    p1 = table + "/_snapshots/v00000001.json"
    m1 = json.load(open(p1))
    del m1["committed_at"]
    with open(p1, "w") as f:
        json.dump(m1, f)
    crc = table + "/_snapshots/.v00000001.json.crc"
    if os.path.exists(crc):
        os.remove(crc)
    hist = {r.version: r for r in sn.snapshot_history(spark, table).collect()}
    assert hist[1].committed_at is None  # surfaced, not faked
    # legacy versions read as arbitrarily old: an as_of_ts BEFORE every
    # stamped commit resolves to the legacy version, not an error
    t_old = min(
        r.committed_at for r in hist.values() if r.committed_at is not None
    ) - 1.0
    assert sorted(
        r.k for r in sn.snapshot_read(spark, table, as_of_ts=t_old).collect()
    ) == list(range(10))  # v1's rows
    # and "now" still reads the true head, never the legacy manifest
    assert sorted(
        r.k for r in sn.snapshot_read(spark, table, as_of_ts=time.time()).collect()
    ) == list(range(15)) + [500, 501]


def test_manifest_publish_is_exclusive_under_real_race(spark, table):
    """ADVICE r11 (high): POSIX rename REPLACES an existing destination,
    so the exists() pre-check alone cannot arbitrate — two writers that
    both pass it would both 'succeed' and the later manifest would
    silently clobber the earlier ACKNOWLEDGED commit. Publication now
    goes through an atomic hard-link (link(2) fails with EEXIST), so
    under a barrier-aligned two-thread race on the SAME version exactly
    one _commit_manifest returns and the published manifest is provably
    the winner's (its writer token matches). Repeated to make the
    both-passed-the-precheck window overwhelmingly likely at least once."""
    import json
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("k", LongType())])
    next_version = sn.snapshot_versions(spark, table)[-1] + 1
    for version in range(next_version, next_version + 5):
        barrier = threading.Barrier(2)
        outcomes = {}

        def attempt(tag, version=version, barrier=barrier, outcomes=outcomes):
            barrier.wait()
            try:
                sn._commit_manifest(
                    spark, table, version, op="append",
                    files=[f"data/race-{tag}.parquet"], schema=schema,
                )
                outcomes[tag] = "committed"
            except sn.SnapshotConflict:
                outcomes[tag] = "conflict"

        with ThreadPoolExecutor(2) as ex:
            list(ex.map(attempt, ["a", "b"]))
        assert sorted(outcomes.values()) == ["committed", "conflict"], outcomes
        winner = next(t for t, o in outcomes.items() if o == "committed")
        published = sn._read_manifest(spark, table, version)
        # the acknowledged writer's manifest is the one on disk — a
        # clobbering rename would leave the LOSER's content here
        assert published["files"] == [f"data/race-{winner}.parquet"]
        # no torn/partial tmp debris leaks into the manifest dir listing
        assert version in sn.snapshot_versions(spark, table)


def test_expire_grace_measures_age_from_publication(spark, tmp_path, monkeypatch):
    """ADVICE r11 (medium): rename preserves the staging write's mtime,
    so a commit whose staging WRITE outlasted the grace window used to
    publish files that were instantly sweepable by a concurrent expire
    during the move-to-manifest window. _stage_files now stamps
    publication time: files from an arbitrarily slow staging write are
    young at publication and survive the grace."""
    import pytest as _pytest
    from pyspark.sql.readwriter import DataFrameWriter

    base = str(tmp_path / "tbl")
    sn.snapshot_commit(spark.range(3).withColumnRenamed("id", "k"), base, "append")

    orig = DataFrameWriter.parquet

    def ancient_staging_write(self, path, **kw):
        orig(self, path, **kw)
        local = sn._uri_path(path)
        for root, _, files in os.walk(local):
            for f in files:
                os.utime(os.path.join(root, f), (0, 0))  # epoch-old write

    monkeypatch.setattr(DataFrameWriter, "parquet", ancient_staging_write)

    # crash this commit between data-file publication and the manifest
    # publish — exactly the window the grace exists to protect
    def no_manifest(*a, **kw):
        raise RuntimeError("crash before manifest")

    monkeypatch.setattr(sn, "_commit_manifest", no_manifest)
    with _pytest.raises(RuntimeError, match="crash before manifest"):
        sn.snapshot_commit(
            spark.range(10, 14).withColumnRenamed("id", "k"), base, "append"
        )
    # in-flight (unreferenced) files with an epoch-old WRITE mtime: the
    # grace must still protect them, because age is now stamped at move
    # time, not inherited from the write
    assert sn.snapshot_expire(spark, base, keep_last=1, staging_grace_s=600.0) == (
        0,
        0,
    )
    # sanity: they really are unreferenced — a zero-grace sweep takes them
    assert sn.snapshot_expire(spark, base, keep_last=1, staging_grace_s=0.0)[1] > 0


def test_legacy_manifest_after_stamped_excluded_from_ts_travel(spark, table):
    """ADVICE r11 (low): an unstamped (legacy) manifest at a HIGHER
    version than a stamped one has an unknown commit time >= the stamped
    predecessor's — treating it as arbitrarily old would make it shadow
    the stamped version at EVERY timestamp. It is now excluded from
    as_of_ts eligibility (still readable by explicit version)."""
    import json
    import time

    # strip committed_at from the HEAD manifest (v3, follows stamped v1/v2)
    p3 = table + "/_snapshots/v00000003.json"
    m3 = json.load(open(p3))
    del m3["committed_at"]
    with open(p3, "w") as f:
        json.dump(m3, f)
    crc = table + "/_snapshots/.v00000003.json.crc"
    if os.path.exists(crc):
        os.remove(crc)
    # as-of "now" resolves to the newest STAMPED version (v2), never the
    # legacy head
    assert sorted(
        r.k for r in sn.snapshot_read(spark, table, as_of_ts=time.time()).collect()
    ) == list(range(15))
    # explicit version access to the legacy manifest is untouched
    assert _keys(spark, table, 3) == [100, 101, 102]


def test_snapshot_scan_derives_pruning_from_plain_filters(spark, tmp_path):
    """snapshot_scan extracts conjunctive range/equality/IN predicates
    from a PLAIN filter (Column or SQL string) and file-prunes by the
    manifest stats — no explicit prune argument — while every
    non-extractable shape (OR, non-monotone cast, NaN, missing stats)
    falls back to scanning everything and stays answer-correct."""
    import json

    import pyspark.sql.functions as F

    base = str(tmp_path / "tbl")
    df = (
        spark.range(0, 800)
        .withColumnRenamed("id", "k")
        .withColumn("x", F.col("k") / 10.0)
    )
    sn.snapshot_commit(df.repartitionByRange(8, "k"), base, "append")
    total = len(sn._read_manifest(spark, base, 1)["files"])
    assert total == 8

    def files(d):
        return len(d.inputFiles())

    # range: prunes, correct
    r = sn.snapshot_scan(spark, base, filter=F.col("k").between(100, 199))
    assert files(r) < total and r.count() == 100
    # SQL string + extra non-prunable conjunct: still prunes on the range
    r = sn.snapshot_scan(spark, base, filter="k >= 700 AND k % 2 = 0")
    assert files(r) < total and r.count() == 50
    # IN list: one file
    r = sn.snapshot_scan(spark, base, filter=F.col("k").isin(5, 17, 23))
    assert files(r) == 1 and r.count() == 3
    # strict inequality relaxes to closed bounds: k > 100 prunes the
    # [0..99] file but keeps the boundary file holding 100, answer exact
    r = sn.snapshot_scan(spark, base, filter=F.col("k") > 100)
    assert files(r) < total and r.count() == 699
    r = sn.snapshot_scan(spark, base, filter=F.col("k") > 99)
    assert r.count() == 700  # boundary-exact strict compare stays correct
    # OR: nothing extractable -> full scan, correct
    r = sn.snapshot_scan(spark, base, filter=(F.col("k") < 5) | (F.col("k") > 795))
    assert files(r) == total and r.count() == 9
    # integral->double coercion prunes (padded outward, still sound)
    r = sn.snapshot_scan(spark, base, filter=F.col("k") > 699.5)
    assert files(r) < total and r.count() == 100
    # non-monotone cast (double->int truncation): no pruning, correct
    r = sn.snapshot_scan(spark, base, filter=F.col("x").cast("int") == 3)
    assert files(r) == total and r.count() == 10
    # NaN literal: no pruning, no rows, no error
    r = sn.snapshot_scan(spark, base, filter=F.col("x") > float("nan"))
    assert files(r) == total and r.count() == 0
    # filter referencing an unknown column fails analysis like a real scan
    import pytest as _pytest

    with _pytest.raises(Exception, match="nope"):
        sn.snapshot_scan(spark, base, filter="nope > 3")

    # missing stats (hand-stripped manifest): conservative full scan
    p1 = base + "/_snapshots/v00000001.json"
    m = json.load(open(p1))
    del m["stats"]
    with open(p1, "w") as f:
        json.dump(m, f)
    crc = base + "/_snapshots/.v00000001.json.crc"
    if os.path.exists(crc):
        os.remove(crc)
    r = sn.snapshot_scan(spark, base, filter=F.col("k").between(100, 199))
    assert files(r) == total and r.count() == 100


def test_snapshot_scan_prunes_partition_dirs_and_time_travel(spark, tmp_path):
    """snapshot_scan's extraction composes with partition-directory
    pruning and as-of reads: an equality on the partition column scans
    only that value's directory, at the historical version."""
    import pyspark.sql.functions as F

    base = str(tmp_path / "tbl")
    df = (
        spark.range(0, 300)
        .withColumnRenamed("id", "k")
        .withColumn("grp", (F.col("k") % 3).cast("string"))
    )
    sn.snapshot_commit(df, base, "append", partition_by=["grp"])
    sn.snapshot_commit(
        spark.range(300, 600)
        .withColumnRenamed("id", "k")
        .withColumn("grp", (F.col("k") % 3).cast("string")),
        base,
        "append",
    )
    m2 = sn._read_manifest(spark, base, 2)
    r = sn.snapshot_scan(spark, base, filter="grp = '1' AND k < 450")
    scanned = r.inputFiles()
    assert 0 < len(scanned) < len(m2["files"])
    assert all("grp=1" in f for f in scanned)
    assert r.count() == 150
    # as-of version 1 through the same path
    r1 = sn.snapshot_scan(spark, base, filter=F.col("grp") == "2", version=1)
    assert all("grp=2" in f for f in r1.inputFiles())
    assert r1.count() == 100


def _kv(spark, lo, hi, v=0):
    import pyspark.sql.functions as F

    return (
        spark.range(lo, hi)
        .withColumnRenamed("id", "k")
        .withColumn("v", F.lit(v).cast("long"))
    )


def test_merge_rebases_over_concurrent_append(spark, tmp_path, monkeypatch):
    """VERDICT r11 directive 3: an append racing a merge BOTH land. The
    merge reads the head, stages its rewrite, loses the publish race to
    an append with DISJOINT keys, validates file-disjointness + no key
    overlap in the appended delta, and rebases — the final manifest
    carries the appended files verbatim next to the merge's rewrite."""
    base = str(tmp_path / "tbl")
    sn.snapshot_commit(_kv(spark, 0, 100).repartitionByRange(4, "k"), base, "append")

    # make the merge read a stale head: an append lands AFTER the merge's
    # head read but BEFORE its manifest publish
    real_versions = sn.snapshot_versions
    state = {"raced": False}

    def versions_with_race(spark_, path_):
        out = real_versions(spark_, path_)
        if not state["raced"]:
            state["raced"] = True
            sn.snapshot_versions = real_versions
            try:
                sn.snapshot_commit(_kv(spark, 500, 510, v=9), base, "append")
            finally:
                sn.snapshot_versions = versions_with_race
            return out  # stale list: the racer's version is invisible
        return out

    monkeypatch.setattr(sn, "snapshot_versions", versions_with_race)
    v = sn.snapshot_merge(_kv(spark, 50, 60, v=1), base, ["k"])
    monkeypatch.setattr(sn, "snapshot_versions", real_versions)
    assert v == 3  # append took v2, merge rebased onto it at v3
    rows = {r.k: r.v for r in sn.snapshot_read(spark, base).collect()}
    assert len(rows) == 110  # 100 original + 10 appended, no duplicates
    assert all(rows[k] == 1 for k in range(50, 60))  # merge applied
    assert all(rows[k] == 9 for k in range(500, 510))  # append survived
    m3 = sn._read_manifest(spark, base, 3)
    m2 = sn._read_manifest(spark, base, 2)
    appended = set(m2["files"]) - set(sn._read_manifest(spark, base, 1)["files"])
    assert appended <= set(m3["files"])  # racer's files referenced verbatim


def test_merge_raises_when_concurrent_append_carries_its_keys(
    spark, tmp_path, monkeypatch
):
    """True conflict: the racing append adds rows with keys the merge is
    updating — rebasing would leave duplicate keys, so the merge raises
    instead, and the table is exactly the append's state."""
    base = str(tmp_path / "tbl")
    sn.snapshot_commit(_kv(spark, 0, 100).repartitionByRange(4, "k"), base, "append")

    real_versions = sn.snapshot_versions
    state = {"raced": False}

    def versions_with_race(spark_, path_):
        out = real_versions(spark_, path_)
        if not state["raced"]:
            state["raced"] = True
            sn.snapshot_versions = real_versions
            try:
                sn.snapshot_commit(_kv(spark, 55, 58, v=9), base, "append")
            finally:
                sn.snapshot_versions = versions_with_race
            return out
        return out

    monkeypatch.setattr(sn, "snapshot_versions", versions_with_race)
    with pytest.raises(sn.SnapshotConflict, match="matching this merge's keys"):
        sn.snapshot_merge(_kv(spark, 50, 60, v=1), base, ["k"])
    monkeypatch.setattr(sn, "snapshot_versions", real_versions)
    assert sn.snapshot_versions(spark, base) == [1, 2]
    rows = {r.k: r.v for r in sn.snapshot_read(spark, base).collect()}
    assert all(rows[k] == 9 for k in range(55, 58))  # append intact


def test_rewrite_conflict_on_overlapping_files_raises(spark, tmp_path, monkeypatch):
    """Two rewrites of the SAME file cannot both land: the loser's
    touched files were removed by the winner, so it raises."""
    base = str(tmp_path / "tbl")
    sn.snapshot_commit(_kv(spark, 0, 100).coalesce(1), base, "append")

    real_versions = sn.snapshot_versions
    state = {"raced": False}

    def versions_with_race(spark_, path_):
        out = real_versions(spark_, path_)
        if not state["raced"]:
            state["raced"] = True
            sn.snapshot_versions = real_versions
            try:
                # winner rewrites the single file (disjoint KEYS, same file)
                sn.snapshot_merge(_kv(spark, 90, 95, v=7), base, ["k"])
            finally:
                sn.snapshot_versions = versions_with_race
            return out
        return out

    monkeypatch.setattr(sn, "snapshot_versions", versions_with_race)
    with pytest.raises(sn.SnapshotConflict, match="removed.*file"):
        sn.snapshot_merge(_kv(spark, 10, 15, v=1), base, ["k"])
    monkeypatch.setattr(sn, "snapshot_versions", real_versions)
    rows = {r.k: r.v for r in sn.snapshot_read(spark, base).collect()}
    assert all(rows[k] == 7 for k in range(90, 95))  # winner intact
    assert all(rows[k] == 0 for k in range(10, 15))  # loser left no trace


def test_compact_and_delete_rebase_over_concurrent_append(
    spark, tmp_path, monkeypatch
):
    """Compact keeps a racing append's files verbatim next to the
    compacted ones; delete under snapshot isolation lets appended rows
    survive even when they match the condition (the delete read a
    snapshot that never contained them)."""
    import pyspark.sql.functions as F

    base = str(tmp_path / "tbl")
    sn.snapshot_commit(_kv(spark, 0, 50).repartitionByRange(4, "k"), base, "append")

    real_versions = sn.snapshot_versions

    def race_once_with(append_lo, append_hi, v):
        state = {"raced": False}

        def fn(spark_, path_):
            out = real_versions(spark_, path_)
            if not state["raced"]:
                state["raced"] = True
                sn.snapshot_versions = real_versions
                try:
                    sn.snapshot_commit(
                        _kv(spark, append_lo, append_hi, v=v), base, "append"
                    )
                finally:
                    sn.snapshot_versions = fn
                return out
            return out

        return fn

    monkeypatch.setattr(sn, "snapshot_versions", race_once_with(100, 105, 9))
    v = sn.snapshot_compact(spark, base)
    monkeypatch.setattr(sn, "snapshot_versions", real_versions)
    assert v == 3
    rows = {r.k: r.v for r in sn.snapshot_read(spark, base).collect()}
    assert len(rows) == 55 and all(rows[k] == 9 for k in range(100, 105))

    # delete k >= 100 racing an append of MATCHING rows (k=200..204):
    # snapshot isolation — appended rows survive
    monkeypatch.setattr(sn, "snapshot_versions", race_once_with(200, 205, 9))
    v = sn.snapshot_delete(spark, base, F.col("k") >= 100)
    monkeypatch.setattr(sn, "snapshot_versions", real_versions)
    assert v == 5
    rows = {r.k: r.v for r in sn.snapshot_read(spark, base).collect()}
    assert set(rows) == set(range(50)) | set(range(200, 205))


def test_threaded_append_races_merge_both_land(spark, tmp_path):
    """REAL two-thread race (the directive's done-criterion): an append
    and a key-disjoint merge run simultaneously; BOTH land regardless of
    publish order, and the final state is their serial composition."""
    from concurrent.futures import ThreadPoolExecutor

    base = str(tmp_path / "tbl")
    sn.snapshot_commit(_kv(spark, 0, 100).repartitionByRange(4, "k"), base, "append")

    def do_append():
        return ("append", sn.snapshot_commit(_kv(spark, 500, 510, v=9), base, "append"))

    def do_merge():
        return ("merge", sn.snapshot_merge(_kv(spark, 50, 60, v=1), base, ["k"]))

    with ThreadPoolExecutor(2) as ex:
        results = dict(f for f in ex.map(lambda g: g(), [do_append, do_merge]))
    assert sorted(results.values()) == [2, 3]
    rows = {r.k: r.v for r in sn.snapshot_read(spark, base).collect()}
    assert len(rows) == 110
    assert all(rows[k] == 1 for k in range(50, 60))
    assert all(rows[k] == 9 for k in range(500, 510))


def test_type_widening_schema_evolution(spark, tmp_path):
    """Widening appends evolve the column type manifest-only (int->long,
    float->double, decimal precision growth); narrow batches ride a wide
    table unchanged; lossy pairs (long<->double, string vs int) refuse."""
    import pyspark.sql.functions as F

    base = str(tmp_path / "tbl")
    narrow = spark.range(0, 5).select(
        F.col("id").cast("int").alias("k"),
        F.col("id").cast("float").alias("x"),
        F.col("id").cast("decimal(5,2)").alias("d"),
    )
    sn.snapshot_commit(narrow, base, "append")
    wide = spark.range(5, 8).select(
        F.col("id").cast("long").alias("k"),
        F.col("id").cast("double").alias("x"),
        F.col("id").cast("decimal(12,2)").alias("d"),
    )
    v2 = sn.snapshot_commit(wide, base, "append")
    head = sn.snapshot_read(spark, base, v2)
    assert [f.dataType.simpleString() for f in head.schema.fields] == [
        "bigint",
        "double",
        "decimal(12,2)",
    ]
    assert sorted(r.k for r in head.collect()) == list(range(8))
    # as-of pre-widen stays pinned to the narrow schema
    v1 = sn.snapshot_read(spark, base, 1)
    assert [f.dataType.simpleString() for f in v1.schema.fields] == [
        "int",
        "float",
        "decimal(5,2)",
    ]
    # a NARROW batch appended to the widened table: schema stays wide
    v3 = sn.snapshot_commit(
        spark.range(8, 10).select(
            F.col("id").cast("int").alias("k"),
            F.col("id").cast("float").alias("x"),
            F.col("id").cast("decimal(5,2)").alias("d"),
        ),
        base,
        "append",
    )
    out = sn.snapshot_read(spark, base, v3)
    assert out.schema["k"].dataType.simpleString() == "bigint"
    assert sorted(r.k for r in out.collect()) == list(range(10))

    # lossy/incompatible changes refuse
    for bad in (
        spark.range(1).select(F.col("id").cast("double").alias("k")),  # long<->dbl
        spark.range(1).select(F.col("id").cast("string").alias("k")),
        spark.range(1).select(F.col("id").cast("decimal(12,4)").alias("d")),  # scale
    ):
        with pytest.raises(ValueError, match="changes type"):
            sn.snapshot_commit(bad, base, "append")


def test_merge_widens_key_and_value_types(spark, tmp_path):
    """snapshot_merge through a widening update batch: the kept rows cast
    up to the merged type so the COW union is type-consistent, and the
    result values are exact."""
    import pyspark.sql.functions as F

    base = str(tmp_path / "tbl")
    sn.snapshot_commit(
        spark.range(0, 20).select(
            F.col("id").cast("int").alias("k"),
            F.col("id").cast("float").alias("v"),
        ),
        base,
        "append",
    )
    updates = spark.range(5, 8).select(
        F.col("id").cast("long").alias("k"),
        (F.col("id") * 10).cast("double").alias("v"),
    )
    sn.snapshot_merge(updates, base, ["k"])
    out = sn.snapshot_read(spark, base)
    assert out.schema["k"].dataType.simpleString() == "bigint"
    assert out.schema["v"].dataType.simpleString() == "double"
    rows = {r.k: r.v for r in out.collect()}
    assert len(rows) == 20
    assert rows[6] == 60.0 and rows[4] == 4.0


def test_head_hint_probe_and_fallbacks(spark, table):
    """_head_version resolves the newest version in O(1) via the HEAD
    hint and stays CORRECT under every hint failure mode: stale (probe
    forward), missing, garbage, and pointing past reality (fallback to
    the listing). The hint is advisory only — no failure mode changes
    the answer."""
    head_path = table + "/_snapshots/HEAD"
    assert os.path.exists(head_path)  # every commit refreshes it
    assert sn._head_version(spark, table) == 3
    # stale hint: probe forward finds the true head
    with open(head_path, "w") as f:
        f.write("1")
    assert sn._head_version(spark, table) == 3
    # garbage hint: listing fallback
    with open(head_path, "w") as f:
        f.write("not-a-number")
    assert sn._head_version(spark, table) == 3
    # hint past reality (table recreated shorter): listing fallback
    with open(head_path, "w") as f:
        f.write("99")
    assert sn._head_version(spark, table) == 3
    # missing hint entirely
    os.remove(head_path)
    crc = table + "/_snapshots/.HEAD.crc"
    if os.path.exists(crc):
        os.remove(crc)
    assert sn._head_version(spark, table) == 3
    # reads and commits repair it
    assert sorted(r.k for r in sn.snapshot_read(spark, table).collect()) == [
        100,
        101,
        102,
    ]
    v = sn.snapshot_commit(
        spark.range(1).withColumnRenamed("id", "k"), table, "append"
    )
    assert int(open(head_path).read()) == v
    assert sn._head_version(spark, table) == v


def test_merge_tombstones_delete_keys_atomically(spark, tmp_path):
    """delete_col makes a merge batch a full CDC changeset: tombstoned
    keys are removed, live rows upsert, unmatched tombstones are no-ops,
    the marker never lands in the table, and the whole changeset is ONE
    version (time travel shows the pre-changeset state intact)."""
    import pyspark.sql.functions as F

    base = str(tmp_path / "tbl")
    sn.snapshot_commit(
        spark.range(0, 20)
        .withColumnRenamed("id", "k")
        .withColumn("v", F.col("k") * 10),
        base,
        "append",
    )
    updates = spark.createDataFrame(
        [
            (5, 555, False),   # update
            (6, None, True),   # delete existing
            (99, None, True),  # tombstone for a key that never existed
            (20, 200, False),  # insert
        ],
        "k long, v long, __del boolean",
    )
    v2 = sn.snapshot_merge(updates, base, ["k"], delete_col="__del")
    out = sn.snapshot_read(spark, base, v2)
    assert "__del" not in out.columns  # op-code, not data
    rows = {r.k: r.v for r in out.collect()}
    assert len(rows) == 20  # 20 - 1 deleted + 1 inserted
    assert rows[5] == 555 and rows[20] == 200
    assert 6 not in rows and 99 not in rows
    # pre-changeset version intact (deletes are COW, not destructive)
    assert sn.snapshot_read(spark, base, 1).count() == 20
    assert {r.k for r in sn.snapshot_read(spark, base, 1).collect()} == set(
        range(20)
    )
    # one op per key per changeset: an update AND a delete for one key
    # is ambiguous and refuses
    dup = spark.createDataFrame(
        [(7, 70, False), (7, None, True)], "k long, v long, __del boolean"
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        sn.snapshot_merge(dup, base, ["k"], delete_col="__del")
    # NULL marker means upsert; missing marker column refuses
    with pytest.raises(ValueError, match="not in updates"):
        sn.snapshot_merge(
            spark.createDataFrame([(1, 1)], "k long, v long"),
            base,
            ["k"],
            delete_col="__nope",
        )
    nulls = spark.createDataFrame(
        [(3, 33, None)], "k long, v long, __del boolean"
    )
    v3 = sn.snapshot_merge(nulls, base, ["k"], delete_col="__del")
    assert {r.v for r in sn.snapshot_read(spark, base, v3).filter(
        F.col("k") == 3
    ).collect()} == {33}


def test_batch_lineage_scan_matches_driver_scan(spark, table, monkeypatch):
    """Long-lineage scans (history, timestamp as-of) switch to ONE
    distributed spark.read.json over the manifest dir past
    _LINEAGE_BATCH_THRESHOLD; forcing the batch path on a small table
    must give row-identical history and identical as-of resolution."""
    import time

    driver_hist = sorted(
        tuple(r) for r in sn.snapshot_history(spark, table).collect()
    )
    t_now = time.time()
    driver_asof = sn._resolve_version(spark, table, None, t_now)
    hist2 = {r.version: r for r in sn.snapshot_history(spark, table).collect()}
    t_mid = (hist2[2].committed_at + hist2[3].committed_at) / 2

    monkeypatch.setattr(sn, "_LINEAGE_BATCH_THRESHOLD", 0)
    batch_hist = sorted(
        tuple(r) for r in sn.snapshot_history(spark, table).collect()
    )
    assert batch_hist == driver_hist
    assert sn._resolve_version(spark, table, None, t_now) == driver_asof
    assert sn._resolve_version(spark, table, None, t_mid) == 2


# ---------------------------------------------------------------------------
# merge-on-read equality deletes (snapshot_delete_keys) + change data feed


def _k(spark, *vals):
    return spark.createDataFrame([(v,) for v in vals], "k long")


def test_mor_delete_rewrites_nothing_and_time_travels(spark, tmp_path):
    base = str(tmp_path / "tbl")
    sn.snapshot_commit(_kv(spark, 0, 100).repartition(4), base, "append")
    v2 = sn.snapshot_delete_keys(_k(spark, *range(10)), base)
    m1, m2 = sn._read_manifest(spark, base, 1), sn._read_manifest(spark, base, v2)
    assert m2["files"] == m1["files"]  # zero data files rewritten
    assert len(m2["deletes"]) >= 1 and m2["deletes"][0]["cols"] == ["k"]
    assert _keys(spark, base) == list(range(10, 100))
    assert _keys(spark, base, 1) == list(range(100))  # pre-delete intact
    assert sn.snapshot_history(spark, base).filter(
        "op = 'delete_keys'"
    ).count() == 1


def test_mor_delete_scoping_reinsert_visible(spark, tmp_path):
    """A key re-inserted AFTER the equality delete must be visible: the
    entry applies only to files added at or before its snapshot."""
    base = str(tmp_path / "tbl")
    sn.snapshot_commit(_kv(spark, 0, 20), base, "append")
    sn.snapshot_delete_keys(_k(spark, 5, 6), base)
    sn.snapshot_commit(_kv(spark, 5, 6, v=7), base, "append")
    rows = {r.k: r.v for r in sn.snapshot_read(spark, base).collect()}
    assert 6 not in rows and rows[5] == 7
    # and a SECOND delete masks both old and re-inserted generations
    sn.snapshot_delete_keys(_k(spark, 5), base)
    assert 5 not in _keys(spark, base)


def test_mor_delete_validates(spark, tmp_path):
    base = str(tmp_path / "tbl")
    sn.snapshot_commit(_kv(spark, 0, 5), base, "append")
    head = sn.snapshot_versions(spark, base)[-1]
    # empty key set: no-op, head unchanged
    assert sn.snapshot_delete_keys(_k(spark), base) == head
    with pytest.raises(ValueError, match="not in"):
        sn.snapshot_delete_keys(
            spark.createDataFrame([(1,)], "nope long"), base
        )
    with pytest.raises(ValueError, match="NULL"):
        sn.snapshot_delete_keys(
            spark.createDataFrame([(None,)], "k long"), base
        )
    assert sn.snapshot_versions(spark, base)[-1] == head


def test_merge_and_cow_delete_never_resurrect_mor_deleted_rows(spark, tmp_path):
    import pyspark.sql.functions as F

    base = str(tmp_path / "tbl")
    sn.snapshot_commit(_kv(spark, 0, 50).repartition(2), base, "append")
    sn.snapshot_delete_keys(_k(spark, *range(10)), base)
    # merge updating OTHER keys must not carry masked rows into rewrites
    sn.snapshot_merge(_kv(spark, 20, 25, v=1), base, ["k"])
    assert _keys(spark, base) == list(range(10, 50))
    # COW delete over the MOR table: survivors exclude masked rows
    sn.snapshot_delete(spark, base, F.col("k") >= 40)
    assert _keys(spark, base) == list(range(10, 40))


def test_compact_absorbs_entries_and_expire_reclaims_key_files(spark, tmp_path):
    import glob

    base = str(tmp_path / "tbl")
    sn.snapshot_commit(_kv(spark, 0, 30).repartition(3), base, "append")
    v2 = sn.snapshot_delete_keys(_k(spark, 1, 2, 3), base)
    key_file = sn._read_manifest(spark, base, v2)["deletes"][0]["file"]
    # retained manifests reference the key file: expire must keep it
    sn.snapshot_expire(spark, base, keep_last=2, staging_grace_s=0)
    assert os.path.exists(f"{base}/{key_file}")
    assert _keys(spark, base) == sorted(set(range(30)) - {1, 2, 3})
    v3 = sn.snapshot_compact(spark, base)
    assert not sn._read_manifest(spark, base, v3).get("deletes")
    assert _keys(spark, base) == sorted(set(range(30)) - {1, 2, 3})
    # entries absorbed: once pre-compact versions expire, the key file goes
    sn.snapshot_expire(spark, base, keep_last=1, staging_grace_s=0)
    assert not os.path.exists(f"{base}/{key_file}")
    assert _keys(spark, base) == sorted(set(range(30)) - {1, 2, 3})
    assert glob.glob(base + "/data/*.parquet")


def test_rewrite_racing_mor_delete_is_true_conflict(spark, tmp_path):
    """A rewrite that read state BEFORE an equality delete landed must NOT
    rebase past it — its new files would resurrect the deleted rows."""
    base = str(tmp_path / "tbl")
    sn.snapshot_commit(_kv(spark, 0, 20), base, "append")
    head = sn._read_manifest(spark, base, 1)
    # the rewrite stages its files against v1...
    staged = sn._stage_files(
        sn._read_data(spark, base, head, head["files"]).limit(15), base, 2
    )
    # ...then an equality delete wins the race to v2
    sn.snapshot_delete_keys(_k(spark, 7), base)
    with pytest.raises(sn.SnapshotConflict, match="equality delete"):
        sn._commit_rewrite(
            spark, base, head, 1, op="replace",
            touched=list(head["files"]), new_files=staged,
            new_schema=sn._read_data(spark, base, head, head["files"]).schema,
        )
    assert 7 not in _keys(spark, base)  # the delete stands


def test_rewrite_racing_rename_is_true_conflict(spark, tmp_path):
    """A rewrite that staged files under the OLD column names must NOT
    rebase past a concurrent rename/drop: its files get stamped with an
    add-version postdating the rename, so the renamed field would
    resolve to a physical name they don't contain (NULLs) and the schema
    merge would resurrect the old name as a zombie column."""
    base = str(tmp_path / "tbl")
    sn.snapshot_commit(_kv(spark, 0, 20), base, "append")
    head = sn._read_manifest(spark, base, 1)
    stale_df = sn._read_data(spark, base, head, head["files"])
    staged = sn._stage_files(stale_df, base, 2)
    # ...then a metadata-only rename wins the race to v2 (changes no
    # files, so the file-overlap and delete-entry checks can't fire)
    sn.snapshot_rename_column(spark, base, "v", "w")
    with pytest.raises(sn.SnapshotConflict, match="rename/drop"):
        sn._commit_rewrite(
            spark, base, head, 1, op="replace",
            touched=list(head["files"]), new_files=staged,
            new_schema=stale_df.schema,
        )
    # the rename stands and the table reads clean: no zombie column,
    # renamed column serves the data
    got = sn.snapshot_read(spark, base)
    assert got.columns == ["k", "w"]
    assert {(r.k, r.w) for r in got.collect()} == {(i, 0) for i in range(20)}


def test_rewrite_racing_drop_is_true_conflict(spark, tmp_path):
    base = str(tmp_path / "tbl")
    sn.snapshot_commit(_kv(spark, 0, 10), base, "append")
    head = sn._read_manifest(spark, base, 1)
    stale_df = sn._read_data(spark, base, head, head["files"])
    staged = sn._stage_files(stale_df, base, 2)
    sn.snapshot_drop_column(spark, base, "v")
    with pytest.raises(sn.SnapshotConflict, match="rename/drop"):
        sn._commit_rewrite(
            spark, base, head, 1, op="replace",
            touched=list(head["files"]), new_files=staged,
            new_schema=stale_df.schema,
        )
    assert sn.snapshot_read(spark, base).columns == ["k"]


def test_delete_keys_retry_revalidates_renamed_key(spark, tmp_path, monkeypatch):
    """A rename of a key column racing snapshot_delete_keys must abort
    the retry: committing the stale entry would put cols in the manifest
    that no longer exist in the schema, and every subsequent read's
    anti-join would throw — bricking the table."""
    base = str(tmp_path / "tbl")
    sn.snapshot_commit(_kv(spark, 0, 30), base, "append")

    real_versions = sn.snapshot_versions
    state = {"raced": False}

    def versions_with_race(spark_, path_):
        out = real_versions(spark_, path_)
        if not state["raced"]:
            state["raced"] = True
            sn.snapshot_versions = real_versions
            try:
                # the rename validates against a head with no live
                # delete entry yet, so IT succeeds — the delete's retry
                # must then notice its key column is gone
                sn.snapshot_rename_column(spark, base, "k", "kk")
            finally:
                sn.snapshot_versions = versions_with_race
            return out  # stale list: the rename's version is invisible
        return out

    monkeypatch.setattr(sn, "snapshot_versions", versions_with_race)
    with pytest.raises(sn.SnapshotConflict, match="renamed or dropped"):
        sn.snapshot_delete_keys(_k(spark, 3, 4), base)
    monkeypatch.setattr(sn, "snapshot_versions", real_versions)
    # the table still reads (no orphaned delete entry landed)
    got = sn.snapshot_read(spark, base)
    assert got.columns == ["kk", "v"]
    assert got.count() == 30


def test_mor_delete_races_append_both_land(spark, tmp_path):
    from concurrent.futures import ThreadPoolExecutor

    base = str(tmp_path / "tbl")
    sn.snapshot_commit(_kv(spark, 0, 50), base, "append")

    def do_append():
        return sn.snapshot_commit(_kv(spark, 100, 105), base, "append")

    def do_delete():
        return sn.snapshot_delete_keys(_k(spark, 3, 4), base)

    with ThreadPoolExecutor(2) as ex:
        got = sorted(ex.map(lambda g: g(), [do_append, do_delete]))
    assert got == [2, 3]
    ks = _keys(spark, base)
    assert 3 not in ks and 4 not in ks
    assert all(k in ks for k in range(100, 105))


def test_mor_delete_on_partitioned_table(spark, tmp_path):
    import pyspark.sql.functions as F

    base = str(tmp_path / "tbl")
    df = _kv(spark, 0, 40).withColumn("p", (F.col("k") % 2).cast("int"))
    sn.snapshot_commit(df, base, "append", partition_by=["p"])
    sn.snapshot_delete_keys(_k(spark, 0, 1, 2, 3), base)
    assert _keys(spark, base) == list(range(4, 40))
    # partition columns still materialize through the grouped read
    assert sn.snapshot_read(spark, base).filter("p = 0").count() == 18


def test_changes_append_only(spark, tmp_path):
    base = str(tmp_path / "tbl")
    v1 = sn.snapshot_commit(_kv(spark, 0, 10), base, "append")
    v2 = sn.snapshot_commit(_kv(spark, 10, 13, v=1), base, "append")
    ch = sn.snapshot_changes(spark, base, v1, v2)
    got = sorted((r.k, r.v, r._change_type) for r in ch.collect())
    assert got == [(10, 1, "insert"), (11, 1, "insert"), (12, 1, "insert")]
    assert sn.snapshot_changes(spark, base, v2, v2).count() == 0


def test_changes_on_map_typed_table(spark, tmp_path):
    # MapType columns aren't group-by-able; the CDF must canonicalize
    # them for the multiset diff instead of cliffing with an
    # AnalysisException at consumption time
    import pyspark.sql.functions as F

    base = str(tmp_path / "tbl")
    df1 = spark.createDataFrame(
        [(1, {"a": 1, "b": 2}), (2, {"x": 9})],
        "k long, props map<string,int>",
    )
    v1 = sn.snapshot_commit(df1, base, "append")
    df2 = spark.createDataFrame(
        [(3, {"b": 2, "a": 1})], "k long, props map<string,int>"
    )
    v2 = sn.snapshot_commit(df2, base, "append")
    ch = sn.snapshot_changes(spark, base, v1, v2)
    rows = ch.collect()
    assert [(r.k, dict(r.props), r._change_type) for r in rows] == [
        (3, {"a": 1, "b": 2}, "insert")
    ]
    # carried rows with key-order-permuted but EQUAL maps net-cancel:
    # rewrite k=1's file via a COW delete of k=2 and diff across it
    v3 = sn.snapshot_delete(spark, base, F.col("k") == 2)
    got = sorted(
        (r.k, r._change_type) for r in sn.snapshot_changes(spark, base, v2, v3).collect()
    )
    assert got == [(2, "delete")]


def test_changes_classifies_updates_deletes_inserts(spark, tmp_path):
    import pyspark.sql.functions as F

    base = str(tmp_path / "tbl")
    v1 = sn.snapshot_commit(_kv(spark, 0, 20).repartition(2), base, "append")
    sn.snapshot_merge(_kv(spark, 5, 7, v=9), base, ["k"])       # update 5,6
    sn.snapshot_merge(_kv(spark, 100, 102, v=1), base, ["k"])   # insert 100,101
    vh = sn.snapshot_delete(spark, base, F.col("k") == 15)      # delete 15
    ch = sn.snapshot_changes(spark, base, v1, vh, key_cols=["k"])
    by_type = {
        t: sorted(r.k for r in rows)
        for t, rows in __import__("itertools").groupby(
            sorted(ch.collect(), key=lambda r: r._change_type),
            key=lambda r: r._change_type,
        )
    }
    assert by_type == {
        "delete": [15],
        "insert": [100, 101],
        "update_postimage": [5, 6],
        "update_preimage": [5, 6],
    }
    post = {r.k: r.v for r in ch.filter("_change_type = 'update_postimage'").collect()}
    assert post == {5: 9, 6: 9}


def test_changes_nets_out_within_range_and_sees_mor_deletes(spark, tmp_path):
    import pyspark.sql.functions as F

    base = str(tmp_path / "tbl")
    v1 = sn.snapshot_commit(_kv(spark, 0, 10), base, "append")
    sn.snapshot_commit(_kv(spark, 50, 55), base, "append")      # transient
    sn.snapshot_delete(spark, base, F.col("k") >= 50)           # gone again
    vm = sn.snapshot_delete_keys(_k(spark, 2), base)            # MOR delete
    ch = sn.snapshot_changes(spark, base, v1, vm)
    got = sorted((r.k, r._change_type) for r in ch.collect())
    # transient 50..54 cancel exactly; the MOR delete of 2 IS a change
    # even though no data file differs (the entry re-scoped a shared file)
    assert got == [(2, "delete")]


def test_changes_validates_and_reads_under_to_schema(spark, tmp_path):
    import pyspark.sql.functions as F

    base = str(tmp_path / "tbl")
    v1 = sn.snapshot_commit(
        spark.range(0, 4).select(F.col("id").cast("int").alias("k")), base, "append"
    )
    v2 = sn.snapshot_commit(
        spark.range(4, 6).select(F.col("id").cast("long").alias("k")), base, "append"
    )
    with pytest.raises(ValueError, match="not in"):
        sn.snapshot_changes(spark, base, 99)
    with pytest.raises(ValueError, match=">"):
        sn.snapshot_changes(spark, base, v2, v1)
    ch = sn.snapshot_changes(spark, base, v1, v2)
    assert dict(ch.dtypes)["k"] == "bigint"  # widened `to` schema
    assert sorted(r.k for r in ch.collect()) == [4, 5]


# ---------------------------------------------------------------------------
# field-id column rename / drop (metadata-only schema evolution)


def test_rename_is_metadata_only_and_time_travels(spark, tmp_path):
    base = str(tmp_path / "tbl")
    sn.snapshot_commit(_kv(spark, 0, 10), base, "append")
    v2 = sn.snapshot_rename_column(spark, base, "v", "w")
    assert (
        sn._read_manifest(spark, base, v2)["files"]
        == sn._read_manifest(spark, base, 1)["files"]
    )
    head = sn.snapshot_read(spark, base)
    assert head.columns == ["k", "w"]
    assert {r.k: r.w for r in head.collect()} == {k: 0 for k in range(10)}
    assert sn.snapshot_read(spark, base, 1).columns == ["k", "v"]
    assert sn.snapshot_history(spark, base).filter(
        "op = 'rename_column'"
    ).count() == 1


def test_rename_mixed_epochs_merge_and_chain(spark, tmp_path):
    base = str(tmp_path / "tbl")
    sn.snapshot_commit(_kv(spark, 0, 10), base, "append")
    sn.snapshot_rename_column(spark, base, "v", "w")
    # append under the NEW name: both epochs serve the same logical field
    sn.snapshot_commit(
        spark.createDataFrame([(100, 5)], "k long, w long"), base, "append"
    )
    # merge across the rename updates an OLD-epoch row
    sn.snapshot_merge(
        spark.createDataFrame([(3, 33)], "k long, w long"), base, ["k"]
    )
    rows = {r.k: r.w for r in sn.snapshot_read(spark, base).collect()}
    assert rows[3] == 33 and rows[100] == 5 and rows[0] == 0 and len(rows) == 11
    # second rename: the per-file log chains
    sn.snapshot_rename_column(spark, base, "w", "x")
    rows = {r.k: r.x for r in sn.snapshot_read(spark, base).collect()}
    assert rows[3] == 33 and rows[100] == 5


def test_drop_then_readd_never_resurrects(spark, tmp_path):
    base = str(tmp_path / "tbl")
    sn.snapshot_commit(_kv(spark, 0, 5, v=9), base, "append")
    sn.snapshot_drop_column(spark, base, "v")
    assert sn.snapshot_read(spark, base).columns == ["k"]
    # re-added name = NEW field id: old files must serve NULL, not old bytes
    sn.snapshot_commit(
        spark.createDataFrame([(50, 7)], "k long, v long"), base, "append"
    )
    rows = {r.k: r.v for r in sn.snapshot_read(spark, base).collect()}
    assert rows[50] == 7
    assert all(rows[k] is None for k in range(5))
    # time travel: v1 still serves the dropped column's bytes
    assert {r.k: r.v for r in sn.snapshot_read(spark, base, 1).collect()} == {
        k: 9 for k in range(5)
    }


def test_rename_drop_refusals(spark, tmp_path):
    import pyspark.sql.functions as F

    base = str(tmp_path / "tbl")
    df = _kv(spark, 0, 10).withColumn("p", (F.col("k") % 2).cast("int"))
    sn.snapshot_commit(df, base, "append", partition_by=["p"])
    with pytest.raises(ValueError, match="partition"):
        sn.snapshot_rename_column(spark, base, "p", "q")
    with pytest.raises(ValueError, match="partition"):
        sn.snapshot_drop_column(spark, base, "p")
    with pytest.raises(ValueError, match="already exists"):
        sn.snapshot_rename_column(spark, base, "k", "v")
    with pytest.raises(ValueError, match="no column"):
        sn.snapshot_drop_column(spark, base, "nope")
    sn.snapshot_delete_keys(_k(spark, 1), base)
    with pytest.raises(ValueError, match="equality-delete"):
        sn.snapshot_rename_column(spark, base, "k", "kk")
    # absorbing the entry unblocks the rename
    sn.snapshot_compact(spark, base)
    sn.snapshot_rename_column(spark, base, "k", "kk")
    assert "kk" in sn.snapshot_read(spark, base).columns


def test_stats_pruning_resolves_physical_names(spark, tmp_path):
    import pyspark.sql.functions as F

    base = str(tmp_path / "tbl")
    sn.snapshot_commit(
        _kv(spark, 0, 100).repartitionByRange(4, "k"), base, "append"
    )
    sn.snapshot_rename_column(spark, base, "k", "kk")
    scanned = sn.snapshot_scan(spark, base, filter=F.col("kk") <= 10)
    assert 0 < len(scanned.inputFiles()) < 4  # footer stats still prune
    assert sorted(r.kk for r in scanned.collect()) == list(range(11))
    # the merge locate probe prunes through the rename too
    v = sn.snapshot_merge(
        spark.createDataFrame([(5, 55)], "kk long, v long"), base, ["kk"]
    )
    m = sn._read_manifest(spark, base, v)
    parent = sn._read_manifest(spark, base, v - 1)
    assert len(set(parent["files"]) & set(m["files"])) >= 3  # COW held


def test_changes_across_rename_pairs_fields_by_id(spark, tmp_path):
    base = str(tmp_path / "tbl")
    v1 = sn.snapshot_commit(_kv(spark, 0, 10), base, "append")
    v2 = sn.snapshot_rename_column(spark, base, "v", "w")
    # metadata-only rename: NO row-level change
    assert sn.snapshot_changes(spark, base, v1, v2).count() == 0
    sn.snapshot_merge(
        spark.createDataFrame([(3, 99)], "k long, w long"), base, ["k"]
    )
    ch = sn.snapshot_changes(spark, base, v1, key_cols=["k"])
    got = sorted((r.k, r.w, r._change_type) for r in ch.collect())
    assert got == [(3, 0, "update_preimage"), (3, 99, "update_postimage")]


def test_optimize_reclusters_and_prunes(spark, tmp_path):
    """snapshot_optimize rewrites an UNCLUSTERED table into tight key
    ranges: the same filter that scanned every file before prunes to a
    strict subset after, with rows and time travel unchanged."""
    import pyspark.sql.functions as F

    base = str(tmp_path / "tbl")
    # round-robin repartition: every file spans the whole key range
    sn.snapshot_commit(_kv(spark, 0, 2000).repartition(4), base, "append")
    before = sn.snapshot_scan(spark, base, filter=F.col("k") < 100)
    assert len(before.inputFiles()) == 4  # nothing prunable
    v2 = sn.snapshot_optimize(spark, base, ["k"], target_files=4)
    after = sn.snapshot_scan(spark, base, filter=F.col("k") < 100)
    m2 = sn._read_manifest(spark, base, v2)
    assert 0 < len(after.inputFiles()) < len(m2["files"])
    assert sorted(r.k for r in after.collect()) == list(range(100))
    assert sn.snapshot_read(spark, base).count() == 2000
    assert sn.snapshot_read(spark, base, 1).count() == 2000  # time travel
    assert m2["op"] == "replace"


def test_optimize_zorder_absorbs_mor_entries(spark, tmp_path):
    import pyspark.sql.functions as F

    base = str(tmp_path / "tbl")
    df = _kv(spark, 0, 1000).withColumn("c", (F.col("k") * 7) % 1000)
    sn.snapshot_commit(df.repartition(4), base, "append")
    sn.snapshot_delete_keys(_k(spark, 1, 2, 3), base)
    v = sn.snapshot_optimize(
        spark, base, ["c", "k"], cluster_method="zorder",
        cluster_tiebreak="k", target_files=8
    )
    m = sn._read_manifest(spark, base, v)
    assert not m.get("deletes")  # entries absorbed by the rewrite
    ks = _keys(spark, base)
    assert ks == sorted(set(range(1000)) - {1, 2, 3})
    # both z-order dimensions prune on the optimized layout
    sc = sn.snapshot_scan(
        spark, base, filter=(F.col("c") <= 50) & (F.col("k") <= 50)
    )
    assert 0 < len(sc.inputFiles()) < len(m["files"])


def test_changes_by_version_shows_transients_endpoint_diff_nets(spark, tmp_path):
    """Per-commit log vs endpoint diff: a row inserted then deleted
    WITHIN the range appears (twice) in the per-commit log and not at
    all in the net diff; _commit_version stamps each step."""
    import pyspark.sql.functions as F

    base = str(tmp_path / "tbl")
    v1 = sn.snapshot_commit(_kv(spark, 0, 5), base, "append")
    v2 = sn.snapshot_commit(_kv(spark, 50, 52, v=1), base, "append")
    v3 = sn.snapshot_delete(spark, base, F.col("k") >= 50)
    assert sn.snapshot_changes(spark, base, v1, v3).count() == 0  # nets out
    log = sn.snapshot_changes_by_version(spark, base, v1, v3, key_cols=["k"])
    got = sorted((r.k, r._change_type, r._commit_version) for r in log.collect())
    assert got == [
        (50, "delete", v3), (50, "insert", v2),
        (51, "delete", v3), (51, "insert", v2),
    ]
    # degenerate range: empty frame with the log schema
    assert sn.snapshot_changes_by_version(spark, base, v3, v3).count() == 0


def test_changes_on_partitioned_table(spark, tmp_path):
    import pyspark.sql.functions as F

    base = str(tmp_path / "tbl")
    df = _kv(spark, 0, 20).withColumn("p", (F.col("k") % 2).cast("int"))
    v1 = sn.snapshot_commit(df, base, "append", partition_by=["p"])
    sn.snapshot_merge(
        spark.createDataFrame([(3, 33, 1)], "k long, v long, p int"),
        base,
        ["k"],
    )
    vh = sn.snapshot_delete_keys(
        spark.createDataFrame([(4,)], "k long"), base
    )
    ch = sn.snapshot_changes(spark, base, v1, vh, key_cols=["k"])
    got = sorted((r.k, r.p, r._change_type) for r in ch.collect())
    assert got == [
        (3, 1, "update_postimage"), (3, 1, "update_preimage"),
        (4, 0, "delete"),
    ]


def test_two_mor_deletes_race_both_land(spark, tmp_path):
    from concurrent.futures import ThreadPoolExecutor

    base = str(tmp_path / "tbl")
    sn.snapshot_commit(_kv(spark, 0, 30), base, "append")

    def d1():
        return sn.snapshot_delete_keys(_k(spark, 1, 2), base)

    def d2():
        return sn.snapshot_delete_keys(_k(spark, 3, 4), base)

    with ThreadPoolExecutor(2) as ex:
        got = sorted(ex.map(lambda g: g(), [d1, d2]))
    assert got == [2, 3]
    assert _keys(spark, base) == sorted(set(range(30)) - {1, 2, 3, 4})


def test_read_fast_path_without_deletes_or_renames(spark, tmp_path):
    """Plan-shape pin: a table with no equality-delete entries and no
    rename/drop history reads as ONE parquet scan — no join, no union —
    so every pre-r12b table keeps its exact old plan."""
    base = str(tmp_path / "tbl")
    sn.snapshot_commit(_kv(spark, 0, 100).repartition(4), base, "append")
    plan = sn.snapshot_read(spark, base)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Union" not in plan
    # with an entry, exactly one anti-join appears
    sn.snapshot_delete_keys(_k(spark, 1), base)
    plan2 = sn.snapshot_read(spark, base)._jdf.queryExecution().executedPlan().toString()
    assert plan2.count("LeftAnti") == 1


def test_row_count_manifest_only_and_fallbacks(spark, tmp_path, monkeypatch):
    import pyspark.sql.functions as F

    base = str(tmp_path / "tbl")
    sn.snapshot_commit(_kv(spark, 0, 100).repartition(4), base, "append")
    sn.snapshot_commit(_kv(spark, 100, 130), base, "append")
    # manifest-plane count: correct WITHOUT any Spark scan (reads poisoned)
    real_read_data = sn._read_data

    def boom(*a, **k):
        raise AssertionError("manifest-only count must not scan")

    monkeypatch.setattr(sn, "_read_data", boom)
    assert sn.snapshot_row_count(spark, base) == 130
    assert sn.snapshot_row_count(spark, base, version=1) == 100
    monkeypatch.setattr(sn, "_read_data", real_read_data)
    # COW ops keep the map exact
    sn.snapshot_merge(
        spark.createDataFrame([(5, 1), (500, 1)], "k long, v long"), base, ["k"]
    )
    sn.snapshot_delete(spark, base, F.col("k") >= 120)  # drops 120-129 AND 500
    assert sn.snapshot_row_count(spark, base) == 120
    assert sn.snapshot_row_count(spark, base) == sn.snapshot_read(
        spark, base
    ).count()
    # a live equality-delete entry masks unknown rows: falls back to a scan
    sn.snapshot_delete_keys(_k(spark, 1, 2), base)
    assert sn.snapshot_row_count(spark, base) == 118
    # compaction absorbs the entry: manifest-only again
    sn.snapshot_compact(spark, base)
    monkeypatch.setattr(sn, "_read_data", boom)
    assert sn.snapshot_row_count(spark, base) == 118


def test_rename_and_drop_carry_row_map_and_marker(spark, tmp_path):
    """rename/drop inherit the parent's per-file ``rows`` map and the
    streaming marker like every other commit: after rename + append the
    head's map covers every file, so snapshot_row_count launches no
    Spark job, and a marker only an older (legacy) manifest carries
    lands on the new head."""
    base = str(tmp_path / "tbl")
    df = _kv(spark, 0, 30).repartition(2)
    sn.snapshot_commit(df, base, "append", batch_id=5)
    # a manifest from before markers propagated: same files, no marker
    m1 = sn._read_manifest(spark, base, 1)
    sn._commit_manifest(
        spark, base, 2, "append", m1["files"], df.schema,
        stats=m1["stats"], rows=m1["rows"], adds=m1["adds"],
    )
    v3 = sn.snapshot_rename_column(spark, base, "v", "w")
    assert sn._read_manifest(spark, base, v3)["batch_id"] == 5
    sn.snapshot_commit(
        _kv(spark, 30, 40).withColumnRenamed("v", "w").repartition(2),
        base, "append",
    )
    v5 = sn.snapshot_drop_column(spark, base, "w")
    tracker = spark.sparkContext.statusTracker()
    for v in (v5 - 1, v5):
        m = sn._read_manifest(spark, base, v)
        assert len(m["files"]) == 4 and set(m["rows"]) == set(m["files"])
        before = max(tracker.getJobIdsForGroup(None))
        assert sn.snapshot_row_count(spark, base, version=v) == 40
        assert max(tracker.getJobIdsForGroup(None)) == before  # no job


def test_restore_losing_publish_race_raises(spark, table, monkeypatch):
    """A restore never rebases: rebasing would silently roll back a
    commit it never saw. Writer B commits between the restore's head
    read and its publish, so the restore raises SnapshotConflict and
    publishes nothing."""
    head = sn.snapshot_versions(spark, table)[-1]
    b_df = spark.range(300, 305).withColumnRenamed("id", "k")
    assert sn.snapshot_commit(b_df, table, "append") == head + 1  # B wins

    real_versions = sn.snapshot_versions
    calls = {"n": 0}

    def stale_once(spark_, path_):
        calls["n"] += 1
        out = real_versions(spark_, path_)
        return out[:-1] if calls["n"] == 1 else out

    monkeypatch.setattr(sn, "snapshot_versions", stale_once)
    with pytest.raises(sn.SnapshotConflict):
        sn.snapshot_restore(spark, table, 2)
    monkeypatch.setattr(sn, "snapshot_versions", real_versions)
    assert sn.snapshot_versions(spark, table) == [1, 2, 3, head + 1]
    assert _keys(spark, table) == [100, 101, 102, 300, 301, 302, 303, 304]


class _Crash(Exception):
    """A writer process dying just before its manifest publish."""


def test_snapshot_protocol_state_machine(spark, tmp_path):
    """Model check of the commit protocol: a hypothesis state machine
    drives append, merge, COW delete, delete_keys, compact, restore,
    rename of the value column and expire against a ``(k, <value>)``
    table and an in-memory model of every retained version. Each commit
    may run under one fault — a competing append landing between the
    writer's head read and its publish, a crash before publish, or a
    skipped HEAD-hint write. After every step the listing, the head
    read, every retained as-of read and snapshot_row_count must equal
    the model, so an acknowledged commit is never lost and a crash
    leaves the head unchanged for the next operation."""
    import contextlib
    import functools
    import shutil
    import tempfile

    import pyspark.sql.functions as F
    from hypothesis import HealthCheck, settings, strategies as st
    from hypothesis.stateful import (
        RuleBasedStateMachine,
        invariant,
        rule,
        run_state_machine_as_test,
    )
    from pyspark.sql import DataFrame

    # two draws in five commit without a fault
    faults = st.sampled_from([None, None, "race", "crash", "no_hint"])
    some_keys = st.lists(
        st.integers(0, 30), min_size=1, max_size=4, unique=True
    )

    class Machine(RuleBasedStateMachine):
        def __init__(self):
            super().__init__()
            self.dir = tempfile.mkdtemp(dir=tmp_path)
            self.base = self.dir + "/tbl"
            self.next_key = 1000  # appends use fresh keys, merges 0..30
            rows = {k: 0 for k in range(0, 30, 3)}
            assert sn.snapshot_commit(self._frame("v", rows), self.base) == 1
            # retained version -> (value column name, {k: value})
            self.model = {1: ("v", rows)}

        def teardown(self):
            shutil.rmtree(self.dir, ignore_errors=True)

        def _frame(self, col, rows):
            return spark.createDataFrame(
                sorted(rows.items()), f"k long, {col} long"
            )

        def _head(self):
            return self.model[max(self.model)]

        def _fresh(self, n, val):
            keys = range(self.next_key, self.next_key + n)
            self.next_key += n
            return dict.fromkeys(keys, val)

        def _acked(self, version, col, rows):
            assert version == max(self.model) + 1
            self.model[version] = (col, rows)

        @contextlib.contextmanager
        def _fault(self, fault):
            names = ("snapshot_versions", "_commit_manifest", "_write_head_hint")
            saved = {n: getattr(sn, n) for n in names}

            def crash(*a, **k):
                raise _Crash()

            def racing(spark_, path_):
                stale = saved["snapshot_versions"](spark_, path_)
                sn.snapshot_versions = saved["snapshot_versions"]
                col, rows = self._head()
                new = self._fresh(2, 7)
                v = sn.snapshot_commit(self._frame(col, new), self.base)
                self._acked(v, col, {**rows, **new})
                return stale  # the racer's version is invisible

            if fault == "crash":
                sn._commit_manifest = crash
            elif fault == "no_hint":
                sn._write_head_hint = lambda *a, **k: None
            elif fault == "race":
                sn.snapshot_versions = racing
            try:
                yield
            finally:
                for n, fn in saved.items():
                    setattr(sn, n, fn)

        def _commit(self, fault, op, apply):
            """Run commit ``op`` under ``fault``; ``apply(col, rows)``
            is the model of the op on the head it lands on."""
            with self._fault(fault):
                try:
                    v = op()
                except _Crash:
                    assert fault == "crash"
                    return
            assert fault != "crash"
            self._acked(v, *apply(*self._head()))

        @rule(n=st.integers(1, 3), val=st.integers(0, 9), fault=faults)
        def append(self, n, val, fault):
            col = self._head()[0]
            new = self._fresh(n, val)
            self._commit(
                fault,
                lambda: sn.snapshot_commit(self._frame(col, new), self.base),
                lambda col, rows: (col, {**rows, **new}),
            )

        @rule(keys=some_keys, val=st.integers(0, 9), fault=faults)
        def merge(self, keys, val, fault):
            col = self._head()[0]
            upd = dict.fromkeys(keys, val)
            self._commit(
                fault,
                lambda: sn.snapshot_merge(self._frame(col, upd), self.base, ["k"]),
                lambda col, rows: (col, {**rows, **upd}),
            )

        @rule(keys=some_keys, fault=faults)
        def delete(self, keys, fault):
            self._commit(
                fault,
                lambda: sn.snapshot_delete(spark, self.base, F.col("k").isin(keys)),
                lambda col, rows: (
                    col, {k: x for k, x in rows.items() if k not in keys}
                ),
            )

        @rule(keys=some_keys, fault=faults)
        def delete_keys(self, keys, fault):
            frame = spark.createDataFrame([(k,) for k in keys], "k long")
            self._commit(
                fault,
                lambda: sn.snapshot_delete_keys(frame, self.base),
                lambda col, rows: (
                    col, {k: x for k, x in rows.items() if k not in keys}
                ),
            )

        @rule(fault=faults)
        def compact(self, fault):
            self._commit(
                fault,
                lambda: sn.snapshot_compact(spark, self.base),
                lambda col, rows: (col, rows),
            )

        @rule(fault=faults)
        def rename(self, fault):
            old = self._head()[0]
            new = "w" if old == "v" else "v"
            self._commit(
                fault,
                lambda: sn.snapshot_rename_column(spark, self.base, old, new),
                lambda col, rows: (new, rows),
            )

        @rule(pick=st.integers(0, 9), fault=faults)
        def restore(self, pick, fault):
            target = sorted(self.model)[pick % len(self.model)]
            if fault == "race":
                with self._fault(fault):
                    with pytest.raises(sn.SnapshotConflict):
                        sn.snapshot_restore(spark, self.base, target)
                return
            self._commit(
                fault,
                lambda: sn.snapshot_restore(spark, self.base, target),
                lambda col, rows: self.model[target],
            )

        @rule(keep=st.integers(2, 4))
        def expire(self, keep):
            retained = sorted(self.model)[-keep:]
            dropped, _ = sn.snapshot_expire(
                spark, self.base, keep_last=keep, staging_grace_s=0
            )
            assert dropped == len(self.model) - len(retained)
            self.model = {v: self.model[v] for v in retained}

        @invariant()
        def reads_equal_model(self):
            assert sn.snapshot_versions(spark, self.base) == sorted(self.model)
            head_col, head_rows = self._head()
            reads = [(0, head_col, sn.snapshot_read(spark, self.base))]
            reads += [
                (v, col, sn.snapshot_read(spark, self.base, v))
                for v, (col, _) in self.model.items()
            ]
            for _, col, df in reads:
                assert df.columns == ["k", col]
            union = functools.reduce(
                DataFrame.unionByName,
                [
                    df.select(F.lit(v).alias("ver"), "k", F.col(col).alias("x"))
                    for v, col, df in reads
                ],
            )
            got = {v: [] for v, _, _ in reads}
            for r in union.collect():
                got[r.ver].append((r.k, r.x))
            want = {v: rows for v, (_, rows) in self.model.items()}
            want[0] = head_rows
            for v, rows in want.items():
                assert sorted(got[v]) == sorted(rows.items()), v
            assert sn.snapshot_row_count(spark, self.base) == len(head_rows)

    run_state_machine_as_test(
        Machine,
        settings=settings(
            max_examples=4,
            stateful_step_count=8,
            deadline=None,
            suppress_health_check=list(HealthCheck),
        ),
    )
