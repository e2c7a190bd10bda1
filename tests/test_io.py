"""IO surface (SURVEY.md §2.1 SRC1-SRC3, SNK1, SNK3): fetch, zip expansion
(local + distributed), JSON scan, parquet round-trip, existence probe."""

import json
import os
import zipfile

import pytest
import pyspark.sql.functions as F

from etl_ipl_data_analysis_pipeline_spark import io as tio


@pytest.fixture(scope="module")
def zip_fixture(tmp_path_factory):
    root = tmp_path_factory.mktemp("zips")
    payloads = {
        "match_001.json": {"id": 1, "info": {"city": "Mumbai"}},
        "match_002.json": {"id": 2, "info": {"city": "Chennai"}},
    }
    zpath = root / "matches.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        for name, doc in payloads.items():
            zf.writestr(f"archive/{name}", json.dumps(doc))
        zf.writestr("archive/readme.txt", "not json")
    return str(zpath), root


def test_fetch_url_streams_file_scheme(zip_fixture, tmp_path):
    zpath, _ = zip_fixture
    dest = str(tmp_path / "fetched.zip")
    out = tio.fetch_url("file://" + zpath, dest)
    assert out == dest
    assert os.path.getsize(dest) == os.path.getsize(zpath)


def test_expand_zip_filters_suffix(zip_fixture, tmp_path):
    zpath, _ = zip_fixture
    members = tio.expand_zip(zpath, str(tmp_path / "out"), suffix=".json")
    assert sorted(os.path.basename(m) for m in members) == ["match_001.json", "match_002.json"]


def test_expand_zip_distributed_matches_local(spark, zip_fixture):
    zpath, root = zip_fixture
    df = tio.expand_zip_distributed(spark, str(root), suffix=".json")
    rows = {r["member"].split("/")[-1]: r["content"] for r in df.collect()}
    assert sorted(rows) == ["match_001.json", "match_002.json"]
    assert json.loads(rows["match_001.json"])["info"]["city"] == "Mumbai"


def test_read_json_then_parquet_roundtrip(spark, zip_fixture, tmp_path):
    zpath, _ = zip_fixture
    members = tio.expand_zip(zpath, str(tmp_path / "json"), suffix=".json")
    df = tio.read_json(spark, members)
    out = str(tmp_path / "pq")
    tio.write_parquet(df, out)
    back = spark.read.parquet(out)
    assert sorted(r["id"] for r in back.collect()) == [1, 2]
    assert back.schema == df.schema


def test_write_parquet_partition_by_prunes_dirs(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "a")], "id int, grp string")
    out = str(tmp_path / "part")
    tio.write_parquet(df, out, partition_by=["grp"])
    assert sorted(d for d in os.listdir(out) if d.startswith("grp=")) == ["grp=a", "grp=b"]
    assert spark.read.parquet(out).filter("grp = 'a'").count() == 2


def test_path_exists_probe(spark, tmp_path):
    f = tmp_path / "x.txt"
    f.write_text("hi")
    assert tio.path_exists(spark, "file://" + str(f))
    assert not tio.path_exists(spark, "file://" + str(tmp_path / "missing.txt"))


def test_read_table_catalog_scan(spark):
    # SRC4: catalog-backed scan (temp view here; saveAsTable in
    # test_joins' bucketed case covers the persistent-table path)
    spark.createDataFrame([(1, "x")], "id int, v string").createOrReplaceTempView("t_cat")
    try:
        assert tio.read_table(spark, "t_cat").count() == 1
    finally:
        spark.catalog.dropTempView("t_cat")


def test_driver_entry_contract(spark):
    # the driver's smoke: entry() runs on a caller-supplied session and
    # returns a stable-schema DataFrame
    import __spark_entry__ as entry

    df = entry.entry(spark)
    assert df.count() >= 0
    assert df.columns == entry.entry(spark).columns
    qs, oracles = entry.queries(), entry.oracle_sql()
    assert set(oracles) <= set(qs)  # every oracle key has a query


def test_read_json_permissive_quarantines_corrupt(spark, tmp_path):
    good = tmp_path / "good.json"
    bad = tmp_path / "bad.json"
    good.write_text('{"id": 1, "v": "ok"}')
    bad.write_text('{"id": 2, "v": ')  # truncated document
    df = tio.read_json(
        spark,
        [str(good), str(bad)],
        schema="id long, v string, _corrupt string",
        corrupt_col="_corrupt",
    )
    rows = df.collect()
    assert len(rows) == 2  # the bad file is a row, not a job failure
    ok = [r for r in rows if r["_corrupt"] is None]
    quarantined = [r for r in rows if r["_corrupt"] is not None]
    assert len(ok) == 1 and ok[0]["id"] == 1
    assert len(quarantined) == 1 and quarantined[0]["id"] is None


def test_load_star_registers_views(spark, sf_dir):
    tables = tio.load_star(spark, sf_dir)
    try:
        assert "lineitem" in tables and tables["nation"].count() == 25
        assert spark.sql("SELECT count(*) FROM nation").first()[0] == 25
    finally:
        for name in tables:
            spark.catalog.dropTempView(name)


def test_partition_filter_prunes_at_plan_time(spark, tmp_path):
    out = str(tmp_path / "bydate")
    df = spark.createDataFrame(
        [(i, "g%d" % (i % 3)) for i in range(60)], "id long, grp string"
    )
    tio.write_parquet(df, out, partition_by=["grp"])
    q = spark.read.parquet(out).filter("grp = 'g1'")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(grp" in plan  # pruned, not scanned+filtered
    assert q.count() == 20


def test_synthetic_datasource(spark):
    """Custom V2 Python source: correct count for non-divisible partition
    splits, bit-determinism across reads, and executor rows == the shared
    row_for function."""
    from etl_ipl_data_analysis_pipeline_spark.sources import (
        register_synthetic_source,
    )
    from etl_ipl_data_analysis_pipeline_spark.sources.synthetic import row_for

    register_synthetic_source(spark)
    df = (
        spark.read.format("synthetic_docs")
        .option("n", 103)
        .option("start", 7)
        .option("num_partitions", 4)
        .load()
    )
    rows = {r["doc_id"]: (r["text"], r["lang"], r["n_chars"]) for r in df.collect()}
    assert len(rows) == 103 and min(rows) == 7 and max(rows) == 109
    for doc_id in (7, 50, 109):
        want = row_for(doc_id)
        assert rows[doc_id] == want[1:]
    again = {r["doc_id"] for r in df.collect()}
    assert again == set(rows)


def test_overwrite_commit_crash_recovery(spark, tmp_path, monkeypatch):
    """overwrite_parquet lands through the one manifest commit, and a
    crash at any step leaves a state recover repairs: before the
    manifest the old state reads and the staging is discarded; after it
    the new state rolls forward and reads once, with no old rows mixed
    in; a partial staging is never promoted; a path never written
    reports False."""
    path = str(tmp_path / "state")
    staging, manifest, manifest_tmp = tio._commit_siblings(path)

    def write_state(val: int):
        tio.overwrite_parquet(spark.range(val, val + 3).coalesce(1), path)

    def read_ids():
        return sorted(r["id"] for r in spark.read.parquet(path).collect())

    def crashed_write(val: int, attr: str, fail_on_call: int):
        calls = []
        real = getattr(tio, attr)

        def dies(*a):
            calls.append(a)
            if len(calls) == fail_on_call:
                raise IOError(f"injected crash in {attr}")
            return real(*a)

        with monkeypatch.context() as m:
            m.setattr(tio, attr, dies)
            with pytest.raises(IOError, match="injected"):
                write_state(val)

    write_state(0)
    assert read_ids() == [0, 1, 2]
    write_state(10)
    assert read_ids() == [10, 11, 12]
    assert not any(map(os.path.exists, (staging, manifest, manifest_tmp)))

    # crash before the manifest (its rename is the commit's first move):
    # the old state reads, and recover discards the staging
    crashed_write(20, "_move", 1)
    assert os.path.exists(staging) and os.path.exists(manifest_tmp)
    assert not os.path.exists(manifest)
    assert read_ids() == [10, 11, 12]
    assert tio.recover(spark, path)
    assert not any(map(os.path.exists, (staging, manifest, manifest_tmp)))
    assert read_ids() == [10, 11, 12]

    # crash after the manifest, before any move: rolls forward
    crashed_write(30, "_finish_commit", 1)
    assert os.path.exists(manifest)
    assert tio.recover(spark, path)
    assert read_ids() == [30, 31, 32]

    # crash after the moves, before the deletes: on disk the old and new
    # rows both show; recover leaves the new ones, once
    crashed_write(40, "_fan_out", 2)
    assert read_ids() == [30, 31, 32, 40, 41, 42]
    assert tio.recover(spark, path)
    assert read_ids() == [40, 41, 42]
    assert not any(map(os.path.exists, (staging, manifest, manifest_tmp)))

    # a staging whose write itself died (no manifest) is never promoted
    os.makedirs(staging)
    with open(f"{staging}/part-00000.parquet", "wb") as f:
        f.write(b"\x00" * 16)  # truncated garbage, not a parquet footer
    assert tio.recover(spark, path)
    assert not os.path.exists(staging)
    assert read_ids() == [40, 41, 42]

    assert not tio.recover(spark, str(tmp_path / "never_written"))


def test_jdbc_roundtrip_embedded_derby(spark, tmp_path):
    """SNK2 end-to-end against a real JDBC database: write via write_jdbc
    into embedded Derby (ships with Spark for the Hive metastore), read
    back through the JDBC source, compare values. Derby is single-process
    but in-JVM with local-mode executors, so the write path exercised is
    the same batched-insert-per-partition code a warehouse load uses."""
    url = f"jdbc:derby:{tmp_path}/wh;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    df = spark.createDataFrame(
        [(1, "alpha", 1.5), (2, "beta", -2.25), (3, None, 0.0)],
        "id bigint, name string, score double",
    ).repartition(2)
    tio.write_jdbc(df, url, "events_out", mode="overwrite", properties=props)
    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "events_out")
        .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        .load()
    )
    got = sorted((r["ID"] if "ID" in back.columns else r["id"],
                  r[1], r[2]) for r in back.collect())
    assert got == [(1, "alpha", 1.5), (2, "beta", -2.25), (3, None, 0.0)]


def _table_rows(spark, path):
    return sorted(
        (r["k"], r["grp"]) for r in spark.read.parquet(path).collect()
    )


def _mk_partitioned(spark, path, n=120, slivers=10):
    df = spark.range(n).select(
        F.col("id").alias("k"), F.concat(F.lit("g"), (F.col("id") % 3)).alias("grp")
    )
    df.repartition(slivers).write.mode("overwrite").partitionBy("grp").parquet(path)
    return sorted((r["k"], r["grp"]) for r in df.collect())


def test_compact_table_partitioned_merges_slivers(spark, tmp_path):
    """slivers (tasks x partitions) collapse to one file per partition
    dir; rows identical; second pass is a no-op (idempotent OPTIMIZE)."""
    path = str(tmp_path / "tbl")
    want = _mk_partitioned(spark, path)
    before = len(tio._list_data_files(spark, path))
    assert before > 3  # the sliver mistake actually happened
    stats = tio.compact_table(spark, path, target_file_mb=64)
    assert stats["files_before"] == before
    assert stats["files_after"] == 3  # one per grp dir
    assert stats["dirs_compacted"] == 3
    assert _table_rows(spark, path) == want
    again = tio.compact_table(spark, path, target_file_mb=64)
    assert again["dirs_compacted"] == 0
    assert again["files_after"] == 3
    assert _table_rows(spark, path) == want


def test_compact_table_unpartitioned(spark, tmp_path):
    path = str(tmp_path / "flat")
    df = spark.range(200).select(F.col("id").alias("k"), F.lit("x").alias("grp"))
    df.repartition(8).write.mode("overwrite").parquet(path)
    want = sorted((r["k"], r["grp"]) for r in df.collect())
    stats = tio.compact_table(spark, path, target_file_mb=64)
    assert stats["files_before"] == 8 and stats["files_after"] == 1
    assert _table_rows(spark, path) == want


def test_compact_table_leaves_scan_sized_files_alone(spark, tmp_path, monkeypatch):
    """files >= COMPACT_SMALL_RATIO x target never rewritten: with a
    threshold below any real file size the pass is a no-op and
    bytes_rewritten=0."""
    path = str(tmp_path / "bigf")
    _mk_partitioned(spark, path)
    before = tio._list_data_files(spark, path)
    # every parquet file here is > ~400 bytes; threshold ~100 bytes
    monkeypatch.setattr(tio, "COMPACT_SMALL_RATIO", 0.0001)
    stats = tio.compact_table(spark, path, target_file_mb=1)
    assert stats["dirs_compacted"] == 0 and stats["bytes_rewritten"] == 0
    assert sorted(f for _, f, _ in tio._list_data_files(spark, path)) == sorted(
        f for _, f, _ in before
    )


def test_compact_table_crash_recovery(spark, tmp_path, monkeypatch):
    """crash at the commit point (manifest renamed, nothing moved):
    the table still reads byte-identically, and recover
    replays the idempotent commit to the compacted layout."""
    path = str(tmp_path / "crash")
    want = _mk_partitioned(spark, path)

    calls = {"n": 0}
    real = tio._finish_commit

    def boom(sp, p):
        calls["n"] += 1
        raise IOError("injected crash at commit")

    monkeypatch.setattr(tio, "_finish_commit", boom)
    with pytest.raises(IOError, match="injected"):
        tio.compact_table(spark, path, target_file_mb=64)
    assert calls["n"] == 1
    # manifest exists, staged files unmoved, originals intact => readable
    staging, manifest, _ = tio._commit_siblings(path)
    assert tio.path_exists(spark, manifest)
    assert _table_rows(spark, path) == want
    monkeypatch.setattr(tio, "_finish_commit", real)
    assert tio.recover(spark, path) is True
    assert not tio.path_exists(spark, manifest)
    assert not tio.path_exists(spark, staging)
    assert len(tio._list_data_files(spark, path)) == 3
    assert _table_rows(spark, path) == want


def test_compact_table_precommit_leftovers_discarded(spark, tmp_path):
    """a staging dir WITHOUT a manifest is a pre-commit crash: recovery
    must discard it and leave the table untouched."""
    path = str(tmp_path / "precommit")
    want = _mk_partitioned(spark, path)
    staging = tio._commit_siblings(path)[0]
    spark.range(5).write.mode("overwrite").parquet(staging)
    assert tio.recover(spark, path) is True
    assert not tio.path_exists(spark, staging)
    assert _table_rows(spark, path) == want
    # recover reports whether the table exists, not whether it repaired
    assert tio.recover(spark, path) is True
    assert _table_rows(spark, path) == want


def test_write_parquet_skew_knobs(spark, tmp_path):
    """files_per_partition salts a hot partition value across N tasks/
    files; max_records_per_file bounds file length; defaults keep the
    one-file-per-dir property; rows survive every mode."""
    df = spark.range(300).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 270, "hot").otherwise("cold").alias("grp"),
    )
    want = sorted((r["k"], r["grp"]) for r in df.collect())

    p1 = str(tmp_path / "default")
    tio.write_parquet(df, p1, partition_by=["grp"])
    per_dir = {}
    for rel, _, _ in tio._list_data_files(spark, p1):
        per_dir[rel] = per_dir.get(rel, 0) + 1
    assert set(per_dir.values()) == {1}  # balanced default: one file/dir
    assert sorted((r["k"], r["grp"]) for r in spark.read.parquet(p1).collect()) == want

    p2 = str(tmp_path / "salted")
    tio.write_parquet(df, p2, partition_by=["grp"], files_per_partition=4)
    hot_files = sum(
        1 for rel, _, _ in tio._list_data_files(spark, p2) if rel == "grp=hot"
    )
    assert 2 <= hot_files <= 4  # hot value split across up to 4 tasks
    assert sorted((r["k"], r["grp"]) for r in spark.read.parquet(p2).collect()) == want

    p3 = str(tmp_path / "capped")
    tio.write_parquet(df, p3, partition_by=["grp"], max_records_per_file=100)
    hot_files3 = sum(
        1 for rel, _, _ in tio._list_data_files(spark, p3) if rel == "grp=hot"
    )
    assert hot_files3 == 3  # 270 rows / 100-cap => 3 rolled files
    assert sorted((r["k"], r["grp"]) for r in spark.read.parquet(p3).collect()) == want


def test_compact_table_midmove_crash_recovery(spark, tmp_path):
    """crash DURING the commit's move loop (manifest present, some staged
    files moved, none of the originals deleted yet): recovery must finish
    idempotently — already-moved files skipped, remaining moves and all
    deletes applied — with rows identical and no duplicates."""
    import json

    path = str(tmp_path / "midmove")
    want = _mk_partitioned(spark, path)

    # plan a compaction by hand up to the commit point: stage + manifest
    files = tio._list_data_files(spark, path)
    smalls = [full for _, full, _ in files]
    staging, mpath, _ = tio._commit_siblings(path)
    df = spark.read.option("basePath", path).parquet(*smalls)
    df.repartition(F.col("grp")).write.mode("overwrite").partitionBy(
        "grp"
    ).parquet(staging)
    moves = [
        (full, f"{path}/{rel}/{full.rsplit('/', 1)[1]}")
        for rel, full, _ in tio._list_data_files(spark, staging)
    ]
    manifest = {"moves": moves, "delete": smalls}
    with open(mpath, "w") as fh:
        json.dump(manifest, fh)

    # simulate a crash mid-move: move the FIRST staged file in by hand
    jvm = spark._jvm
    fs, _, _ = tio._fs_and_path(spark, path)
    src, dst = (jvm.org.apache.hadoop.fs.Path(p) for p in moves[0])
    assert fs.rename(src, dst)
    # mid-commit state: duplication (moved file + originals), never loss
    assert sorted(set(_table_rows(spark, path))) == want

    assert tio.recover(spark, path) is True
    assert not tio.path_exists(spark, mpath)
    assert not tio.path_exists(spark, staging)
    assert _table_rows(spark, path) == want  # exact multiset, no dups
    assert len(tio._list_data_files(spark, path)) == 3


def test_list_data_files_ignores_hidden_ancestors(spark, tmp_path):
    """uncommitted task outputs under _temporary/ (a crashed append's
    leftovers) must be invisible to compaction — Spark's reader would
    never return their rows, so compacting them in resurrects data."""
    import os
    import shutil

    path = str(tmp_path / "crashed")
    _mk_partitioned(spark, path)
    before = {f for _, f, _ in tio._list_data_files(spark, path)}
    # simulate FileOutputCommitter leftovers: a real parquet file under
    # a _temporary ancestor
    some_file = next(iter(before)).replace("file:", "")
    tmpdir = os.path.join(path, "_temporary", "0", "task_000")
    os.makedirs(tmpdir)
    shutil.copy(some_file, os.path.join(tmpdir, "part-junk.parquet"))
    after = {f for _, f, _ in tio._list_data_files(spark, path)}
    assert after == before  # the hidden-ancestor file never appears
    stats = tio.compact_table(spark, path, target_file_mb=64)
    assert stats["files_after"] == 3
    # the junk file is untouched where the committer left it
    assert os.path.exists(os.path.join(tmpdir, "part-junk.parquet"))


def test_compact_table_preserves_stringy_partition_values(spark, tmp_path):
    """numeric-LOOKING string partition values (k=00123) must round-trip
    verbatim through compaction — inference would re-render them as
    k=123 and split one logical partition into two directories."""
    path = str(tmp_path / "stringy")
    df = spark.createDataFrame(
        [(i, "00123" if i < 40 else "7e4") for i in range(60)],
        "k long, grp string",
    )
    df.repartition(6).write.mode("overwrite").partitionBy("grp").parquet(path)
    want_dirs = {rel for rel, _, _ in tio._list_data_files(spark, path)}
    assert want_dirs == {"grp=00123", "grp=7e4"}
    tio.compact_table(spark, path, target_file_mb=64)
    got_dirs = {rel for rel, _, _ in tio._list_data_files(spark, path)}
    assert got_dirs == {"grp=00123", "grp=7e4"}
    got = sorted(
        (r["k"], r["grp"])
        for r in spark.read.schema("k long, grp string").parquet(path).collect()
    )
    assert got == sorted((i, "00123" if i < 40 else "7e4") for i in range(60))


def test_write_parquet_salt_skips_map_columns(spark, tmp_path):
    """a MapType column must not crash the salted write (hash expressions
    reject maps) — the salt derives from the hashable columns only."""
    df = spark.createDataFrame(
        [(i, "hot", {"a": i}) for i in range(50)],
        "k long, grp string, m map<string,long>",
    )
    p = str(tmp_path / "mapped")
    tio.write_parquet(df, p, partition_by=["grp"], files_per_partition=3)
    assert spark.read.parquet(p).count() == 50


def test_fan_out_propagates_a_pool_failure():
    """The shared fan-out of independent FS calls runs more than 4 items
    on its thread pool; a call that raises there must still reach the
    caller, or a commit or sweep that lost a step would report success."""
    import threading

    threads = set()

    def call(i):
        threads.add(threading.current_thread() is threading.main_thread())
        if i == 5:
            raise OSError("delete of item 5 failed")

    with pytest.raises(OSError, match="item 5"):
        tio._fan_out(call, list(range(8)))
    assert threads == {False}  # every call ran on the pool
