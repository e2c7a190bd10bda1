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


def test_swap_directory_crash_recovery(spark, tmp_path):
    """A swap torn at ANY step must leave a recoverable complete copy:
    recover_swapped restores the newest complete state, and a partial
    (no _SUCCESS) temp is never promoted."""
    from etl_ipl_data_analysis_pipeline_spark.io import (
        recover_swapped,
        swap_directory,
    )

    path = str(tmp_path / "state")

    def write_state(val: int, dest: str):
        spark.range(val, val + 3).coalesce(1).write.mode("overwrite").parquet(dest)

    def read_ids():
        return sorted(r["id"] for r in spark.read.parquet(path).collect())

    # normal swap: v1 in place, then v2 swapped over it
    write_state(0, f"{path}.__tmp__")
    swap_directory(spark, path)
    assert read_ids() == [0, 1, 2]
    write_state(10, f"{path}.__tmp__")
    swap_directory(spark, path)
    assert read_ids() == [10, 11, 12]
    assert not os.path.exists(f"{path}.__old__")

    # torn swap: live renamed aside, temp complete, dst missing (the exact
    # window ADVICE flagged) -> recovery promotes the NEWER temp
    write_state(20, f"{path}.__tmp__")
    os.rename(path, f"{path}.__old__")
    assert recover_swapped(spark, path)
    assert read_ids() == [20, 21, 22]
    assert not os.path.exists(f"{path}.__old__")  # stale copy cleaned

    # crash mid-temp-write (partial dir, no _SUCCESS), dst gone, old aside:
    # recovery must skip the partial temp and fall back to the old copy
    os.rename(path, f"{path}.__old__")
    os.makedirs(f"{path}.__tmp__")
    with open(f"{path}.__tmp__/part-00000.parquet", "wb") as f:
        f.write(b"\x00" * 16)  # truncated garbage, not a parquet footer
    assert recover_swapped(spark, path)
    assert read_ids() == [20, 21, 22]
    # recovery cleans the partial temp and the promoted source slot
    assert not os.path.exists(f"{path}.__tmp__")
    assert not os.path.exists(f"{path}.__old__")

    # nothing anywhere -> False
    assert not recover_swapped(spark, str(tmp_path / "never_written"))


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


def test_compact_table_leaves_scan_sized_files_alone(spark, tmp_path):
    """files >= small_ratio x target never rewritten: with a threshold
    below any real file size the pass is a no-op and bytes_rewritten=0."""
    path = str(tmp_path / "bigf")
    _mk_partitioned(spark, path)
    before = tio._list_data_files(spark, path)
    # every parquet file here is > ~400 bytes; threshold ~100 bytes
    stats = tio.compact_table(
        spark, path, target_file_mb=1, small_ratio=0.0001
    )
    assert stats["dirs_compacted"] == 0 and stats["bytes_rewritten"] == 0
    assert sorted(f for _, f, _ in tio._list_data_files(spark, path)) == sorted(
        f for _, f, _ in before
    )


def test_compact_table_crash_recovery(spark, tmp_path, monkeypatch):
    """crash at the commit point (manifest renamed, nothing moved):
    the table still reads byte-identically, and recover_compaction
    replays the idempotent commit to the compacted layout."""
    path = str(tmp_path / "crash")
    want = _mk_partitioned(spark, path)

    calls = {"n": 0}
    real = tio._finish_compaction

    def boom(sp, p):
        calls["n"] += 1
        raise IOError("injected crash at commit")

    monkeypatch.setattr(tio, "_finish_compaction", boom)
    with pytest.raises(IOError, match="injected"):
        tio.compact_table(spark, path, target_file_mb=64)
    assert calls["n"] == 1
    # manifest exists, staged files unmoved, originals intact => readable
    assert tio.path_exists(spark, tio._compact_manifest_path(path))
    assert _table_rows(spark, path) == want
    monkeypatch.setattr(tio, "_finish_compaction", real)
    assert tio.recover_compaction(spark, path) is True
    assert not tio.path_exists(spark, tio._compact_manifest_path(path))
    assert not tio.path_exists(spark, tio._compact_staging_path(path))
    assert len(tio._list_data_files(spark, path)) == 3
    assert _table_rows(spark, path) == want


def test_compact_table_precommit_leftovers_discarded(spark, tmp_path):
    """a staging dir WITHOUT a manifest is a pre-commit crash: recovery
    must discard it and leave the table untouched."""
    path = str(tmp_path / "precommit")
    want = _mk_partitioned(spark, path)
    staging = tio._compact_staging_path(path)
    spark.range(5).write.mode("overwrite").parquet(staging)
    assert tio.recover_compaction(spark, path) is True
    assert not tio.path_exists(spark, staging)
    assert _table_rows(spark, path) == want
    assert tio.recover_compaction(spark, path) is False


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


def test_compact_table_sort_by_preserves_footer_ranges(spark, tmp_path):
    """sort_by compaction writes files whose parquet footer min/max on
    the sort column are tight (disjoint-ish ranges), where unsorted
    bin-packing interleaves the whole domain into every file."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "sorted_tbl")
    df = spark.range(4000).select(
        F.col("id").alias("k"), F.lit("x").alias("grp")
    )
    # 8 slivers, each carrying the FULL k domain (round-robin)
    df.repartition(8).write.mode("overwrite").parquet(path)
    stats = tio.compact_table(
        spark, path, target_file_mb=1, small_ratio=0.5, sort_by=["k"]
    )
    assert stats["dirs_compacted"] == 1
    files = [f for _, f, _ in tio._list_data_files(spark, path)]
    spans = []
    for f in files:
        md = pq.read_metadata(f.replace("file:", ""))
        lo = min(md.row_group(i).column(0).statistics.min for i in range(md.num_row_groups))
        hi = max(md.row_group(i).column(0).statistics.max for i in range(md.num_row_groups))
        spans.append((lo, hi))
    # every row survived
    assert spark.read.parquet(path).count() == 4000
    if len(spans) > 1:
        # sorted compaction: per-file spans must not all cover the full
        # domain; total overlap is bounded (files partition the sort key)
        spans.sort()
        for (lo1, hi1), (lo2, _) in zip(spans, spans[1:]):
            assert hi1 <= lo2  # disjoint consecutive ranges


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
    staging = tio._compact_staging_path(path)
    df = spark.read.option("basePath", path).parquet(*smalls)
    df.repartition(F.col("grp")).write.mode("overwrite").partitionBy(
        "grp"
    ).parquet(staging)
    staged = [
        (rel + "/" if rel else "") + full.rsplit("/", 1)[1]
        for rel, full, _ in tio._list_data_files(spark, staging)
    ]
    manifest = {"staged": staged, "delete": smalls}
    mpath = tio._compact_manifest_path(path)
    with open(mpath, "w") as fh:
        json.dump(manifest, fh)

    # simulate a crash mid-move: move the FIRST staged file in by hand
    jvm = spark._jvm
    fs, _, _ = tio._fs_and_path(spark, path)
    first = staged[0]
    src = jvm.org.apache.hadoop.fs.Path(staging + "/" + first)
    dst = jvm.org.apache.hadoop.fs.Path(path + "/" + first)
    assert fs.rename(src, dst)
    # mid-commit state: duplication (moved file + originals), never loss
    assert sorted(set(_table_rows(spark, path))) == want

    assert tio.recover_compaction(spark, path) is True
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


def test_compact_table_sorted_multifile_ranges(spark, tmp_path):
    """unpartitioned sort_by compaction with MORE THAN ONE output file:
    range repartitioning must give disjoint per-file key spans (a
    round-robin bin would make every file span the whole domain)."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "ranged")
    # ~3MB of data so n_target = ceil(bytes/1MB) >= 2
    df = spark.range(120_000).select(
        F.col("id").alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("pad"),
    )
    df.repartition(10).write.mode("overwrite").parquet(path)
    stats = tio.compact_table(
        spark, path, target_file_mb=1, small_ratio=0.9, sort_by=["k"]
    )
    files = [f for _, f, _ in tio._list_data_files(spark, path)]
    assert len(files) >= 2, stats
    spans = []
    for f in files:
        md = pq.read_metadata(f.replace("file:", ""))
        lo = min(md.row_group(i).column(0).statistics.min for i in range(md.num_row_groups))
        hi = max(md.row_group(i).column(0).statistics.max for i in range(md.num_row_groups))
        spans.append((lo, hi))
    spans.sort()
    for (l1, h1), (l2, _) in zip(spans, spans[1:]):
        assert h1 <= l2, spans
    assert spark.read.parquet(path).count() == 120_000


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
