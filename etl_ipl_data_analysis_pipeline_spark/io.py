"""Sources and sinks (SURVEY.md §2.1).

Reference parity:
- SRC3 json scan w/ inference  -> ``read_json``        (transformation_job.py:37-38)
- SRC4 catalog table scan      -> ``spark.read.table`` (etl_glue_job.py:28-31)
- SRC5 parquet scan            -> ``spark.read.parquet`` (transformation_job.py:45)
- SNK1 parquet sink            -> ``write_parquet``     (transformation_job.py:45)
- SNK2 JDBC warehouse sink     -> ``write_jdbc``       (etl_glue_job.py:18-43)
- SNK3 object IO / existence   -> ``path_exists``      (lamda_function.py:31-37)
- SRC1/SRC2 http fetch + zip   -> ``fetch_url`` / ``expand_zip``
                                                        (data_ingestion_func.py:19-21,
                                                         lambda_unzip_function.py:18-22)

At 100 TB the scan path is partitioned Parquet; filters/column pruning push
down automatically (verify with ``df.explain`` → PushedFilters/ReadSchema).
"""

from __future__ import annotations

import io as _io
import os
import zipfile
from collections.abc import Iterable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

STAR_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_json(
    spark: SparkSession,
    path: str | list[str],
    schema=None,
    corrupt_col: str | None = None,
) -> DataFrame:
    """SRC3 (transformation_job.py:37-38): JSON scan, one document per
    file (``multiLine``).

    Schema inference is a full extra pass over the data — at 100 TB pass an
    explicit ``schema`` (pin once, then reuse) instead of inferring per run.

    ``corrupt_col``: PERMISSIVE capture of malformed documents into that
    column instead of failing the job (one bad file in a million must not
    kill a 100 TB ingest; filter `col IS NOT NULL` into a quarantine sink).
    Requires an explicit ``schema`` (Spark drops the corrupt column during
    inference), and the column must be declared StringType in it.
    """
    reader = spark.read.option("multiLine", "true")
    if corrupt_col is not None:
        if schema is None:
            raise ValueError("corrupt_col requires an explicit schema")
        reader = reader.option("mode", "PERMISSIVE").option(
            "columnNameOfCorruptRecord", corrupt_col
        )
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_table(spark: SparkSession, name: str) -> DataFrame:
    """SRC4 (etl_glue_job.py:28-31): read a catalog table by name."""
    return spark.read.table(name)


def read_binary_files(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """Multimodal/raw source: (path, modificationTime, length, content)."""
    return spark.read.format("binaryFile").load(path)


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: Iterable[str] | None = None,
    files_per_partition: int = 1,
    max_records_per_file: int | None = None,
) -> None:
    """SNK1 (transformation_job.py:45) + partitioning for scale; replaces
    whatever ``path`` held.

    ``partition_by`` turns downstream equality filters on those columns into
    partition pruning (whole directories skipped at planning time).
    Partitioned writes repartition on the partition columns first so each
    directory receives ONE file per writing task-group rather than a
    sliver from every upstream task — tasks x partitions small files is
    the classic partitioned-write mistake at scale.

    The repartition's flip side is SKEW: one task per distinct partition
    value means a hot value (lang='en' at 90% of the corpus) serializes
    into a single task writing one multi-GB file. Two knobs:
    ``files_per_partition`` > 1 adds a deterministic row-content salt to
    the repartition key, splitting every directory's write across that
    many tasks/files (use for known-hot partition columns);
    ``max_records_per_file`` caps file length via Spark's
    ``maxRecordsPerFile`` so even a one-task directory rolls over into
    bounded files (caps file SIZE but not task parallelism — pair with
    the salt when the bottleneck is the task, not the file). Defaults
    keep the balanced-input one-file-per-dir property.
    """
    if partition_by:
        cols = list(partition_by)
        keys = [F.col(c) for c in cols]
        if files_per_partition > 1:
            # content-hash salt (not rand/partition-id): deterministic
            # across retries, so a re-run of a failed stage lands rows in
            # the same output task. Map-typed columns are excluded (hash
            # expressions reject MapType since Spark 3.0 — the salt must
            # not make a write crash that succeeds without it). Known
            # limit: rows that are EXACT duplicates share a salt value by
            # construction; a hot partition made of one duplicated row
            # stays one task — dedup upstream, or don't content-salt.
            hashable = [
                f.name
                for f in df.schema.fields
                if "map<" not in f.dataType.simpleString()
            ]
            if not hashable:
                raise ValueError(
                    "files_per_partition needs at least one non-map "
                    "column to derive the deterministic salt from"
                )
            keys.append(
                F.pmod(
                    F.xxhash64(*[F.col(c) for c in hashable]),
                    F.lit(files_per_partition),
                )
            )
            # explicit partition count: the caller asked for the split,
            # so pin it — a bare repartition(cols) lets AQE coalesce the
            # salted sub-partitions back together whenever they look
            # small, exactly the hot-value serialization being avoided
            n = max(
                files_per_partition * 8,
                int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")),
            )
            rep = df.repartition(n, *keys)
        else:
            rep = df.repartition(*keys)
        writer = rep.write.mode("overwrite")
        if max_records_per_file is not None:
            writer = writer.option("maxRecordsPerFile", max_records_per_file)
        writer.partitionBy(*cols).parquet(path)
        return
    writer = df.write.mode("overwrite")
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Iterable[str],
    num_buckets: int = 32,
    sort_cols: Iterable[str] | None = None,
    path: str | None = None,
) -> None:
    """SNK1 scale variant: hash-bucketed (optionally sorted) parquet table,
    replacing ``table``.

    Two tables bucketed on the same key with the same bucket count join
    WITHOUT a shuffle (sort-merge over co-located buckets; with sort_cols
    the per-bucket sort is pre-done too) — the standard way to amortize one
    write-time shuffle across every downstream join/agg on that key.
    Catalog-backed because bucket metadata lives in the table definition
    (plain ``.parquet(path)`` files can't record it).
    """
    writer = df.write.format("parquet").mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    properties: dict[str, str] | None = None,
) -> None:
    """SNK2 (etl_glue_job.py:18-43): warehouse load.

    The reference stages through S3 for Redshift COPY; plain JDBC writes one
    batch-insert stream per partition — repartition the input to control
    warehouse write concurrency; each insert batch is 10,000 rows (Spark's
    default is 1,000). Round-trip-tested against embedded Derby
    (tests/test_io.py::test_jdbc_roundtrip_embedded_derby) — the same
    batched-insert path a warehouse load uses.
    """
    writer = df.write.mode(mode).format("jdbc").option("url", url).option("dbtable", table)
    writer = writer.option("batchsize", "10000")
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()


def path_exists(spark: SparkSession, path: str) -> bool:
    """SNK3 existence probe (lamda_function.py:31-37) via the Hadoop FS API —
    works for file://, hdfs://, s3a:// alike."""
    jvm = spark._jvm
    jsc = spark._jsc
    hadoop_path = jvm.org.apache.hadoop.fs.Path(path)
    fs = hadoop_path.getFileSystem(jsc.hadoopConfiguration())
    return bool(fs.exists(hadoop_path))


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p, jvm


# The file layer: each filesystem step that io.py and snapshots.py take,
# written once over the Hadoop FS API (any scheme). Callers keep their
# own policy — which files they list, what they do after a move.


def _read_bytes(spark: SparkSession, path: str) -> bytes:
    """Whole content of a small file (a manifest, the HEAD hint), read
    on the driver through the Hadoop FS stream: a Spark job for a few-KB
    file would cost a whole job's fixed overhead on every read."""
    fs, p, jvm = _fs_and_path(spark, path)
    stream = fs.open(p)
    try:
        # commons-io ships with Hadoop; py4j maps byte[] to Python bytes
        return bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()


def _write_bytes(spark: SparkSession, path: str, data: bytes) -> None:
    """Create (or overwrite) the small file ``path`` holding ``data``."""
    fs, p, _ = _fs_and_path(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()


def _fan_out(fn, items: list) -> None:
    """Call ``fn`` on every item — independent FS RPCs. Up to 4 run
    serially; more run on a bounded thread pool (py4j gives each Python
    thread its own gateway connection, so the calls overlap). The first
    failure propagates: a commit or sweep that could not finish a step
    must not report success."""
    if len(items) <= 4:
        for item in items:
            fn(item)
        return
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(min(16, len(items))) as ex:
        list(ex.map(fn, items))


def _walk_files(spark: SparkSession, path: str):
    """Yield ``(relative path, FileStatus)`` for every file under
    ``path``, recursively, relative to the qualified root. One listing
    iterator and no per-file status RPC: each status already carries the
    length and modification time."""
    fs, root, _ = _fs_and_path(spark, path)
    prefix = len(fs.makeQualified(root).toString().rstrip("/")) + 1
    it = fs.listFiles(root, True)  # recursive RemoteIterator
    while it.hasNext():
        st = it.next()
        yield st.getPath().toString()[prefix:], st


def _move(fs, src, dst, what: str) -> None:
    """Rename the staged file ``src`` onto ``dst`` (Hadoop Paths). Hadoop
    ``rename`` reports failure by RETURNING False, not raising; a failed
    move raises here so no commit publishes around a missing file."""
    if not fs.rename(src, dst):
        raise IOError(f"{what}: rename {src} -> {dst} failed")


# The one crash-safe commit for plain parquet directories. A writer
# stages its files under the staging dir of ``path``, then publishes one
# manifest by rename: the commit point. The manifest lists the staged
# file -> destination moves and the files to delete; finishing it is
# idempotent, so :func:`recover` simply runs the finish again.


def _commit_siblings(path: str) -> tuple[str, str, str]:
    """(staging dir, manifest, manifest being written) of the commit on
    ``path``: the names its writers, :func:`recover` and a fresh-start
    wipe share."""
    base = path.rstrip("/")
    return base + ".__staging__", base + ".__manifest__", base + ".__manifest__.tmp"


def _list_data_files(spark: SparkSession, path: str):
    """Recursively list a table's parquet data files as
    (relative_dir, absolute_path, bytes) via the Hadoop FS API —
    any scheme. Committer metadata is excluded the way Spark's own
    InMemoryFileIndex excludes it: a hidden ('_'/'.'-prefixed) name
    ANYWHERE on the relative path hides the file — a crashed append's
    uncommitted task outputs under ``_temporary/`` must never be
    treated as table data (compacting them in would resurrect rows the
    reader itself would not return)."""
    out = []
    for rel, st in _walk_files(spark, path):
        segs = rel.split("/")
        if not segs[-1].endswith(".parquet"):
            continue
        if any(s.startswith(("_", ".")) for s in segs):
            continue
        out.append((rel.rpartition("/")[0], st.getPath().toString(), int(st.getLen())))
    return out


def _commit(
    spark: SparkSession,
    path: str,
    outputs: list[tuple[str, str]],
    delete: Iterable[str] = (),
) -> None:
    """Land staged directories in one crash-safe step. ``outputs`` pairs
    each directory staged under the staging dir of ``path`` with its
    destination: every data file in it moves to the same relative path
    there (committer markers stay behind). The files in ``delete`` go.
    The manifest naming all of it is renamed into place before anything
    moves, so a crash leaves either nothing promised or a commit
    :func:`recover` finishes. Destinations must share the filesystem of
    ``path``: qualifying one that does not raises here, before the
    manifest could promise a rename that cannot happen."""
    import json

    fs, _, jvm = _fs_and_path(spark, path)
    Path = jvm.org.apache.hadoop.fs.Path
    moves = []
    for staged, dest in outputs:
        root = fs.makeQualified(Path(dest)).toString().rstrip("/")
        for rel_dir, full, _ in _list_data_files(spark, staged):
            rel = (rel_dir + "/" if rel_dir else "") + full.rsplit("/", 1)[1]
            moves.append((full, f"{root}/{rel}"))
    _, manifest, tmp = _commit_siblings(path)
    _write_bytes(spark, tmp, json.dumps({"moves": moves, "delete": list(delete)}).encode())
    _move(fs, Path(tmp), Path(manifest), "commit manifest")
    _finish_commit(spark, path)


def _finish_commit(spark: SparkSession, path: str) -> None:
    """Finish the published commit on ``path``, idempotently so crash
    recovery can simply re-run it: move every staged file in (skip the
    already-moved), then delete the listed files (skip the
    already-deleted), then clear staging and manifest. At no instant is
    any row ONLY in a deleted file: staged files move in before anything
    is removed, so the transient state is duplication (repaired here),
    never loss."""
    import json

    fs, _, jvm = _fs_and_path(spark, path)
    Path = jvm.org.apache.hadoop.fs.Path
    staging, manifest, _ = _commit_siblings(path)
    listed = json.loads(_read_bytes(spark, manifest))

    def _move_in(pair: list[str]) -> None:
        src, dst = Path(pair[0]), Path(pair[1])
        if not fs.exists(src):
            return  # moved by a previous (crashed) finish
        fs.mkdirs(dst.getParent())
        _move(fs, src, dst, "commit")

    # a sliver-heavy commit issues hundreds of independent move/delete
    # RPCs; delete() returns False when already gone — the
    # idempotent-replay skip without a separate exists() RPC per file
    _fan_out(_move_in, listed["moves"])
    _fan_out(lambda full: fs.delete(Path(full), False), listed["delete"])
    fs.delete(Path(staging), True)
    fs.delete(Path(manifest), False)


def recover(spark: SparkSession, path: str) -> bool:
    """Repair a commit on ``path`` interrupted at any point, then report
    whether ``path`` exists. The manifest is the commit point: present,
    the staged files are complete and the finish runs again; absent,
    nothing was promised and the staging leftovers are discarded. Call
    before reading a directory a writer may have died on, and branch on
    the result rather than a bare exists(): a torn commit must neither
    read as "no table yet" nor show its rows twice."""
    fs, root, jvm = _fs_and_path(spark, path)
    Path = jvm.org.apache.hadoop.fs.Path
    staging, manifest, tmp = _commit_siblings(path)
    if fs.exists(Path(manifest)):
        _finish_commit(spark, path)
    else:
        fs.delete(Path(staging), True)
        fs.delete(Path(tmp), False)
    return bool(fs.exists(root))


def overwrite_parquet(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Crash-safe overwrite of the parquet directory ``path`` with ``df``:
    stage it, then :func:`_commit` it with every current data file of
    ``path`` in the delete list. ``df`` may still be reading ``path``
    (state folds, index compaction): Spark reads lazily, so writing
    straight over the source would corrupt the plan mid-read. Build such
    a ``df`` after :func:`recover`, so it never reads a torn commit."""
    spark = df.sparkSession
    staging = _commit_siblings(path)[0]
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(staging)
    old = [full for _, full, _ in _list_data_files(spark, path)] if path_exists(spark, path) else []
    _commit(spark, path, [(staging, path)], old)


def fetch_url(url: str, dest_path: str) -> str:
    """SRC1 (data_ingestion_func.py:19-21): stream a remote archive to local/
    object storage in 1 MiB chunks, never buffering it whole. Driver-side
    utility — at scale fetch a manifest and fan out reads via
    ``read_binary_files``."""
    import shutil
    import urllib.request

    with urllib.request.urlopen(url) as resp, open(dest_path, "wb") as out:  # noqa: S310
        shutil.copyfileobj(resp, out, 1 << 20)
    return dest_path


def expand_zip(
    zip_path: str, out_dir: str, suffix: str = ".json"
) -> list[str]:
    """SRC2 (lambda_unzip_function.py:18-22, lamda_function.py:24-28):
    expand a zip archive, keeping only ``suffix`` members.

    Members land under their basename, so two members sharing one (say
    ``2023/x.json`` and ``2024/x.json``) raise ``ValueError`` before
    anything is written — the second would silently overwrite the first."""
    with zipfile.ZipFile(zip_path) as zf:
        by_name: dict[str, str] = {}
        for member in zf.namelist():
            if suffix and not member.endswith(suffix):
                continue
            name = os.path.basename(member)
            if name in by_name:
                raise ValueError(
                    f"zip members {by_name[name]!r} and {member!r} both "
                    f"extract to {name!r} in {out_dir!r}"
                )
            by_name[name] = member
        os.makedirs(out_dir, exist_ok=True)
        written: list[str] = []
        for name, member in by_name.items():
            target = os.path.join(out_dir, name)
            with zf.open(member) as src, open(target, "wb") as dst:
                dst.write(src.read())
            written.append(target)
    return written


def expand_zip_distributed(spark: SparkSession, zips_path: str, suffix: str = ".json") -> DataFrame:
    """SRC2 at scale: read zip archives as binary files and fan members out to
    rows on executors (no driver bottleneck). Returns (archive, member, content)."""
    import pandas as pd

    binary = read_binary_files(spark, zips_path)

    def _explode_members(batches):
        for pdf in batches:
            rows = {"archive": [], "member": [], "content": []}
            for path, content in zip(pdf["path"], pdf["content"]):
                with zipfile.ZipFile(_io.BytesIO(content)) as zf:
                    for member in zf.namelist():
                        if suffix and not member.endswith(suffix):
                            continue
                        rows["archive"].append(path)
                        rows["member"].append(member)
                        rows["content"].append(zf.read(member))
            yield pd.DataFrame(rows)

    return binary.select("path", "content").mapInPandas(
        _explode_members, schema="archive string, member string, content binary"
    )


def load_star(spark: SparkSession, sf_dir: str):
    """Load the star-schema fixtures and register them as temp views, so
    the SQL surface (spark.sql) works over the same names as DuckDB."""
    from .plans import ensure_read_confs, normalize_nanos_ts

    ensure_read_confs(spark)
    dfs = {}
    for name in STAR_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = normalize_nanos_ts(spark.read.parquet(path))
            dfs[name] = df
            df.createOrReplaceTempView(name)
    return dfs


def retry(fn, sleep=None):
    """L4 (final_DAG.py:216-230): call ``fn()`` up to 5 times with
    exponential backoff — after failed attempt n (from 0) it sleeps 2**n
    seconds; the fifth failure re-raises. ``sleep`` is injectable for
    tests.

    Driver-side orchestration only (fetches, warehouse loads, flaky
    metastore calls) — never wrap per-row work in this; executor-side
    resilience is Spark's task retry."""
    import time as _time

    sleep = sleep or _time.sleep
    last: BaseException | None = None
    for attempt in range(5):
        try:
            return fn()
        except Exception as e:  # noqa: PERF203
            last = e
            if attempt < 4:
                sleep(2.0**attempt)
    assert last is not None
    raise last


# compact_table rewrites the files smaller than this share of its target size
COMPACT_SMALL_RATIO = 0.5


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
) -> dict:
    """In-place incremental small-file compaction (the OPTIMIZE shape)
    for a parquet table, partitioned or not: every table directory's
    files SMALLER than ``COMPACT_SMALL_RATIO * target_file_mb`` are read once,
    rewritten as ~``target_file_mb`` files, and landed by one
    manifest commit; files already at scan size are NEVER touched. Cost
    therefore scales with the accumulated small-file (delta) bytes, not
    the table — the property that lets a daily pipeline afford running
    this after every append batch (the per-family index compactions,
    ivf_compact_index / bm25_merge_many, are this operator specialized
    to their own layouts).

    Crash safety: the compacted replacement is staged in full, then
    lands through :func:`_commit` with the small files in its delete
    list (:func:`recover` is the read-side repair). A crash before the
    manifest leaves the table byte-identical; after it, the idempotent
    finish replays. The transient mid-commit state is row duplication,
    never loss, and single-writer discipline is assumed, as for every
    commit on a plain directory.

    Rewrites preserve the partition layout: staged files are written
    with the same ``partitionBy`` the directory structure encodes, one
    output task per directory capped by ``maxRecordsPerFile`` sized
    from the measured small-file bytes-per-row.

    Driver-side cost: the file listing, manifest, and commit loop are
    O(small files) FS calls on the driver (the data move itself is the
    cluster's). Compaction run on a cadence bounds that count — the
    point of the operator — but a table left to accumulate 10^6
    slivers pays one long first commit; run it before the backlog gets
    there.

    Returns {files_before, files_after, dirs_compacted,
    bytes_rewritten}."""
    recover(spark, path)
    files = _list_data_files(spark, path)
    files_before = len(files)
    threshold = int(COMPACT_SMALL_RATIO * target_file_mb * 1024 * 1024)
    by_dir: dict[str, list[tuple[str, int]]] = {}
    for rel_dir, full, size in files:
        if size < threshold:
            by_dir.setdefault(rel_dir, []).append((full, size))
    work = {d: fl for d, fl in by_dir.items() if len(fl) >= 2}
    if not work:
        return {
            "files_before": files_before,
            "files_after": files_before,
            "dirs_compacted": 0,
            "bytes_rewritten": 0,
        }
    small_paths = [full for fl in work.values() for full, _ in fl]
    small_bytes = sum(size for fl in work.values() for _, size in fl)
    # partition columns are encoded in the directory names (k=v/...)
    part_cols = [
        seg.split("=", 1)[0]
        for seg in next(iter(work)).split("/")
        if "=" in seg
    ]
    staging = _commit_siblings(path)[0]
    fs, root, _ = _fs_and_path(spark, path)
    base_uri = fs.makeQualified(root).toString()
    # partition values must round-trip VERBATIM: type inference would
    # parse a string dir value that looks numeric (k=00123) as int and
    # re-render it (k=123), silently splitting one logical partition
    # into two directories. Read them as strings — integer/date values
    # Spark itself wrote re-render identically, and the directory NAME
    # is the ground truth here, not the parsed type.
    infer_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    infer_was = spark.conf.get(infer_key, "true")
    try:
        if part_cols:
            spark.conf.set(infer_key, "false")
        df = (
            spark.read.option("basePath", base_uri).parquet(*small_paths)
            if part_cols
            else spark.read.parquet(*small_paths)
        )
    finally:
        spark.conf.set(infer_key, infer_was)
    n_rows = df.count()  # one job over the DELTA bytes only
    rows_per_file = max(
        1, int(target_file_mb * 1024 * 1024 * n_rows / max(1, small_bytes))
    )
    if part_cols:
        (
            df.repartition(*[F.col(c) for c in part_cols])
            .write.mode("overwrite")
            .option("maxRecordsPerFile", rows_per_file)
            .partitionBy(*part_cols)
            .parquet(staging)
        )
    else:
        # unpartitioned: the small-file read yields ~1 task per input
        # file, so bin to the byte-derived target count
        n_target = max(1, -(-small_bytes // (target_file_mb * 1024 * 1024)))
        df.repartition(n_target).write.mode("overwrite").option(
            "maxRecordsPerFile", rows_per_file
        ).parquet(staging)
    _commit(spark, path, [(staging, path)], small_paths)
    return {
        "files_before": files_before,
        "files_after": len(_list_data_files(spark, path)),
        "dirs_compacted": len(work),
        "bytes_rewritten": small_bytes,
    }
