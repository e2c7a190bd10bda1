"""Sources and sinks (SURVEY.md §2.1).

Reference parity:
- SRC3 json scan w/ inference  -> ``read_json``        (transformation_job.py:37-38)
- SRC4 catalog table scan      -> ``spark.read.table`` (etl_glue_job.py:28-31)
- SRC5/SNK1 parquet scan/sink  -> ``read_parquet`` / ``write_parquet``
                                                        (transformation_job.py:45)
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


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """SRC5: columnar scan; Catalyst pushes predicates + prunes columns."""
    return spark.read.parquet(path)


def read_json(
    spark: SparkSession,
    path: str | list[str],
    schema=None,
    multiline: bool = True,
    corrupt_col: str | None = None,
) -> DataFrame:
    """SRC3 (transformation_job.py:37-38): JSON scan.

    Schema inference is a full extra pass over the data — at 100 TB pass an
    explicit ``schema`` (pin once, then reuse) instead of inferring per run.

    ``corrupt_col``: PERMISSIVE capture of malformed documents into that
    column instead of failing the job (one bad file in a million must not
    kill a 100 TB ingest; filter `col IS NOT NULL` into a quarantine sink).
    Requires an explicit ``schema`` (Spark drops the corrupt column during
    inference), and the column must be declared StringType in it.
    """
    reader = spark.read.option("multiLine", "true" if multiline else "false")
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
    mode: str = "overwrite",
    partition_by: Iterable[str] | None = None,
    files_per_partition: int = 1,
    max_records_per_file: int | None = None,
) -> None:
    """SNK1 (transformation_job.py:45) + partitioning for scale.

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
        writer = rep.write.mode(mode)
        if max_records_per_file is not None:
            writer = writer.option("maxRecordsPerFile", max_records_per_file)
        writer.partitionBy(*cols).parquet(path)
        return
    writer = df.write.mode(mode)
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
    mode: str = "overwrite",
) -> None:
    """SNK1 scale variant: hash-bucketed (optionally sorted) parquet table.

    Two tables bucketed on the same key with the same bucket count join
    WITHOUT a shuffle (sort-merge over co-located buckets; with sort_cols
    the per-bucket sort is pre-done too) — the standard way to amortize one
    write-time shuffle across every downstream join/agg on that key.
    Catalog-backed because bucket metadata lives in the table definition
    (plain ``.parquet(path)`` files can't record it).
    """
    writer = df.write.format("parquet").mode(mode).bucketBy(num_buckets, *bucket_cols)
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
    batchsize: int = 10_000,
) -> None:
    """SNK2 (etl_glue_job.py:18-43): warehouse load.

    The reference stages through S3 for Redshift COPY; plain JDBC writes one
    batch-insert stream per partition — repartition the input to control
    warehouse write concurrency. Round-trip-tested against embedded Derby
    (tests/test_io.py::test_jdbc_roundtrip_embedded_derby) — the same
    batched-insert path a warehouse load uses.
    """
    writer = df.write.mode(mode).format("jdbc").option("url", url).option("dbtable", table)
    writer = writer.option("batchsize", str(batchsize))
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


def staging_path(path: str) -> str:
    """The ONE temp-dir name :func:`overwrite_parquet` writes,
    :func:`swap_directory` swaps in and :func:`recover_swapped` probes;
    owning the convention in one place is what lets crash recovery find
    the newest complete copy."""
    return path + ".__tmp__"


def overwrite_parquet(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Crash-safe overwrite of the parquet directory ``path`` with ``df``:
    write to :func:`staging_path` first, then :func:`swap_directory` it in.
    ``df`` may still be reading ``path`` (state folds, control tables,
    index compaction): Spark reads lazily, so writing straight over the
    source would corrupt the plan mid-read."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(staging_path(path))
    swap_directory(df.sparkSession, path)


def swap_directory(spark: SparkSession, path: str) -> None:
    """Crash-safe swap of the freshly-written :func:`staging_path` dir
    into ``path``.

    Two-phase: the live dir is renamed ASIDE (``path.__old__``) before the
    temp is renamed in, so at every instant at least one complete copy of
    the table survives on disk — a plain delete-then-rename has a window
    where a crash leaves NOTHING at ``path``, and a streaming checkpoint
    that already marked the batch committed would then silently rebuild
    state from scratch. ``recover_swapped`` is the matching read-side
    repair. Hadoop FS API so the swap works on any scheme, not just
    file:// (object stores without atomic rename need a manifest-commit
    protocol instead; this is the HDFS-class discipline).

    Hadoop ``rename`` reports failure by RETURNING FALSE, not raising —
    every step checks the return so a failed rename can never fall
    through to the cleanup delete and destroy the sole surviving copy.
    """
    tmp_path = staging_path(path)
    fs, dst, jvm = _fs_and_path(spark, path)
    src = jvm.org.apache.hadoop.fs.Path(tmp_path)
    old = jvm.org.apache.hadoop.fs.Path(path + ".__old__")
    if fs.exists(old):  # leftover from a crash after a previous swap's rename
        fs.delete(old, True)
    if fs.exists(dst):
        if not fs.rename(dst, old):
            raise IOError(f"rename {path} -> {path}.__old__ failed; aborting swap")
    if not fs.rename(src, dst):
        # put the live copy back so the table is never left missing
        if fs.exists(old):
            fs.rename(old, dst)
        raise IOError(f"rename {tmp_path} -> {path} failed; previous state restored")
    if fs.exists(old):
        fs.delete(old, True)


def recover_swapped(spark: SparkSession, path: str) -> bool:
    """If a crash mid-:func:`swap_directory` left ``path`` missing, promote
    the surviving complete copy back into place. Preference order: the temp
    (written in full BEFORE any swap step runs, and strictly newer than the
    set-aside copy), then ``path.__old__``. Returns True iff ``path``
    exists after recovery — callers branch on this instead of a bare
    exists() so a torn swap can never masquerade as 'no table yet'."""
    fs, dst, jvm = _fs_and_path(spark, path)
    if fs.exists(dst):
        return True
    candidates = (staging_path(path), f"{path}.__old__")
    promoted = False
    for cand in candidates:
        cp = jvm.org.apache.hadoop.fs.Path(cand)
        if not fs.exists(cp):
            continue
        # _SUCCESS is written LAST by the parquet committer: its presence
        # distinguishes a complete copy from a write that itself crashed
        # (a partial temp must never be promoted to live).
        if not promoted and fs.exists(
            jvm.org.apache.hadoop.fs.Path(cand + "/_SUCCESS")
        ):
            promoted = bool(fs.rename(cp, dst))
        else:
            # stale or partial leftover — remove so it can't be promoted
            # by a later recovery when it is no longer the newest state
            fs.delete(cp, True)
    return promoted


def fetch_url(url: str, dest_path: str, chunk_bytes: int = 1 << 20) -> str:
    """SRC1 (data_ingestion_func.py:19-21): stream a remote archive to local/
    object storage without buffering whole in memory. Driver-side utility —
    at scale fetch a manifest and fan out reads via ``read_binary_files``."""
    import urllib.request

    with urllib.request.urlopen(url) as resp, open(dest_path, "wb") as out:  # noqa: S310
        while True:
            chunk = resp.read(chunk_bytes)
            if not chunk:
                break
            out.write(chunk)
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


def load_star(spark: SparkSession, sf_dir: str, register_views: bool = True):
    """Load the driver's star-schema fixtures; optionally register temp views
    so the SQL surface (spark.sql) works over the same names as DuckDB."""
    from .plans import ensure_read_confs, normalize_nanos_ts

    ensure_read_confs(spark)
    dfs = {}
    for name in STAR_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = normalize_nanos_ts(spark.read.parquet(path))
            dfs[name] = df
            if register_views:
                df.createOrReplaceTempView(name)
    return dfs


def retry(
    fn,
    attempts: int = 5,
    base_delay: float = 1.0,
    exceptions: tuple[type[BaseException], ...] = (Exception,),
    sleep=None,
):
    """L4 (final_DAG.py:216-230): call ``fn()`` with exponential backoff —
    attempt n sleeps base_delay * 2**n before retrying; the last failure
    re-raises. ``sleep`` is injectable for tests.

    Driver-side orchestration only (fetches, warehouse loads, flaky
    metastore calls) — never wrap per-row work in this; executor-side
    resilience is Spark's task retry."""
    import time as _time

    sleep = sleep or _time.sleep
    last: BaseException | None = None
    for attempt in range(attempts):
        try:
            return fn()
        except exceptions as e:  # noqa: PERF203
            last = e
            if attempt < attempts - 1:
                sleep(base_delay * (2**attempt))
    assert last is not None
    raise last


def dir_bytes(spark: SparkSession, path: str) -> int:
    """Total bytes under a path via the Hadoop FS API (works for any
    supported scheme, same as path_exists)."""
    jvm = spark._jvm
    hadoop_path = jvm.org.apache.hadoop.fs.Path(path)
    fs = hadoop_path.getFileSystem(spark._jsc.hadoopConfiguration())
    return int(fs.getContentSummary(hadoop_path).getLength())


def _compact_manifest_path(path: str) -> str:
    return path.rstrip("/") + ".__compact_manifest__"


def _compact_staging_path(path: str) -> str:
    return path.rstrip("/") + ".__compact__"


def _list_data_files(spark: SparkSession, path: str):
    """Recursively list a table's parquet data files as
    (relative_dir, absolute_path, bytes) via the Hadoop FS API —
    any scheme. Committer metadata is excluded the way Spark's own
    InMemoryFileIndex excludes it: a hidden ('_'/'.'-prefixed) name
    ANYWHERE on the relative path hides the file — a crashed append's
    uncommitted task outputs under ``_temporary/`` must never be
    treated as table data (compacting them in would resurrect rows the
    reader itself would not return)."""
    fs, root, jvm = _fs_and_path(spark, path)
    root_uri = fs.makeQualified(root).toString().rstrip("/")
    out = []
    it = fs.listFiles(root, True)  # recursive RemoteIterator
    while it.hasNext():
        st = it.next()
        p = st.getPath()
        full = p.toString()
        rel = full[len(root_uri) :].lstrip("/")
        segs = rel.split("/")
        if not segs[-1].endswith(".parquet"):
            continue
        if any(s.startswith(("_", ".")) for s in segs):
            continue
        rel_dir = rel.rsplit("/", 1)[0] if "/" in rel else ""
        out.append((rel_dir, full, int(st.getLen())))
    return out


def _finish_compaction(spark: SparkSession, path: str) -> None:
    """Commit phase of :func:`compact_table`, idempotent so crash
    recovery can simply re-run it: move every staged file into its
    table directory (skip the already-moved), then delete the
    manifest-listed originals (skip the already-deleted), then clear
    manifest + staging. At no instant is any row ONLY in a deleted
    file: staged copies move in before their sources are removed, so
    the transient state is duplication (repaired here), never loss."""
    import json

    fs, root, jvm = _fs_and_path(spark, path)
    mpath = jvm.org.apache.hadoop.fs.Path(_compact_manifest_path(path))
    staging = _compact_staging_path(path)
    # read the (one-line JSON) manifest DRIVER-SIDE through the Hadoop FS
    # stream: a Spark text job for a few-KB file costs a whole job's
    # fixed overhead on every commit AND every recover probe
    stream = fs.open(mpath)
    try:
        data = bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()
    manifest = json.loads(data.decode("utf-8"))

    def _move_in(rel: str) -> None:
        src = jvm.org.apache.hadoop.fs.Path(staging + "/" + rel)
        dst = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "/" + rel)
        if not fs.exists(src):
            return  # moved by a previous (crashed) commit attempt
        parent = dst.getParent()
        if not fs.exists(parent):
            fs.mkdirs(parent)
        if not fs.rename(src, dst):
            raise IOError(f"compaction commit: rename {src} -> {dst} failed")

    def _drop(full: str) -> None:
        # delete() returns False when already gone — the idempotent-replay
        # skip without a separate exists() RPC per file
        fs.delete(jvm.org.apache.hadoop.fs.Path(full), False)

    # the per-file move/delete RPCs are independent; a sliver-heavy
    # commit issues hundreds — fan them over a bounded thread pool
    # (py4j gives each Python thread its own gateway connection), same
    # pattern as snapshots._parallel_fs_delete. Failures propagate.
    from concurrent.futures import ThreadPoolExecutor

    if len(manifest["staged"]) <= 4:
        for rel in manifest["staged"]:
            _move_in(rel)
    else:
        with ThreadPoolExecutor(min(16, len(manifest["staged"]))) as ex:
            list(ex.map(_move_in, manifest["staged"]))
    if len(manifest["delete"]) <= 4:
        for full in manifest["delete"]:
            _drop(full)
    elif manifest["delete"]:
        with ThreadPoolExecutor(min(16, len(manifest["delete"]))) as ex:
            list(ex.map(_drop, manifest["delete"]))
    fs.delete(jvm.org.apache.hadoop.fs.Path(staging), True)
    fs.delete(mpath, False)


def recover_compaction(spark: SparkSession, path: str) -> bool:
    """Repair a :func:`compact_table` interrupted at any point. The
    manifest is the commit point (renamed into place atomically):
    absent ⇒ the table was never touched — discard any staging
    leftovers; present ⇒ the staged files are complete — re-run the
    idempotent commit. Returns True iff a repair ran. Call before
    reading a table a compactor may have died on (the recover_swapped
    discipline)."""
    fs, root, jvm = _fs_and_path(spark, path)
    mpath = jvm.org.apache.hadoop.fs.Path(_compact_manifest_path(path))
    staging = jvm.org.apache.hadoop.fs.Path(_compact_staging_path(path))
    tmp = jvm.org.apache.hadoop.fs.Path(_compact_manifest_path(path) + ".tmp")
    if fs.exists(mpath):
        _finish_compaction(spark, path)
        return True
    repaired = False
    for leftover in (staging, tmp):
        if fs.exists(leftover):
            fs.delete(leftover, True)
            repaired = True
    return repaired


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    small_ratio: float = 0.5,
    sort_by: "Iterable[str] | None" = None,
) -> dict:
    """In-place incremental small-file compaction (the OPTIMIZE shape)
    for a parquet table, partitioned or not: every table directory's
    files SMALLER than ``small_ratio * target_file_mb`` are read once,
    rewritten as ~``target_file_mb`` files, and swapped in under a
    manifest commit; files already at scan size are NEVER touched. Cost
    therefore scales with the accumulated small-file (delta) bytes, not
    the table — the property that lets a daily pipeline afford running
    this after every append batch (the per-family index compactions,
    ivf_compact_index / bm25_merge_many, are this operator specialized
    to their own layouts).

    Crash safety (:func:`recover_compaction` is the read-side repair):
    the compacted replacement is fully written to a staging dir FIRST,
    then a manifest naming (staged files to move in, original files to
    delete) is renamed into place — the atomic commit point — and only
    then do files move. A crash before the manifest leaves the table
    byte-identical; after it, the idempotent commit replays. The
    transient mid-commit state is row duplication, never loss, and
    single-writer discipline is assumed (same contract as
    swap_directory).

    Rewrites preserve the partition layout: staged files are written
    with the same ``partitionBy`` the directory structure encodes, one
    output task per directory capped by ``maxRecordsPerFile`` sized
    from the measured small-file bytes-per-row.

    ``sort_by``: sort rows on these columns WITHIN each rewrite task
    before writing (sortWithinPartitions — no extra shuffle), so the
    merged files carry tight parquet footer min/max ranges on those
    columns. A clustered table (zorder_write's per-file bounds, a
    time-ordered ledger) loses its clustering if slivers are
    bin-packed unsorted; with sort_by the compaction preserves the
    skip-index property the layout paid for.

    Driver-side cost: the file listing, manifest, and commit loop are
    O(small files) FS calls on the driver (the data move itself is the
    cluster's). Compaction run on a cadence bounds that count — the
    point of the operator — but a table left to accumulate 10^6
    slivers pays one long first commit; run it before the backlog gets
    there.

    Returns {files_before, files_after, dirs_compacted,
    bytes_rewritten}."""
    import json

    recover_compaction(spark, path)
    files = _list_data_files(spark, path)
    files_before = len(files)
    threshold = int(small_ratio * target_file_mb * 1024 * 1024)
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
    staging = _compact_staging_path(path)
    fs, root, jvm = _fs_and_path(spark, path)
    fs.delete(jvm.org.apache.hadoop.fs.Path(staging), True)
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
        rep = df.repartition(*[F.col(c) for c in part_cols])
        if sort_by:
            rep = rep.sortWithinPartitions(*sort_by)
        (
            rep.write.mode("overwrite")
            .option("maxRecordsPerFile", rows_per_file)
            .partitionBy(*part_cols)
            .parquet(staging)
        )
    else:
        # unpartitioned: the small-file read yields ~1 task per input
        # file, so bin to the byte-derived target count. With sort_by
        # the bins must be RANGE partitions — a round-robin repartition
        # gives every task a uniform sample of the key domain, so each
        # sorted file would still span the whole domain and the footer
        # min/max property would be lost the moment the delta needs
        # more than one file.
        n_target = max(1, -(-small_bytes // (target_file_mb * 1024 * 1024)))
        if sort_by:
            rep = df.repartitionByRange(n_target, *sort_by)
            rep = rep.sortWithinPartitions(*sort_by)
        else:
            rep = df.repartition(n_target)
        rep.write.mode("overwrite").option(
            "maxRecordsPerFile", rows_per_file
        ).parquet(staging)
    staged = [
        (rel_dir + "/" if rel_dir else "") + full.rsplit("/", 1)[1]
        for rel_dir, full, _ in _list_data_files(spark, staging)
    ]
    manifest = {"staged": staged, "delete": small_paths}
    mtmp = jvm.org.apache.hadoop.fs.Path(_compact_manifest_path(path) + ".tmp")
    out = fs.create(mtmp, True)
    out.write(bytearray(json.dumps(manifest).encode()))
    out.close()
    if not fs.rename(mtmp, jvm.org.apache.hadoop.fs.Path(_compact_manifest_path(path))):
        raise IOError("compaction manifest rename failed; table untouched")
    _finish_compaction(spark, path)
    return {
        "files_before": files_before,
        "files_after": len(_list_data_files(spark, path)),
        "dirs_compacted": len(work),
        "bytes_rewritten": small_bytes,
    }
