"""Versioned snapshot tables: atomic commits, time travel, ref-counted
expiry — the Delta/Iceberg-shaped layer the daily 100 TB pipeline needs
on plain parquet (SURVEY §2 SNK3/L3; the reference's S3 folder moves,
etl_glue_job.py:18-43, subsumed with actual transactional semantics).

Layout (optimistic writers, many readers):

    table/data/v<N>-<attempt>-<i>.parquet   immutable data files
                                        (optionally under Hive-style
                                        ``col=value`` partition dirs)
    table/_snapshots/v<version>.json    manifest: the COMPLETE live file
                                        list for that version + schema
    table/_commit_<version>_<attempt>/  hidden staging (crash debris)

The manifest rename is the ONLY commit point. A reader lists manifests,
picks the max (or an as-of version), and reads exactly the listed
files — so an interrupted commit is invisible (its data files are
unreferenced orphans, reclaimed by ``snapshot_expire``), appends are
O(delta) (a new manifest references the parent's files verbatim, no
data rewritten), and compaction is just another version whose manifest
lists the rewritten files while older versions keep reading the
originals. Nothing is ever modified in place; expiry deletes only
files unreferenced by every RETAINED manifest.

Concurrency: data file names carry a fresh uuid token per attempt, so
racing writers never collide on the data plane; manifest publication
arbitrates through a truly EXCLUSIVE primitive (an atomic hard-link on
local filesystems — link(2) fails with EEXIST — and rename + content
verify elsewhere; see ``_commit_manifest``). Every operation commits
through ONE publish path (``_publish``): it carries the parent's
manifest fields forward, publishes, and on a lost race re-reads the
head and rebuilds only the manifest (data files are already immutable)
up to ``_PUBLISH_RETRIES`` times. An operation's ``build`` decides
whether it can rebase: appends and metadata-only ops compose with any
racer, so concurrent APPENDS both land; rewriting ops (merge/delete/
compact, ``_commit_rewrite``) rebase iff every file the op rewrote is
still live in the new head (and, for merge, the racer's new files
carry none of the merge keys); a restore never rebases. A genuine
overlap raises ``SnapshotConflict`` and the caller re-runs on the new
head.

Scale: the manifest is one JSON line per version holding relative file
paths — for a 100 TB table at 1 GB files that's ~10⁵ names per
manifest, driver-trivial; the data plane is untouched parquet, so
scans keep pushdown/pruning. Cross-version file SHARING (append,
expire ref-count) is what bounds churn: a year of daily appends
rewrites nothing.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from .io import _fan_out, _fs_and_path, _move, _read_bytes, _walk_files, _write_bytes

# Above this many update keys the merge probe/anti joins stop hinting
# broadcast: a multi-million-row key set would blow the broadcast limit
# and fail the job, while a shuffle join merely costs one exchange.
_BROADCAST_KEYS_MAX = 1_000_000

# Below this many live files the merge skips the manifest-stats key-range
# prune: pruning exists to avoid SCHEDULING scan tasks for files a
# point-update can't touch (decisive at 10^4-10^5 files), but it costs one
# driver collect of the update keys — on a table this small the locate
# probe already scans every file in one tiny stage, so the collect job is
# pure overhead. Strictly conservative either way (candidates = all files).
_PRUNE_MIN_FILES = 64

# How many times a commit that lost the manifest-publish race rebuilds
# its manifest against the new head before SnapshotConflict propagates.
_PUBLISH_RETRIES = 10


class SnapshotConflict(IOError):
    """A commit lost the manifest-publish race and could not rebase: the
    target version was committed by another writer between head read
    and publish, and either the operation's rebase check vetoed the new
    head (a true overlap) or ``_PUBLISH_RETRIES`` retries all lost."""


def _snap_dir(path: str) -> str:
    return path.rstrip("/") + "/_snapshots"


def _manifest_path(path: str, version: int) -> str:
    return f"{_snap_dir(path)}/v{version:08d}.json"


def snapshot_versions(spark: SparkSession, path: str) -> list[int]:
    """Committed versions, ascending (empty list: no table yet)."""
    fs, root, jvm = _fs_and_path(spark, _snap_dir(path))
    if not fs.exists(root):
        return []
    out = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if name.startswith("v") and name.endswith(".json"):
            out.append(int(name[1:-5]))
    return sorted(out)


def _head_hint_path(path: str) -> str:
    return f"{_snap_dir(path)}/HEAD"


def _write_head_hint(spark: SparkSession, path: str, version: int) -> None:
    """Best-effort head pointer: a tiny ``_snapshots/HEAD`` file holding
    the newest version number, overwritten in place after every
    successful publish. Strictly a HINT — readers re-validate by
    probing forward from it (_head_version), so a stale, torn, or
    missing HEAD costs extra probes or one directory listing, never a
    wrong answer. This is what keeps head reads O(1) at 10^4+ versions
    (the many-versions smoke measures the listing alternative)."""
    try:
        _write_bytes(spark, _head_hint_path(path), str(int(version)).encode())
    except Exception:
        pass  # a hint writer must never fail a committed transaction


def _head_version(spark: SparkSession, path: str) -> int | None:
    """Newest committed version WITHOUT listing the manifest directory:
    read the HEAD hint, validate it, then probe forward (versions are
    contiguous by construction — each commit is parent+1 and expiry only
    drops the oldest) until the first missing manifest. A fresh hint
    costs 2 exists-checks; a hint stale by k commits costs k+2; a
    missing/garbage/expired hint falls back to one full listing. Returns
    None when the table has no committed version."""
    fs, _, jvm = _fs_and_path(spark, _snap_dir(path))
    try:
        hint = int(_read_bytes(spark, _head_hint_path(path)).decode("ascii").strip())
    except Exception:
        hint = None  # missing/torn/garbage hint: fall through to the listing
    if hint is not None and hint > 0 and fs.exists(
        jvm.org.apache.hadoop.fs.Path(_manifest_path(path, hint))
    ):
        v = hint
        while fs.exists(
            jvm.org.apache.hadoop.fs.Path(_manifest_path(path, v + 1))
        ):
            v += 1
        return v
    versions = snapshot_versions(spark, path)
    return versions[-1] if versions else None


def _read_manifest(spark: SparkSession, path: str, version: int) -> dict:
    """Read a (one-line JSON) manifest DRIVER-SIDE through the Hadoop FS
    stream — a manifest is a few KB, and launching a spark.read.text
    job per read would dominate small streaming micro-batches (the
    ingest path reads manifests every batch)."""
    return json.loads(_read_bytes(spark, _manifest_path(path, version)))


def snapshot_latest_batch_id(spark: SparkSession, path: str) -> int | None:
    """The ``batch_id`` recorded by the latest committed version, or None
    (no table, or no stream ever wrote it). Streaming ingest uses it to
    skip re-delivered micro-batches — the run_count_stream marker
    pattern fused into the manifest itself, so the exactly-once marker
    and the data commit share ONE atomic rename. Every commit
    (including maintenance) inherits the parent's marker, so the HEAD
    manifest answers in one read; the backward walk only remains for
    tables written before markers propagated."""
    head = _head_version(spark, path)
    if head is None:
        return None
    return _inherited_batch_id(spark, path, head, _read_manifest(spark, path, head))


def _inherited_batch_id(
    spark: SparkSession, base: str, version: int, manifest: dict
) -> int | None:
    """The streaming marker as of ``version`` (whose manifest is given).
    Every manifest ``_commit_manifest`` writes records it, null when the
    lineage never had one, so this is one dict lookup. Only a legacy
    manifest (written before the key was always recorded) lacks it and
    inherits from the newest older manifest that has it."""
    if "batch_id" in manifest:
        return manifest["batch_id"]
    for v in reversed(snapshot_versions(spark, base)):
        if v < version:
            older = _read_manifest(spark, base, v)
            if "batch_id" in older:
                return older["batch_id"]
    return None


def snapshot_commit(
    df: DataFrame,
    path: str,
    mode: str = "append",
    batch_id: int | None = None,
    partition_by: list[str] | None = None,
    cluster_by: list[str] | None = None,
    cluster_files: int | None = None,
    cluster_method: str = "range",
    cluster_tiebreak: str | None = None,
) -> int:
    """Commit ``df`` as a new table version; returns the version number.

    ``append`` references the parent manifest's files verbatim plus the
    new ones (no data rewritten — O(delta)); ``overwrite`` references
    only the new files (the old ones stay on disk for time travel until
    expired). Protocol: write the batch into a hidden staging dir, move
    the parquet files to immutable attempt-unique ``data/...`` names,
    then rename the manifest into place — the single atomic commit
    point. A crash anywhere before it leaves prior versions
    byte-identical and only unreferenced debris behind (reclaimed by
    snapshot_expire). ``batch_id`` (streaming ingest) rides the
    manifest, making the exactly-once replay marker part of the same
    atomic commit.

    ``partition_by`` lays data files out under Hive-style ``col=value``
    directories so a filtered as-of read keeps DIRECTORY pruning (see
    snapshot_scan) — the layout is fixed at table creation;
    appends inherit it and a mismatching explicit value raises.

    ``cluster_by`` range-partitions + sorts the batch on the given
    columns before staging, so each data file covers a TIGHT interval
    of the cluster key and the footer min/max stats the manifest
    captures actually prune (both the merge probe and snapshot_scan's
    filter). ``cluster_files`` pins the range-partition count (AQE
    would otherwise coalesce a small batch into one file; at scale,
    pick table_bytes / target_file_size). Per-commit physical layout
    only — nothing is recorded in the manifest, and different commits
    may cluster differently. ``cluster_method="zorder"`` interleaves
    the (numeric) cluster columns' equal-frequency bucket ranks into a
    Z-key instead of lexicographic ranges, so EVERY cluster column's
    per-file min/max is bounded and the conjunctive read-side prune
    bites on all of them — requires ``cluster_tiebreak``, a unique
    non-null row key (zorder_ranks contract).

    Concurrency (optimistic): if the manifest publish loses a race, the
    data files — already immutable under attempt-unique names — stay
    put; ``_publish`` re-reads the head and restages only the manifest
    at the next version number. Two racing appenders therefore BOTH
    land (versions n+1 and n+2, the second referencing the first's
    files verbatim); only a concurrent change of the partition layout
    conflicts. Note for streaming: the exactly-once batch-id skip check
    happens BEFORE commit, so concurrent writers to one table still need
    a single stream owner."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"unknown snapshot mode {mode!r}")
    spark = df.sparkSession
    base = path.rstrip("/")
    start = _read_head(spark, base, missing_ok=True)
    parent = start[1]
    if partition_by is not None:
        partition_by = list(partition_by)
    if mode == "append" and parent is not None:
        ppart = parent.get("partition_by") or []
        if partition_by is None:
            partition_by = ppart or None
        elif partition_by != ppart:
            raise ValueError(
                f"snapshot append partition_by={partition_by} does not match "
                f"the table layout {ppart} — the layout is fixed at creation "
                "(overwrite to change it)"
            )
    if cluster_by:
        df = _cluster_df(
            df, list(cluster_by), cluster_files, cluster_method, cluster_tiebreak
        )
    new_files = _stage_files(df, base, start[0] + 1, partition_by)
    new_stats, new_rows = _file_stats(base, new_files)

    def build(head_version: int, head: dict | None) -> dict:
        fields = {
            "files": list(new_files), "schema": df.schema, "batch_id": batch_id,
            "partition_by": partition_by, "stats": new_stats,
            "rows": new_rows, "bytes": new_files,
            "adds": dict.fromkeys(new_files, head_version + 1),
        }
        if mode == "overwrite":
            # the table is replaced: equality-delete entries and the
            # rename/drop machinery reset (names are fresh by definition)
            fields.update(deletes=None, field_meta=None)
        elif head is not None:
            if (head.get("partition_by") or []) != (partition_by or []):
                raise SnapshotConflict(
                    "snapshot commit: table layout changed concurrently "
                    f"(staged {partition_by or []}, head has "
                    f"{head.get('partition_by') or []})"
                )
            # equality-delete entries ride forward: they keep masking the
            # parent files they applied to; the appended files' add-version
            # (this version) postdates every entry, so a re-inserted key
            # is visible — exactly the MERGE-on-read contract
            fields["files"] = head["files"] + list(new_files)
            fields["schema"] = _merge_schemas(head["schema"], df.schema)
        return fields

    return _publish(spark, base, mode, build, start)


def _cluster_df(
    df: DataFrame,
    cluster_by: list[str],
    cluster_files: int | None,
    method: str,
    tiebreak: str | None,
) -> DataFrame:
    """Physically cluster a batch before staging: ``range`` =
    repartitionByRange + sortWithinPartitions (tight per-file intervals
    on the LEADING column), ``zorder`` = equal-frequency bucket ranks
    interleaved into a Z-key (EVERY column's per-file min/max bounded —
    needs ``tiebreak``, a unique non-null row key, per the zorder_ranks
    contract)."""
    if method == "zorder":
        if tiebreak is None:
            raise ValueError(
                "cluster_method='zorder' needs cluster_tiebreak "
                "(a unique non-null row key)"
            )
        from .operators.layout import interleave_bits, zorder_ranks

        helper = [f"__r{i}" for i in range(len(cluster_by))]
        keyed = zorder_ranks(df, cluster_by, tiebreak).withColumn(
            "__z", interleave_bits(helper)
        )
        parts = [cluster_files] if cluster_files else []
        return (
            keyed.repartitionByRange(*parts, "__z")
            .sortWithinPartitions("__z")
            .drop("__z", *helper)
        )
    if method == "range":
        parts = [cluster_files] if cluster_files else []
        return df.repartitionByRange(*parts, *cluster_by).sortWithinPartitions(
            *cluster_by
        )
    raise ValueError(f"unknown cluster_method {method!r}")


def _stage_files(
    df: DataFrame, base: str, version: int, partition_by: list[str] | None = None
) -> dict[str, int]:
    """Write ``df`` into hidden staging and move the parquet files to
    immutable, ATTEMPT-unique ``data/[col=val/]v<N>-<attempt>-<i>``
    names (``v<N>`` records the attempt's target version — informative
    only, nothing parses it); returns each relative path's byte length,
    in staging order, from the listing the move walks anyway. Pure
    data-plane: nothing is visible to readers until a manifest
    referencing these names lands, and because every attempt's names
    carry a fresh uuid token, neither crashed prior attempts nor
    concurrent writers can ever collide on a destination name.

    With ``partition_by`` the staging write is Hive-partitioned and the
    ``col=value`` directory structure is preserved under ``data/`` so
    scans keep directory pruning."""
    import time
    import uuid

    spark = df.sparkSession
    fs, _, jvm = _fs_and_path(spark, base)
    Path = jvm.org.apache.hadoop.fs.Path
    token = uuid.uuid4().hex[:8]
    staging = f"{base}/_commit_{version:08d}_{token}"
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(staging)
    # ((subdir, name), bytes): partitioned staging nests files under col=val dirs
    staged = sorted(
        (rel.rpartition("/")[::2], int(st.getLen()))
        for rel, st in _walk_files(spark, staging)
        if rel.endswith(".parquet")
    )
    new_files: dict[str, int] = {}
    moves = []
    made_dirs: set[str] = set()
    for i, ((subdir, name), size) in enumerate(staged):
        dest_dir = f"data/{subdir}".rstrip("/")
        if dest_dir not in made_dirs:
            dd = Path(f"{base}/{dest_dir}")
            if not fs.exists(dd):
                fs.mkdirs(dd)
            made_dirs.add(dest_dir)
        rel = f"{dest_dir}/v{version:08d}-{token}-{i:05d}.parquet"
        moves.append(
            (
                f"{staging}/{subdir}/{name}" if subdir else f"{staging}/{name}",
                f"{base}/{rel}",
            )
        )
        new_files[rel] = size

    def _publish_file(pair: tuple) -> None:
        dst = Path(pair[1])
        _move(fs, Path(pair[0]), dst, "snapshot commit")
        # rename preserves the mtime of the staging WRITE, but
        # snapshot_expire's staging_grace_s measures file age by mtime —
        # a commit whose staging write outlasts the grace would publish
        # files that are instantly "old enough" to sweep during the
        # move-to-manifest window. Stamp publication time so age is
        # measured from when the file became sweep-visible.
        fs.setTimes(dst, int(time.time() * 1000), -1)

    _fan_out(_publish_file, moves)
    fs.delete(Path(staging), True)
    return new_files


def _commit_manifest(
    spark: SparkSession,
    base: str,
    version: int,
    op: str,
    files: list[str],
    schema,
    batch_id: int | None = None,
    stats: dict | None = None,
    partition_by: list[str] | None = None,
    adds: dict | None = None,
    deletes: list | None = None,
    field_meta: dict | None = None,
    rows: dict | None = None,
    bytes: dict | None = None,
) -> None:
    """Write + atomically PUBLISH the version manifest — the commit point
    every snapshot operation reaches through ``_publish``. Publication must be EXCLUSIVE
    (exactly one writer per version can ever succeed), and a bare
    rename is not: POSIX rename(2) — what Hadoop LocalFileSystem and
    most object-store shims use — silently REPLACES an existing
    destination, so two writers that both pass an exists() pre-check
    would both "win" and the later manifest would clobber the earlier
    acknowledged commit. Per filesystem:

    - ``file``: publish with ``java.nio.file.Files.createLink`` —
      link(2) fails atomically with EEXIST, the content is fully
      durable in the attempt-unique tmp before the link, and there is
      no window in which a torn or clobbered manifest can exist.
    - everything else: rename (HDFS rename DOES fail on an existing
      destination), then re-read the published manifest and compare
      the attempt-unique ``writer`` token — a mismatch means a racer's
      rename replaced ours, so raise ``SnapshotConflict`` instead of
      acknowledging a commit whose manifest is gone. On eventually-
      consistent object stores true exclusivity needs a conditional
      put (Delta's LogStore approach); the verify-after-rename bounds
      the damage to "loser detects and retries" for stores whose
      read-after-write is consistent.
    """
    fs, _, jvm = _fs_and_path(spark, base)
    import time
    import uuid

    token = uuid.uuid4().hex
    manifest = {
        "version": version,
        "op": op,
        "files": list(files),
        "schema": schema.json(),
        # wall-clock commit time: serves snapshot_history and the
        # timestamp as-of read; never part of any oracle hash
        "committed_at": time.time(),
        # arbitration witness for the verify-after-rename path
        "writer": token,
        # the streaming marker, recorded even when null so a child
        # commit inherits it without walking the lineage
        "batch_id": None if batch_id is None else int(batch_id),
    }
    if stats:
        manifest["stats"] = stats
    if partition_by:
        manifest["partition_by"] = list(partition_by)
    if adds:
        # per-file ADD VERSION: the version at which each live data file
        # first entered the table. ~1 small int per file, carried forward
        # like stats; what scopes equality-delete entries (a delete masks
        # only files added at or before its ``applies`` version, so a
        # later re-insert of a deleted key is visible) AND resolves each
        # file's per-epoch physical column names under rename/drop
        # evolution. Absent for a legacy file means "added at version 0"
        # — every delete and every rename postdates it, which is exactly
        # right: legacy files predate both features.
        manifest["adds"] = {rel: int(v) for rel, v in adds.items()}
    if deletes:
        manifest["deletes"] = list(deletes)
    if rows:
        # per-file ROW COUNT from the same commit-time footer pass as
        # stats: makes snapshot_row_count a driver-only manifest sum on
        # tables without live equality-delete entries
        manifest["rows"] = {rel: int(n) for rel, n in rows.items()}
    if bytes:
        # per-file BYTE LENGTH from the staging listing: compaction sizes
        # its output from the manifest instead of a status call per file
        manifest["bytes"] = {rel: int(n) for rel, n in bytes.items()}
    if field_meta:
        # field-id machinery (Iceberg-shaped): ``field_ids`` maps each
        # CURRENT logical column name to a stable integer id;
        # ``field_added`` records the version each id entered the schema;
        # ``renames``/``drops`` are the chronological evolution log that
        # lets a read reconstruct the PHYSICAL column name any id had
        # when any given data file was written. Materialized lazily — the
        # first rename/drop initializes it; tables that never rename keep
        # byte-identical manifests and the single-scan read fast path.
        manifest.update(field_meta)
    Path = jvm.org.apache.hadoop.fs.Path
    sdir = Path(_snap_dir(base))
    if not fs.exists(sdir):
        fs.mkdirs(sdir)
    final_str = _manifest_path(base, version)
    final = Path(final_str)
    version_taken = SnapshotConflict(
        f"snapshot commit: manifest publish failed for v{version} "
        "(already committed by a concurrent writer)"
    )
    if fs.exists(final):
        raise version_taken
    # tmp name is attempt-unique: two racing writers must not clobber
    # each other's staged manifest before publication arbitrates
    tmp_str = final_str + f".tmp-{token[:8]}"
    tmp = Path(tmp_str)
    _write_bytes(spark, tmp_str, json.dumps(manifest).encode())
    if fs.makeQualified(final).toUri().getScheme() == "file":
        nio = jvm.java.nio.file
        try:
            # java.io.File(...).toPath(): py4j can't bind Paths.get's varargs
            nio.Files.createLink(
                jvm.java.io.File(_uri_path(final_str)).toPath(),
                jvm.java.io.File(_uri_path(tmp_str)).toPath(),
            )
        except Exception as e:  # py4j surfaces the java class in the message
            fs.delete(tmp, False)
            if "FileAlreadyExistsException" in str(e):
                raise version_taken from None
            raise
        fs.delete(tmp, False)
        _write_head_hint(spark, base, version)
        return
    if not fs.rename(tmp, final):
        fs.delete(tmp, False)
        if fs.exists(final):
            raise version_taken
        raise IOError(f"snapshot commit: manifest rename failed for v{version}")
    published = _read_manifest(spark, base, version)
    if published.get("writer") != token:
        raise SnapshotConflict(
            f"snapshot commit: manifest for v{version} was replaced by a "
            "concurrent writer after our rename (non-exclusive rename "
            "filesystem) — this writer's commit did not land"
        )
    _write_head_hint(spark, base, version)


def _read_head(
    spark: SparkSession, base: str, missing_ok: bool = False
) -> tuple[int, dict | None]:
    """``(version, manifest)`` of the newest committed version. Writers
    find it by LISTING (``snapshot_versions`` — the seam the race tests
    patch), not through the HEAD hint the read paths use. A table with
    no version raises, or gives ``(0, None)`` when ``missing_ok``."""
    versions = snapshot_versions(spark, base)
    if versions:
        return versions[-1], _read_manifest(spark, base, versions[-1])
    if missing_ok:
        return 0, None
    raise ValueError(f"no committed snapshot at {base}")


def _publish(spark: SparkSession, base: str, op: str, build, head: tuple) -> int:
    """Commit version ``head_version + 1`` — the ONE path every snapshot
    operation publishes through; returns the new version.

    ``head`` is the ``(head_version, manifest)`` the operation read its
    input against (manifest None for a table's first commit).
    ``build(head_version, manifest)`` returns only the manifest fields
    the operation sets (``_commit_manifest``'s keywords); everything
    else is carried forward from the parent:

    - ``files``, ``schema``, ``partition_by`` and ``deletes`` verbatim;
    - the per-file ``stats``/``rows``/``bytes``/``adds`` maps, restricted to the
      files the new version still lists (an entry is a fact about an
      immutable file), under build's entries for its new files;
    - the field-id machinery, with fresh ids for new schema names;
    - the streaming ``batch_id`` marker when build sets none, so replay
      protection never regresses and the head manifest answers
      snapshot_latest_batch_id without walking the lineage.

    If the publish loses the race, the head is re-read and build runs
    again against it — data files are immutable, only the manifest is
    recomputed. build raises ``SnapshotConflict`` to veto a rebase it
    cannot make; after ``_PUBLISH_RETRIES`` lost races the conflict
    propagates."""
    from pyspark.sql.types import StructType

    for attempt in range(_PUBLISH_RETRIES + 1):
        head_version, parent = head
        fields = build(head_version, parent)
        parent = parent or {}
        for key in ("files", "partition_by", "deletes"):
            fields.setdefault(key, parent.get(key))
        if "schema" not in fields:
            fields["schema"] = StructType.fromJson(json.loads(parent["schema"]))
        live = set(fields["files"])
        for key in ("stats", "rows", "bytes", "adds"):
            inherited = parent.get(key) or {}
            fields[key] = {
                **{rel: x for rel, x in inherited.items() if rel in live},
                **(fields.get(key) or {}),
            }
        if "field_meta" not in fields:
            fields["field_meta"] = _evolve_field_meta(
                parent, fields["schema"], head_version + 1
            )
        if fields.get("batch_id") is None and parent:
            fields["batch_id"] = _inherited_batch_id(
                spark, base, head_version, parent
            )
        try:
            _commit_manifest(spark, base, head_version + 1, op, **fields)
            return head_version + 1
        except SnapshotConflict:
            if attempt == _PUBLISH_RETRIES:
                raise
            head = _read_head(spark, base, missing_ok=True)


def _field_meta_of(manifest: dict | None) -> dict | None:
    """A fresh, normalised copy of the field-id machinery a manifest
    carries (safe to extend), or None when it was never materialized
    (tables that never rename/drop)."""
    if not manifest or "field_ids" not in manifest:
        return None
    fids = dict(manifest["field_ids"])
    return {
        "field_ids": fids,
        "next_field_id": int(
            manifest.get("next_field_id") or max(fids.values(), default=0) + 1
        ),
        "field_added": dict(manifest.get("field_added") or {}),
        "renames": list(manifest.get("renames") or []),
        "drops": list(manifest.get("drops") or []),
    }


def _evolve_field_meta(parent: dict | None, schema, version: int) -> dict | None:
    """Carry the parent's field-id machinery into a child commit at
    ``version``, assigning FRESH ids to schema fields the parent doesn't
    know — a re-added name after a drop (or after a rename freed the
    name) is a NEW field whose id postdates every old file, so old
    files' same-named physical columns can never serve it. Returns None
    when the parent never materialized ids (nothing to maintain — the
    manifest stays byte-identical to the pre-feature format)."""
    meta = _field_meta_of(parent)
    if meta is None:
        return None
    for f in schema.fields:
        if f.name not in meta["field_ids"]:
            meta["field_ids"][f.name] = meta["next_field_id"]
            meta["field_added"][str(meta["next_field_id"])] = int(version)
            meta["next_field_id"] += 1
    return meta


def _file_stats(base: str, rels: list[str]) -> tuple[dict, dict]:
    """Per-file column min/max from the parquet FOOTERS of newly staged
    files (driver-side, one footer read per NEW file — never the data
    pages, never old files: parents' stats ride their manifests
    forward). The Iceberg-shaped pruning metadata that lets
    snapshot_merge's locate probe skip files whose key range can't
    intersect the update batch. Best-effort: only int/float/str columns
    with real min/max land; anything else (or a non-local scheme where
    pyarrow can't open the path) is simply absent, and absence means
    "can't prune" — always conservative.

    Returns ``(stats, rows)``: the same footer pass also captures each
    file's ROW COUNT, which rides the manifest's ``rows`` map and makes
    ``snapshot_row_count`` a driver-only sum (no Spark job, no scan) on
    tables without live equality-delete entries."""
    out: dict = {}
    rows_out: dict = {}
    try:
        import os

        import pyarrow.parquet as pq
    except Exception:
        return out, rows_out
    for rel in rels:
        local = _uri_path(f"{base}/{rel}")
        if not os.path.exists(local):
            continue
        try:
            md = pq.ParquetFile(local).metadata
        except Exception:
            continue
        rows_out[rel] = int(md.num_rows)
        cols: dict = {}
        for rg in range(md.num_row_groups):
            row = md.row_group(rg)
            for ci in range(row.num_columns):
                col = row.column(ci)
                name = col.path_in_schema
                st = col.statistics
                if st is None or not st.has_min_max:
                    cols[name] = None
                    continue
                try:
                    mn, mx = st.min, st.max
                except Exception:
                    # pyarrow can't DECODE stats for every physical type
                    # (e.g. ArrowNotImplementedError on some decimals) —
                    # best-effort means "no stats, no pruning", never a
                    # failed commit
                    cols[name] = None
                    continue
                if not isinstance(mn, (int, float, str)) or isinstance(mn, bool):
                    cols[name] = None
                    continue
                # NaN poisons interval logic (every comparison False, so
                # overlaps() would PRUNE a file that can match — silent
                # corruption); long strings would bloat the one-line
                # manifest that every commit rewrites and every
                # micro-batch parses (a string prefix is not a valid
                # upper bound, so truncation is not an option — drop)
                if isinstance(mn, float) and (mn != mn or mx != mx):
                    cols[name] = None
                    continue
                if isinstance(mn, str) and (len(mn) > 64 or len(mx) > 64):
                    cols[name] = None
                    continue
                cur = cols.get(name)
                if name in cols and cur is None:
                    continue
                cols[name] = (
                    [mn, mx]
                    if cur is None
                    else [min(cur[0], mn), max(cur[1], mx)]
                )
        kept = {k: v for k, v in cols.items() if v is not None}
        if kept:
            out[rel] = kept
    return out, rows_out


def _prune_by_key_stats(
    manifest: dict, key_cols: list[str], keys: DataFrame, n_updates: int
) -> list[str]:
    """Candidate files for a merge probe: those whose manifest key-range
    could intersect the (sorted, broadcastable) update key set. Files
    without stats for the key column are always candidates — pruning is
    strictly conservative — and any type surprise falls back to
    all-files. Composite keys prune on the LEADING column only: a file
    whose col-1 range misses every update's col-1 value cannot hold a
    full-key match (necessary-condition pruning, still conservative),
    and a row whose leading column is NULL can never equi-join at all —
    so the all-NULL shortcut holds for composite keys too."""
    files = manifest["files"]
    stats = manifest.get("stats") or {}
    if not key_cols or n_updates > 100_000 or not stats:
        return files
    kc = key_cols[0]
    try:
        import bisect

        kvals = sorted(
            r[0] for r in keys.select(kc).collect() if r[0] is not None
        )
        if not kvals:
            # every update key's leading column is NULL, and NULL never
            # equi-joins — no file can contain a match
            return []
        # a NaN update key defeats interval reasoning (NaN compares
        # False with everything, yet Spark's join treats NaN = NaN as a
        # match) — prune nothing rather than prune wrong
        if any(isinstance(v, float) and v != v for v in kvals):
            return files

        def overlaps(rng) -> bool:
            i = bisect.bisect_left(kvals, rng[0])
            return i < len(kvals) and kvals[i] <= rng[1]

        out = []
        for rel in files:
            # stats are keyed by the column name AT WRITE TIME — resolve
            # through the rename log; a file written before the key
            # column existed holds only NULLs for it (never a match)
            pk = _phys_name(manifest, rel, kc)
            if pk is None:
                continue
            if pk not in stats.get(rel, {}) or overlaps(stats[rel][pk]):
                out.append(rel)
        return out
    except TypeError:
        return files


def _partition_value(rel: str, col: str, schema_json: dict):
    """Parse a Hive-style ``col=value`` component out of a manifest
    relative path and coerce it to the manifest schema's type for that
    column. Returns None when the component is absent, is the Hive
    null sentinel, or refuses coercion — all of which read as "can't
    prune this file"."""
    from urllib.parse import unquote

    needle = f"{col}="
    raw = None
    for seg in rel.split("/")[:-1]:
        if seg.startswith(needle):
            raw = unquote(seg[len(needle):])
            break
    if raw is None or raw == "__HIVE_DEFAULT_PARTITION__":
        return None
    ftype = next(
        (f["type"] for f in schema_json.get("fields", []) if f["name"] == col),
        None,
    )
    try:
        if ftype in ("byte", "short", "integer", "long"):
            return int(raw)
        if ftype in ("float", "double") or (
            isinstance(ftype, str) and ftype.startswith("decimal")
        ):
            return float(raw)
    except ValueError:
        return None
    return raw


def _prune_files_by_range(
    manifest: dict, col: str, lo, hi, rels: list[str] | None = None
) -> list[str]:
    """Manifest-level file skip for a range predicate ``lo <= col <= hi``
    (either bound may be None = unbounded): drop files whose recorded
    interval — the partition-directory value for partition columns,
    else the per-file footer min/max the manifest carries — is provably
    disjoint from [lo, hi]. Strictly conservative: no stats, a NaN
    bound, the Hive null-partition sentinel, or a cross-type comparison
    all keep the file. This is the read-side twin of the merge probe's
    ``_prune_by_key_stats``. ``rels`` narrows the candidate list so
    predicates compose (conjunction)."""
    stats = manifest.get("stats") or {}
    part_cols = manifest.get("partition_by") or []
    schema_json = json.loads(manifest["schema"])
    keep = []
    for rel in (manifest["files"] if rels is None else rels):
        rng = None
        if col in part_cols:
            v = _partition_value(rel, col, schema_json)
            if v is not None:
                rng = (v, v)
        if rng is None:
            # stats ride under the column's WRITE-TIME name; a file that
            # predates the column serves only NULLs, which no range
            # predicate matches — prune it outright
            pc = _phys_name(manifest, rel, col)
            if pc is None:
                continue
            rng = (stats.get(rel) or {}).get(pc)
        if rng is None:
            keep.append(rel)
            continue
        try:
            # NaN comparisons are all False, so a NaN endpoint can never
            # satisfy a "provably disjoint" test — conservative for free
            if lo is not None and rng[1] < lo:
                continue
            if hi is not None and rng[0] > hi:
                continue
        except TypeError:
            keep.append(rel)
            continue
        keep.append(rel)
    return keep


# Below this many bytes an equality-delete key file ships to every
# executor as a broadcast anti-join build side; above it the anti-join
# shuffles instead of risking the broadcast size limit.
_DELETE_BROADCAST_BYTES_MAX = 32 * 1024 * 1024


def _phys_name(manifest: dict, rel: str, col: str) -> str | None:
    """The column name ``col`` had WHEN data file ``rel`` was written —
    the rename-log replay every read and stats lookup goes through — or
    None when the field did not exist yet (the read serves NULL — and
    never a stale same-named physical column left behind by a drop or
    rename, because a re-added name carries a FRESH field id whose
    add-version postdates the file). A name outside the tracked schema
    (e.g. a probe projection) reads by its literal name."""
    renames = manifest.get("renames") or []
    # drops matter even with no renames: a dropped-then-re-added column
    # is a FRESH field whose add-version postdates old files, so their
    # stale same-named footer stats must not serve it (the field_added
    # check below returns None). Early-return only when neither history
    # exists.
    if not renames and not (manifest.get("drops") or []):
        return col
    fid = (manifest.get("field_ids") or {}).get(col)
    if fid is None:
        return col
    av = (manifest.get("adds") or {}).get(rel, 0)
    if int((manifest.get("field_added") or {}).get(str(fid), 0)) > av:
        return None
    name = col
    # undo renames NEWER than the file, newest first, to recover the
    # name the id had at write time (each id's entries form a chain)
    for r in reversed(renames):
        if r["id"] == fid and r["version"] > av:
            name = r["from"]
    return name


def _applicable_deletes(manifest: dict, rel: str) -> tuple:
    """Indices (into the manifest's ``deletes`` list) of the equality-
    delete entries that mask rows of data file ``rel``: exactly those
    whose ``applies`` version is >= the file's add-version. A file
    absent from ``adds`` is a legacy file (add-version 0 — every entry
    applies); a file added AFTER an entry's snapshot is untouched by
    it, which is what lets a deleted key be re-inserted."""
    deletes = manifest.get("deletes") or []
    if not deletes:
        return ()
    av = (manifest.get("adds") or {}).get(rel, 0)
    return tuple(i for i, d in enumerate(deletes) if av <= d["applies"])


def _read_data(
    spark: SparkSession,
    base: str,
    manifest: dict,
    rels: list[str],
    schema=None,
    with_file: str | None = None,
) -> DataFrame:
    """Scan exactly ``rels`` pinned to ``schema`` (default: the
    manifest's). Partitioned tables read with basePath=data/ so the
    Hive ``col=value`` directories materialize the partition columns
    the data files deliberately omit.

    Equality-delete entries (``snapshot_delete_keys`` — merge-on-read)
    are applied here, so EVERY consumer of table state — reads, scans,
    merge probes, compaction, CDC — sees them: rels are grouped by
    which entries apply (per the add-version scoping rule), each group
    anti-joins the applicable key files, and the groups union back. A
    manifest without entries keeps the single-scan fast path
    bit-identical to before. ``with_file`` names a column to carry
    ``input_file_name()`` — attached at the SCAN, before any delete
    anti-join, because the function returns '' once a shuffle boundary
    separates it from the scan."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import StructType

    if schema is None:
        schema = StructType.fromJson(json.loads(manifest["schema"]))
    if not rels:
        out = spark.createDataFrame([], schema)
        if with_file is not None:
            out = out.withColumn(with_file, F.lit(""))
        return out

    def scan(group: list[str], phys: tuple | None = None) -> DataFrame:
        if phys is None:
            read_schema = schema
        else:
            from pyspark.sql.types import StructField as SF
            from pyspark.sql.types import StructType as ST

            # read ONLY the columns that physically existed at the file's
            # epoch, under their then-names (types pinned to the current
            # — possibly widened — schema, which parquet serves directly)
            read_schema = ST(
                [
                    SF(p, f.dataType, True)
                    for f, p in zip(schema.fields, phys)
                    if p is not None
                ]
            )
        reader = spark.read.schema(read_schema)
        if manifest.get("partition_by"):
            reader = reader.option("basePath", base + "/data")
        df = reader.parquet(*[f"{base}/{rel}" for rel in group])
        if with_file is not None:
            df = df.withColumn(with_file, F.input_file_name())
        if phys is not None:
            cols = [
                F.col(p).alias(f.name)
                if p is not None
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f, p in zip(schema.fields, phys)
            ]
            if with_file is not None:
                cols.append(F.col(with_file))
            df = df.select(*cols)
        return df

    deletes = manifest.get("deletes") or []
    evolved = bool(manifest.get("renames") or manifest.get("drops"))
    if not deletes and not evolved:
        return scan(rels)
    groups: dict[tuple, list[str]] = {}
    for rel in rels:
        key = (
            _applicable_deletes(manifest, rel),
            tuple(_phys_name(manifest, rel, f.name) for f in schema.fields)
            if evolved
            else None,
        )
        groups.setdefault(key, []).append(rel)
    out = None
    def _gkey(kv):  # deterministic group order; phys may hold Nones
        sig, phys = kv[0]
        return (sig, tuple("" if p is None else p for p in (phys or ())))

    for (sig, phys), group in sorted(groups.items(), key=_gkey):
        df = scan(group, phys)
        for i in sig:
            d = deletes[i]
            keys = spark.read.parquet(f"{base}/{d['file']}")
            if d.get("bytes", 0) <= _DELETE_BROADCAST_BYTES_MAX:
                keys = F.broadcast(keys)
            # an equality anti-join: a NULL in a delete-key row matches
            # nothing (SQL equality), so NULL-keyed rows are undeletable
            # by this path — snapshot_delete_keys refuses NULL keys
            df = df.join(keys, list(d["cols"]), "left_anti")
        out = df if out is None else out.unionByName(df)
    return out


def _widened_type(a, b):
    """The LOSSLESS common type of two column types, or None when there
    isn't one. Whitelisted widenings (Delta's type-widening set, minus
    the lossy ones): the integral chain byte<short<int<long,
    float->double, {byte,short,int}->double (int is exact in a double;
    long is NOT — above 2^53 it would silently round, so long<->double
    refuses), and same-scale decimal precision growth. Symmetric: the
    wider side wins regardless of which schema carries it."""
    if a == b:
        return a
    from pyspark.sql.types import (
        ByteType,
        DecimalType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        ShortType,
    )

    ints = (ByteType, ShortType, IntegerType, LongType)

    def irank(t):
        for i, c in enumerate(ints):
            if isinstance(t, c):
                return i
        return None

    ra, rb = irank(a), irank(b)
    if ra is not None and rb is not None:
        return a if ra >= rb else b
    for wide, narrow, rnarrow in ((a, b, rb), (b, a, ra)):
        if isinstance(wide, DoubleType) and (
            isinstance(narrow, FloatType) or (rnarrow is not None and rnarrow <= 2)
        ):
            return wide
    if (
        isinstance(a, DecimalType)
        and isinstance(b, DecimalType)
        and a.scale == b.scale
    ):
        return a if a.precision >= b.precision else b
    return None


def _merge_schemas(parent_json: str, child):
    """Schema evolution for append/merge commits: the version's schema is
    the parent's fields plus any NEW child fields (order: parent first),
    and a same-name field whose types differ resolves to their LOSSLESS
    widened type (_widened_type — int->long, float->double, ...): the
    manifest records the widened schema and every read pins it, which
    Spark's parquet reader serves directly over the narrow files (no
    rewrite), while as-of reads of pre-widen versions keep their original
    narrow schema. Types with no lossless common type raise — silent
    coercion is how a 100 TB table rots."""
    from pyspark.sql.types import StructField, StructType

    parent = StructType.fromJson(json.loads(parent_json))
    by_name = {f.name: i for i, f in enumerate(parent.fields)}
    merged = list(parent.fields)
    for f in child.fields:
        if f.name not in by_name:
            merged.append(f)
            continue
        i = by_name[f.name]
        old = merged[i]
        if old.dataType != f.dataType:
            wide = _widened_type(old.dataType, f.dataType)
            if wide is None:
                raise ValueError(
                    f"snapshot append changes type of {f.name!r}: "
                    f"{old.dataType} -> {f.dataType} (no lossless widening)"
                )
            merged[i] = StructField(
                f.name, wide, nullable=old.nullable or f.nullable
            )
    return StructType(merged)


# Above this many versions, whole-lineage scans (history, timestamp
# as-of eligibility) switch from one driver-side manifest read per
# version (~4-6ms of py4j/FS RPC each — 60s at 10^4 versions, measured
# in the many-versions smoke) to ONE distributed spark.read.json job
# over the manifest directory. Below it, the driver loop wins: a Spark
# job costs ~0.3s of fixed overhead.
_LINEAGE_BATCH_THRESHOLD = 64


def _manifest_meta_rows(spark: SparkSession, base: str) -> list:
    """(version, op, n_files, batch_id, committed_at, partitioned) for
    every committed manifest, ascending, read DISTRIBUTED in one job —
    the whole-lineage scan path for tables with long histories. The
    glob matches exactly the committed ``v*.json`` names (HEAD and
    ``.json.tmp-*`` staging never match)."""
    import pyspark.sql.functions as F

    meta = (
        spark.read.schema(
            "version long, op string, batch_id long, committed_at double, "
            "partition_by array<string>, files array<string>"
        )
        .json(_snap_dir(base) + "/v*.json")
        .select(
            F.col("version").cast("int").alias("version"),
            "op",
            F.size("files").alias("n_files"),
            "batch_id",
            "committed_at",
            F.col("partition_by").isNotNull().alias("partitioned"),
        )
        .orderBy("version")
    )
    return [tuple(r) for r in meta.collect()]


def snapshot_history(spark: SparkSession, path: str) -> DataFrame:
    """DESCRIBE HISTORY: one row per committed version (manifest-only —
    never touches the data plane). ``committed_at`` is the writer's
    wall clock at manifest staging; pre-r11 manifests lack it (NULL).
    Long lineages (> _LINEAGE_BATCH_THRESHOLD versions) scan the
    manifest directory in ONE distributed job instead of a driver read
    per version."""
    base = path.rstrip("/")
    versions = snapshot_versions(spark, base)
    if len(versions) > _LINEAGE_BATCH_THRESHOLD:
        rows = _manifest_meta_rows(spark, base)
    else:
        rows = []
        for v in versions:
            m = _read_manifest(spark, base, v)
            rows.append(
                (
                    v,
                    m.get("op"),
                    len(m["files"]),
                    m.get("batch_id"),
                    float(m["committed_at"]) if "committed_at" in m else None,
                    bool(m.get("partition_by")),
                )
            )
    return spark.createDataFrame(
        rows,
        "version int, op string, n_files int, batch_id long, "
        "committed_at double, partitioned boolean",
    )


def snapshot_restore(spark: SparkSession, path: str, version: int) -> int:
    """ROLLBACK as a NEW version: commit a manifest that references the
    target version's files VERBATIM (op 'restore', zero data movement —
    one manifest write). History stays intact: the bad versions remain
    time-travelable until expiry, and the restore's references keep the
    restored files alive through ref-counted expiry even after the
    original manifest is dropped. The streaming batch-id marker carries
    forward from the HEAD, not the restored version — replay protection
    must stay monotone (a rollback of data must not re-open the
    exactly-once window). A restore that loses the publish race raises
    ``SnapshotConflict``: rebasing it would silently roll back a commit
    it never saw."""
    from pyspark.sql.types import StructType

    base = path.rstrip("/")
    versions = snapshot_versions(spark, base)
    if version not in versions:
        raise ValueError(f"version {version} not in {versions}")
    target = _read_manifest(spark, base, version)

    def build(head_version: int, head: dict) -> dict:
        if head_version != versions[-1]:
            raise SnapshotConflict(
                f"snapshot restore: v{head_version} landed after the restore "
                "read the head — re-run against the new head"
            )
        return {
            "files": target["files"],
            "schema": StructType.fromJson(json.loads(target["schema"])),
            "stats": target.get("stats"),
            "partition_by": target.get("partition_by"),
            "adds": target.get("adds"),
            "deletes": target.get("deletes"),
            "field_meta": _field_meta_of(target),
            "rows": target.get("rows"),
            "bytes": target.get("bytes"),
        }

    head = (versions[-1], _read_manifest(spark, base, versions[-1]))
    return _publish(spark, base, "restore", build, head)


def _resolve_version(
    spark: SparkSession,
    base: str,
    version: int | None,
    as_of_ts: float | None,
) -> int:
    """Shared version resolution for the read paths: explicit version,
    timestamp as-of (with the legacy-manifest exclusion documented on
    snapshot_read), or latest. The LATEST path goes through the HEAD
    hint (O(1) probes) instead of a directory listing — at 10^4 versions
    the listing is the dominant cost of a head read (measured in the
    many-versions smoke); explicit-version and as-of paths keep the
    listing, which they need anyway."""
    if version is None and as_of_ts is None:
        head = _head_version(spark, base)
        if head is None:
            raise ValueError(f"no committed snapshot at {base}")
        return head
    versions = snapshot_versions(spark, base)
    if not versions:
        raise ValueError(f"no committed snapshot at {base}")
    if as_of_ts is not None:
        if version is not None:
            raise ValueError("pass either version or as_of_ts, not both")
        if len(versions) > _LINEAGE_BATCH_THRESHOLD:
            # long lineage: one distributed scan instead of a driver
            # manifest read per version
            metas = [(r[0], r[4]) for r in _manifest_meta_rows(spark, base)]
        else:
            metas = [
                (v, _read_manifest(spark, base, v).get("committed_at"))
                for v in versions
            ]
        eligible = []
        stamped_seen = False
        for v, ts in metas:
            if ts is None:
                # legacy manifest: arbitrarily old, but only while no
                # stamped version precedes it (see snapshot_read)
                if not stamped_seen:
                    eligible.append(v)
                continue
            stamped_seen = True
            if ts <= as_of_ts:
                eligible.append(v)
        if not eligible:
            raise ValueError(
                f"no version committed at or before {as_of_ts} in {base}"
            )
        return eligible[-1]
    if version is None:
        return versions[-1]
    if version not in versions:
        raise ValueError(f"version {version} not in {versions}")
    return version


def snapshot_read(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    as_of_ts: float | None = None,
) -> DataFrame:
    """Read a table AS OF ``version`` (default: latest committed). Only
    manifest-listed files are scanned — concurrent commit staging,
    orphans from crashed commits, and newer versions' files are all
    invisible — and the scan is pinned to the MANIFEST's schema, so (a)
    an as-of read always yields that version's columns regardless of
    what later files carry, and (b) additive schema evolution works:
    files older than a column read it as NULL, no mergeSchema
    footer-sniff over every file needed. An empty version reconstructs
    its schema the same way so downstream plans still resolve. A
    filtered read goes through ``snapshot_scan``, which also skips the
    files the filter rules out.

    ``as_of_ts`` (unix seconds; mutually exclusive with ``version``)
    reads the newest version whose recorded ``committed_at`` is <= the
    timestamp. Versions lacking the field (pre-r11 manifests) are
    treated as arbitrarily old ONLY while no stamped version precedes
    them — an unstamped manifest at a higher version than a stamped one
    has an unknown commit time that is at least the stamped
    predecessor's, so letting it win at every timestamp would shadow
    the stamped version; such manifests are excluded from timestamp
    travel (still readable by explicit ``version``). The assumption
    this encodes: stamping is monotone — once a table has one stamped
    commit, every later commit is stamped too (true for any table this
    code writes; only hand-edited lineages can violate it)."""
    return snapshot_scan(spark, path, version=version, as_of_ts=as_of_ts)


# integral widenings are exact; float->double is exact; integral->floating
# is monotone but ROUNDS, so bounds derived through it get padded outward
# (_pad_lo/_pad_hi) to stay strictly conservative
_INTEGRAL = ("tinyint", "smallint", "int", "bigint")


def _strip_casts(jexpr):
    """Descend through Cast nodes whose conversion preserves ordering
    (widening numeric). Returns (innermost expr, rounded) where
    ``rounded`` is True when any stripped cast was integral->floating —
    the one exact-in-order but inexact-in-value case, which callers must
    compensate for by padding bounds outward. A non-whitelisted cast
    (string->int, double->int truncation, date math ...) returns None:
    no sound interval can be derived through it."""
    rounded = False
    while jexpr.getClass().getSimpleName() == "Cast":
        child = jexpr.children().apply(0)
        src = child.dataType().simpleString()
        dst = jexpr.dataType().simpleString()
        if src in _INTEGRAL and dst in _INTEGRAL:
            if _INTEGRAL.index(src) > _INTEGRAL.index(dst):
                return None, False
        elif src == "float" and dst == "double":
            pass
        elif src in _INTEGRAL and dst in ("float", "double"):
            rounded = True
        elif src == dst:
            pass
        else:
            return None, False
        jexpr = child
    return jexpr, rounded


def _literal_value(jexpr):
    """Python value of an analyzed Catalyst Literal, or None when the
    type can't be compared against manifest stats (stats only ever hold
    int/float/str — see _file_stats)."""
    if jexpr.getClass().getSimpleName() != "Literal":
        return None
    dtype = jexpr.dataType().simpleString()
    v = jexpr.value()
    if v is None:
        return None
    if dtype == "string":
        return str(v.toString())  # Catalyst holds UTF8String
    if dtype in _INTEGRAL or dtype in ("float", "double"):
        if isinstance(v, float) and v != v:
            return None  # NaN defeats interval reasoning
        return v if isinstance(v, (int, float)) else None
    return None


def _pad_lo(lo, rounded: bool):
    """Lower bound, padded outward when it was derived through an
    integral->floating cast: double(k) >= L only implies
    k >= L - rounding, and the rounding error scales with |k| (one ulp),
    so pad by max(1, |L|*2^-50) — >= 8 ulps at any magnitude."""
    if lo is None or not rounded:
        return lo
    return lo - max(1.0, abs(lo) * 2.0**-50)


def _pad_hi(hi, rounded: bool):
    if hi is None or not rounded:
        return hi
    return hi + max(1.0, abs(hi) * 2.0**-50)


def _conjunct_ranges(jexpr) -> list[tuple]:
    """(col, lo, hi) triples IMPLIED by an analyzed filter condition —
    sound, not complete: only top-level conjuncts of the forms
    attr cmp literal / literal cmp attr / attr IN (literals) /
    attr BETWEEN (desugared to >= AND <=) contribute; Or, Not, UDFs,
    non-monotone casts, NaN and NULL literals contribute nothing (the
    caller re-applies the full predicate, so missing a triple only costs
    IO, never rows). Strict inequalities relax to their closed forms —
    a boundary file is kept, never wrongly dropped."""
    cls = jexpr.getClass().getSimpleName()
    if cls == "And":
        return _conjunct_ranges(jexpr.left()) + _conjunct_ranges(jexpr.right())
    if cls in (
        "EqualTo",
        "EqualNullSafe",
        "GreaterThan",
        "GreaterThanOrEqual",
        "LessThan",
        "LessThanOrEqual",
    ):
        left, lrounded = _strip_casts(jexpr.left())
        right, rrounded = _strip_casts(jexpr.right())

        def _is_attr(e):
            return e is not None and e.getClass().getSimpleName() == "AttributeReference"

        if _is_attr(left):
            attr, rounded, flipped = left, lrounded, False
            lit = _literal_value(right) if right is not None else None
        elif _is_attr(right):
            attr, rounded, flipped = right, rrounded, True
            lit = _literal_value(left) if left is not None else None
        else:
            return []
        if lit is None:
            return []
        name = str(attr.name())
        if cls in ("EqualTo", "EqualNullSafe"):
            lo, hi = lit, lit
        elif cls in ("GreaterThan", "GreaterThanOrEqual"):
            lo, hi = (None, lit) if flipped else (lit, None)
        else:
            lo, hi = (lit, None) if flipped else (None, lit)
        return [(name, _pad_lo(lo, rounded), _pad_hi(hi, rounded))]
    if cls == "In":
        attr, rounded = _strip_casts(jexpr.value())
        if attr is None or attr.getClass().getSimpleName() != "AttributeReference":
            return []
        vals = []
        lst = jexpr.list()
        for i in range(lst.size()):
            item, _ = _strip_casts(lst.apply(i))
            v = _literal_value(item) if item is not None else None
            if v is None:
                return []  # a non-literal or NULL member defeats the range
            vals.append(v)
        if not vals:
            return []
        try:
            lo, hi = min(vals), max(vals)
        except TypeError:
            return []
        return [(str(attr.name()), _pad_lo(lo, rounded), _pad_hi(hi, rounded))]
    return []


def _filter_prune_triples(spark: SparkSession, schema, condition) -> list[tuple]:
    """Derive manifest-prune triples from a plain filter expression by
    ANALYZING it against the manifest schema (an empty local relation)
    and walking the resolved condition — Catalyst does name resolution,
    type coercion and constant folding, so ``between``, flipped
    operands, ``IN`` lists and widened literals all arrive in canonical
    shape. A filter that doesn't resolve against the schema raises here
    exactly as the real scan would."""
    probe = spark.createDataFrame([], schema).filter(condition)
    plan = probe._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "Filter":
        return []
    return _conjunct_ranges(plan.condition())


def snapshot_scan(
    spark: SparkSession,
    path: str,
    filter=None,
    version: int | None = None,
    as_of_ts: float | None = None,
) -> DataFrame:
    """snapshot_read with FILE pruning — the one pruned read: the
    natural ``snapshot_scan(spark, path, filter=col("k").between(lo,
    hi))`` call drops manifest files whose recorded interval —
    partition-directory value, else footer min/max stats — can't
    satisfy the filter, BEFORE Spark ever sees them: at 10^5 files the
    win is not row-group skip (parquet does that per file anyway) but
    never scheduling tasks for pruned-out files at all. ``filter`` is a
    Column or SQL string; its top-level conjunctive range/equality/IN
    predicates prune on footer stats AND partition directories
    (conjunction composes, e.g. partition column + cluster key),
    everything else in the predicate simply doesn't prune, and a file
    without stats is kept. The FULL filter is then applied to the
    surviving files' scan — extraction is strictly an IO optimization,
    Spark still pushes the predicate into the remaining parquet reads —
    so the result equals ``snapshot_read(...).filter(filter)`` by
    construction. Pair with ``snapshot_commit(cluster_by=...)`` to make
    the footer intervals tight enough to bite."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import StructType

    base = path.rstrip("/")
    v = _resolve_version(spark, base, version, as_of_ts)
    manifest = _read_manifest(spark, base, v)
    rels = manifest["files"]
    if filter is None:
        return _read_data(spark, base, manifest, rels)
    cond = F.expr(filter) if isinstance(filter, str) else filter
    schema = StructType.fromJson(json.loads(manifest["schema"]))
    for col, lo, hi in _filter_prune_triples(spark, schema, cond):
        rels = _prune_files_by_range(manifest, col, lo, hi, rels)
    return _read_data(spark, base, manifest, rels).filter(cond)


def snapshot_compact(
    spark: SparkSession, path: str, target_mb: int = 128
) -> int:
    """Rewrite the LATEST version's files into ~target_mb files as a NEW
    version (op 'replace' — same rows, fewer files). Older versions
    keep reading the original files; nothing is deleted here, so a
    reader pinned to any version is never broken — expiry is the only
    destructive step and it honors retention. The streaming batch-id
    marker carries forward, so a compact (then expiry) between stream
    runs never re-opens the exactly-once window."""
    return _rewrite_head(spark, path, target_mb, None, lambda cur, n: cur.coalesce(n))


def snapshot_optimize(
    spark: SparkSession,
    path: str,
    cluster_by: list[str],
    cluster_method: str = "range",
    cluster_tiebreak: str | None = None,
    target_files: int | None = None,
) -> int:
    """RE-CLUSTER the latest version in place (the OPTIMIZE ZORDER
    equivalent): rewrite its files ~128 MB-sized, range- or
    z-order-clustered on ``cluster_by``, as a NEW 'replace' version —
    so footer min/max stats become tight and every downstream prune
    (snapshot_scan filters, merge locate probes, CDC winner reads)
    bites on a table whose original commits arrived unclustered (the
    usual shape after months of streaming ingest). Semantics are
    exactly snapshot_compact's: no rows change, old versions keep
    reading the original files until expiry, equality-delete entries
    are absorbed physically, the batch-id marker carries forward, and
    a concurrent append rebases cleanly (its files ride the new
    manifest verbatim) while a concurrent rewrite conflicts."""
    return _rewrite_head(
        spark, path, 128, target_files,
        lambda cur, n: _cluster_df(
            cur, list(cluster_by), n, cluster_method, cluster_tiebreak
        ),
    )


def _rewrite_head(
    spark: SparkSession, path: str, target_mb: int, n_files: int | None, shape
) -> int:
    """The one "rewrite the head" body of compact and optimize:
    ``shape(rows, n)`` lays the head's rows out as ``n`` files
    (``n_files``, or the head's bytes over ``target_mb``), committed as a
    'replace' version."""
    base = path.rstrip("/")
    # read the data PINNED to the captured head manifest — a separate
    # "read latest" here would race a concurrent commit landing between
    # the two resolutions and compact rows the rebase then duplicates
    head_version, head = _read_head(spark, base)
    cur = _read_data(spark, base, head, head["files"])
    if n_files is None:
        sizes = dict(head.get("bytes") or {})
        unsized = [rel for rel in head["files"] if rel not in sizes]
        if unsized:
            sizes.update(_live_files(spark, base, unsized))
        total = sum(sizes[rel] for rel in head["files"])
        n_files = -(-total // (target_mb * 1024 * 1024))
    part = head.get("partition_by")
    files = _stage_files(shape(cur, max(1, int(n_files))), base, head_version + 1, part)
    # touched = every file this rewrite read: a concurrent APPEND
    # rebases cleanly (its files ride the new manifest verbatim next to
    # the rewritten ones); any concurrent REWRITE of those files raises.
    return _commit_rewrite(
        spark, base, head, head_version, op="replace",
        touched=list(head["files"]), new_files=files, new_schema=cur.schema,
    )


def _live_files(spark: SparkSession, base: str, rels: list[str]) -> dict[str, int]:
    """Byte length of each file in ``rels``, one status call per file: the
    fallback for files whose manifest predates its ``bytes`` map."""
    fs, _, jvm = _fs_and_path(spark, base)
    Path = jvm.org.apache.hadoop.fs.Path
    return {rel: int(fs.getFileStatus(Path(f"{base}/{rel}")).getLen()) for rel in rels}


def snapshot_expire(
    spark: SparkSession,
    path: str,
    keep_last: int = 2,
    staging_grace_s: float = 600.0,
    dry_run: bool = False,
) -> tuple[int, int]:
    """Drop all but the newest ``keep_last`` versions and delete every
    data file not referenced by a RETAINED manifest — including orphans
    from crashed commits (their manifest never landed, so nothing
    references them). Returns (versions_removed, files_removed). Files
    SHARED with a retained version survive: the ref-count is the set
    union of retained manifests, which is what makes append lineages
    cheap to expire.

    **Expire is a WRITER, not read-only maintenance**: it deletes data
    files and staging directories, so it participates in the table's
    write coordination like any commit. Against a commit that is IN
    FLIGHT (files moved into data/ but the manifest not yet renamed),
    the unreferenced-file sweep would delete the winner's data out from
    under it — ``staging_grace_s`` bounds that window by skipping
    staging dirs AND unreferenced data files younger than the grace
    period (default 10 min, far beyond a manifest restage). Pass 0 only
    when no commit can be in flight (tests, a quiesced table, or the
    single stream owner calling between its own batches).

    ``dry_run=True`` computes and returns the same (versions_removed,
    files_removed) counts but deletes NOTHING — the audit mode a
    retention-policy change gets pointed at first."""
    import time

    base = path.rstrip("/")
    fs, _, jvm = _fs_and_path(spark, base)
    versions = snapshot_versions(spark, base)
    if not versions:
        return (0, 0)
    keep = versions[-keep_last:] if keep_last > 0 else []
    drop = [v for v in versions if v not in keep]
    # set union of retained manifests' file lists — pure manifest
    # arithmetic, no per-file stat RPCs (at ~10^5 files per manifest a
    # getFileStatus-per-file pass would be minutes of metadata latency
    # on an object store for data this function never uses); the
    # modification times used for the grace check ride the SAME
    # listing entries the sweep already walks
    retained: set[str] = set()
    for v in keep:
        m = _read_manifest(spark, base, v)
        retained.update(m["files"])
        # equality-delete key files are live references too: sweeping one
        # would resurrect its deleted rows in every retained version
        retained.update(d["file"] for d in m.get("deletes") or [])
    cutoff_ms = (time.time() - staging_grace_s) * 1000.0
    Path = jvm.org.apache.hadoop.fs.Path
    sweep_paths = []
    if fs.exists(Path(base + "/data")):
        for rel, st in _walk_files(spark, base + "/data"):
            if "data/" + rel not in retained and st.getModificationTime() < cutoff_ms:
                sweep_paths.append(st.getPath())
    removed_files = len(sweep_paths)
    if dry_run:
        return (len(drop), removed_files)
    # deletes are one FS RPC each (~4-6ms of py4j/metadata latency); a
    # long-retention sweep or a 10^4-version expiry issues thousands —
    # measured in the many-versions smoke
    _fan_out(lambda p: fs.delete(p, False), sweep_paths)
    _fan_out(lambda v: fs.delete(Path(_manifest_path(base, v)), False), drop)
    # crashed-commit staging debris (past the grace window) too, and
    # manifest .tmp-* orphans a crash between create and rename leaves
    for st in fs.listStatus(Path(base)):
        if st.getPath().getName().startswith("_commit_") and (
            st.getModificationTime() < cutoff_ms
        ):
            fs.delete(st.getPath(), True)
    for st in fs.listStatus(Path(_snap_dir(base))):
        if ".json.tmp-" in st.getPath().getName() and (
            st.getModificationTime() < cutoff_ms
        ):
            fs.delete(st.getPath(), False)
    return (len(drop), removed_files)


def _touched_files(
    cur_with_file: DataFrame, base: str, files: list[str], probe: DataFrame | None,
    condition=None, key_cols: list[str] | None = None, broadcast: bool = True,
) -> list[str]:
    """Relative paths of the files that contain at least one row matched
    by ``probe`` (semi-join on key_cols) or ``condition`` — the
    copy-on-write granularity. Matching is by the scan's qualified
    input_file_name mapped back to manifest-relative names.
    ``broadcast=False`` drops the broadcast hint for probe sets too big
    to ship to every executor (the semi-join then shuffles)."""
    import pyspark.sql.functions as F

    spark = cur_with_file.sparkSession
    fs, _, jvm = _fs_and_path(spark, base)
    # Hadoop renders local URIs as file:/x while input_file_name yields
    # file:///x — compare by the scheme-independent path component
    qualified = {
        _uri_path(
            fs.makeQualified(jvm.org.apache.hadoop.fs.Path(f"{base}/{rel}")).toString()
        ): rel
        for rel in files
    }
    hit = cur_with_file
    if condition is not None:
        hit = hit.filter(condition)
    if probe is not None:
        hit = hit.join(
            F.broadcast(probe) if broadcast else probe, key_cols, "left_semi"
        )
    uris = [r["__file"] for r in hit.select("__file").distinct().collect()]
    return sorted(qualified[_uri_path(u)] for u in uris)


def _uri_path(uri: str) -> str:
    from urllib.parse import unquote, urlparse

    return unquote(urlparse(uri).path) if "://" in uri or uri.startswith("file:") else uri


def _commit_rewrite(
    spark: SparkSession,
    base: str,
    head: dict,
    head_version: int,
    op: str,
    touched: list[str],
    new_files: dict[str, int],
    new_schema,
    batch_id: int | None = None,
    validate_delta=None,
) -> int:
    """Publish a REWRITING op's manifest through ``_publish`` with
    rebase validation (Iceberg's validate-no-conflicting-files): the op
    rewrote ``touched`` (as read from ``head``) into ``new_files``, and
    the new manifest is the head's file list minus ``touched`` plus
    ``new_files``. If another commit landed first, the rebase is allowed
    iff every file this op rewrote is STILL LIVE in the new head — a
    concurrent APPEND (or a rewrite of disjoint files) composes, and
    the racer's delta is referenced verbatim. A concurrent op that
    removed any of our inputs is a true conflict and raises, as do a
    racing rename/drop, equality delete or layout change.
    ``validate_delta(delta_added_rels, head_manifest)`` lets the op veto
    semantically-conflicting concurrent additions (merge uses it to
    reject appends that carry its update keys — rebasing past those
    would leave duplicate keys); raise SnapshotConflict inside it to
    abort. Data files are never restaged — a rebase costs one manifest
    write."""
    touched_set = set(touched)
    read_version, read_head = head_version, head
    # footers of the new files are immutable: read them once, not per attempt
    new_stats, new_rows = _file_stats(base, new_files)

    def build(head_version: int, head: dict) -> dict:
        if head_version != read_version:
            _check_rebase(op, read_head, head, touched_set, validate_delta)
        survivors = [f for f in head["files"] if f not in touched_set]
        adds = head.get("adds") or {}
        # equality-delete entries survive iff they still mask at least one
        # surviving file; the REWRITTEN files read their state WITH the
        # entries applied (_read_data), so an entry masking only touched
        # files is fully absorbed by the rewrite — dropping it lets expiry
        # reclaim the key file. New files postdate every entry by
        # construction (their add-version is this commit).
        kept_deletes = [
            d
            for d in (head.get("deletes") or [])
            if any(adds.get(rel, 0) <= d["applies"] for rel in survivors)
        ]
        return {
            "files": survivors + list(new_files),
            "schema": _merge_schemas(head["schema"], new_schema),
            "stats": new_stats, "rows": new_rows, "bytes": new_files,
            "adds": dict.fromkeys(new_files, head_version + 1),
            "deletes": kept_deletes, "batch_id": batch_id,
        }

    return _publish(spark, base, op, build, (head_version, head))


def _check_rebase(
    op: str, read: dict, head: dict, touched: set, validate_delta
) -> None:
    """Raise SnapshotConflict unless a rewrite that read manifest
    ``read`` and rewrote the files ``touched`` can rebase onto the newer
    ``head``."""
    if (head.get("partition_by") or []) != (read.get("partition_by") or []):
        raise SnapshotConflict(f"snapshot {op}: table layout changed concurrently")
    gone = touched - set(head["files"])
    if gone:
        raise SnapshotConflict(
            f"snapshot {op}: a concurrent commit removed "
            f"{len(gone)} file(s) this op rewrote — "
            "re-run against the new head"
        )
    # a racer's metadata-only rename/drop is a true conflict the file
    # checks can't see (it changes no files): this op's rewritten files
    # were written under the OLD column names but get stamped with an
    # add-version that POSTDATES the rename, so the renamed field
    # resolves to its current physical name — which they don't contain
    # — and _merge_schemas resurrects the old name as a zombie fresh
    # field. Abort the rebase when the racer touched the field-id
    # history or removed/renamed any schema name; a purely ADDITIVE
    # concurrent evolution (new column appended, existing ids untouched)
    # still composes — rewritten files simply serve NULL for the new
    # column, same as the old files their rows came from.
    _empty_meta = {"field_ids": {}, "renames": [], "drops": []}
    old_meta = _field_meta_of(read) or _empty_meta
    new_meta = _field_meta_of(head) or _empty_meta
    old_names = {f["name"] for f in json.loads(read["schema"])["fields"]}
    new_names = {f["name"] for f in json.loads(head["schema"])["fields"]}
    if (
        old_names - new_names
        or new_meta["renames"] != old_meta["renames"]
        or new_meta["drops"] != old_meta["drops"]
        or any(
            new_meta["field_ids"].get(n, i) != i
            for n, i in old_meta["field_ids"].items()
        )
    ):
        raise SnapshotConflict(
            f"snapshot {op}: a concurrent schema rename/drop "
            "landed — the rewrite read old column names; re-run "
            "against the new head"
        )
    # a racer's NEW equality-delete entry is a true conflict: this op
    # read state WITHOUT it, so its rewritten files may carry rows the
    # racer deleted — and they'd escape the entry (their add-version
    # postdates it). Rebasing would resurrect them.
    known = {d["file"] for d in (read.get("deletes") or [])}
    if any(d["file"] not in known for d in (head.get("deletes") or [])):
        raise SnapshotConflict(
            f"snapshot {op}: a concurrent equality delete landed — "
            "re-run against the new head"
        )
    read_files = set(read["files"])
    delta_added = [f for f in head["files"] if f not in read_files]
    if validate_delta is not None and delta_added:
        validate_delta(delta_added, head)


def snapshot_merge(
    updates: DataFrame,
    path: str,
    key_cols: list[str],
    batch_id: int | None = None,
    delete_col: str | None = None,
) -> int:
    """MERGE (upsert) into a snapshot table with FILE-GRANULAR
    copy-on-write: only the files that actually contain a matched key
    are rewritten (their unmatched rows carried over, matched rows
    replaced by ``updates``); every untouched file is referenced
    verbatim by the new manifest, and rows of ``updates`` whose key
    exists nowhere are appended. The REWRITE reads only the touched
    files (a direct parquet read of those paths); the locate probe is a
    semi-join against the broadcast update keys over the CANDIDATE
    files only — candidates pruned by the per-file key-range stats the
    manifests carry (captured from parquet footers at commit time), so
    a point-update batch on a key-clustered table probes a handful of
    files, never the table. Files lacking stats stay candidates:
    pruning is strictly conservative. Schema evolution follows the append
    rule (additive merge, type changes refused); time travel is
    untouched — the rewritten files are NEW names, old versions keep
    reading the originals. ``updates`` must be key-unique (enforced):
    MERGE with multiple source matches is ambiguous, so it raises
    rather than silently writing duplicate keys. The parent's streaming
    batch-id marker is carried forward so maintenance never breaks
    exactly-once ingest.

    ``delete_col`` names a BOOLEAN marker column on ``updates`` making
    the batch a full CDC changeset in ONE atomic commit: rows where it
    is true are TOMBSTONES — their keys are removed from the table —
    and every other row upserts as usual (SQL MERGE's WHEN MATCHED
    THEN DELETE, at the same file-granular COW cost: a tombstone only
    forces the rewrite of files that held its key). The marker is an
    op-code, not data: it is dropped from what lands and excluded from
    schema evolution, a NULL marker means upsert, and a tombstone whose
    key matches nothing is a no-op (WHEN NOT MATCHED AND delete →
    ignore). Key-uniqueness applies across the WHOLE changeset — one
    operation per key per batch."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import StructType

    spark = updates.sparkSession
    base = path.rstrip("/")
    head_version, manifest = _read_head(spark, base)
    # one evaluation of the updates plan: everything downstream (counts,
    # key collect, probe and rewrite joins) reads the checkpointed blocks.
    # LAZY mark + the validation aggregate below as the materializing
    # action (the CC-loop fusion, guide §1.2): the aggregate's single job
    # computes EVERY partition, so the checkpoint finalizes with no
    # missing-partition follow-up — one job where eager + validate was
    # two, and still exactly one evaluation of the plan.
    updates = updates.localCheckpoint(eager=False)
    if delete_col is not None:
        if delete_col not in updates.columns:
            raise ValueError(
                f"snapshot_merge: delete_col {delete_col!r} not in updates"
            )
        # tombstones participate in the probe/anti joins (their keys must
        # locate and then vanish from the rewrite) but never land
        upserts = updates.filter(
            ~F.coalesce(F.col(delete_col), F.lit(False))
        ).drop(delete_col)
    else:
        upserts = updates
    keys = updates.select(*key_cols).distinct()
    # ONE validation job instead of two (count + distinct-count): both
    # reads run over the checkpointed blocks, and count_distinct over the
    # key STRUCT dedups exactly like .distinct().count() (a struct is
    # never NULL, and struct equality matches GROUP BY's null-safe field
    # semantics), so the duplicate-key check is value-identical.
    counts = updates.agg(
        F.count(F.lit(1)).alias("__n"),
        F.count_distinct(F.struct(*[F.col(c) for c in key_cols])).alias(
            "__k"
        ),
    ).collect()[0]
    n_updates = counts["__n"]
    if n_updates == 0:
        # a no-op merge commits nothing: the head version is returned
        # unchanged (an explicit batch_id marker, if any, is NOT
        # recorded — streaming callers skip empty batches upstream)
        return head_version
    if counts["__k"] != n_updates:
        raise ValueError(
            "snapshot_merge: updates carry duplicate keys on "
            f"{key_cols} — multiple source matches per key are ambiguous; "
            "dedup upstream with a defined precedence"
        )
    # a bounded key set ships to every executor; past the threshold the
    # probe/anti joins fall back to shuffles instead of failing the job
    # on the broadcast size limit
    bcast = n_updates <= _BROADCAST_KEYS_MAX
    bkeys = F.broadcast(keys) if bcast else keys
    schema = _merge_schemas(manifest["schema"], upserts.schema)
    cur_schema = StructType.fromJson(json.loads(manifest["schema"]))
    # key-range pruning: the locate probe scans only the files whose
    # manifest min/max could hold an update key — on a key-clustered
    # table a point-update batch probes a handful of files, not 10^5.
    # Below _PRUNE_MIN_FILES the probe already scans everything in one
    # tiny stage, so skip the prune's driver key-collect job outright.
    if len(manifest["files"]) >= _PRUNE_MIN_FILES:
        candidates = _prune_by_key_stats(manifest, key_cols, keys, n_updates)
    else:
        candidates = manifest["files"]
    if candidates:
        cur = _read_data(
            spark, base, manifest, candidates, schema=cur_schema,
            with_file="__file",
        )
        touched = _touched_files(
            cur, base, candidates, keys, key_cols=key_cols, broadcast=bcast
        )
    else:
        touched = []

    # align both sides to the merged schema: absent columns -> NULL,
    # present columns CAST to the merged type (a no-op unless this merge
    # widened the column — the cast is lossless by _widened_type's
    # construction, and without it the kept/updates union would carry
    # mismatched int/long sides)
    def _align(df):
        cols = [
            F.col(f.name).cast(f.dataType).alias(f.name)
            if f.name in df.columns
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ]
        return df.select(*cols)

    # kept = touched files' rows whose key is NOT updated, read DIRECTLY
    # from the touched paths (never a rescan of the table); every row of
    # ``updates`` lands in the rewrite (matched keys replace their old
    # row — which kept excludes — and unmatched keys are plain inserts)
    if touched:
        kept = _read_data(
            spark, base, manifest, touched, schema=cur_schema
        ).join(bkeys, key_cols, "left_anti")
        rewrite = _align(kept).unionByName(_align(upserts))
    else:
        rewrite = _align(upserts)
    part = manifest.get("partition_by")
    new_files = _stage_files(rewrite, base, head_version + 1, part)

    def _no_key_overlap(delta_added: list[str], head_m: dict) -> None:
        """Rebase veto: a concurrent commit's NEW files must not carry
        any of this merge's keys — the COW didn't rewrite them, so
        rebasing past them would leave the table with both the stale
        row and the updated one (duplicate key). Cost: one pruned probe
        over ONLY the delta files."""
        from pyspark.sql.types import StructType

        head_schema = StructType.fromJson(json.loads(head_m["schema"]))
        probe_rels = _prune_by_key_stats(
            {**head_m, "files": delta_added}, key_cols, keys, n_updates
        )
        if not probe_rels:
            return
        hit = (
            _read_data(spark, base, head_m, probe_rels, schema=head_schema)
            .join(bkeys, key_cols, "left_semi")
            .limit(1)
            .count()
        )
        if hit:
            raise SnapshotConflict(
                "snapshot merge: a concurrent commit added rows matching "
                "this merge's keys — re-run against the new head"
            )

    return _commit_rewrite(
        spark, base, manifest, head_version, op="merge",
        touched=touched, new_files=new_files, new_schema=upserts.schema,
        batch_id=batch_id, validate_delta=_no_key_overlap,
    )


def snapshot_delete(spark: SparkSession, path: str, condition) -> int:
    """DELETE rows matching ``condition`` with the same file-granular
    copy-on-write as snapshot_merge: files with no matching row are
    referenced verbatim; files with one are rewritten minus the matched
    rows, reading ONLY those files. Three-valued logic is handled the
    way SQL DELETE does: a NULL-evaluating condition does NOT delete
    the row (survivors keep condition IS NOT TRUE, mirroring the locate
    probe's condition IS TRUE). Old versions still read the originals
    (deletes are logical until snapshot_expire reclaims unreferenced
    files); the streaming batch-id marker carries forward."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import StructType

    base = path.rstrip("/")
    head_version, manifest = _read_head(spark, base)
    schema = StructType.fromJson(json.loads(manifest["schema"]))
    cur = _read_data(
        spark, base, manifest, manifest["files"], schema=schema,
        with_file="__file",
    )
    touched = _touched_files(cur, base, manifest["files"], None, condition=condition)
    part = manifest.get("partition_by")
    if touched:
        survivors = _read_data(
            spark, base, manifest, touched, schema=schema
        ).filter(~F.coalesce(condition, F.lit(False)))
        new_files = _stage_files(survivors, base, head_version + 1, part)
    else:
        new_files = {}
    # SNAPSHOT-ISOLATION rebase (no validate_delta): rows a concurrent
    # append added were never part of the state this delete read, so
    # they survive even when they match the condition — the delete
    # serializes BEFORE the append it rebases onto, exactly Iceberg's
    # snapshot-isolation DELETE. Only removal of a file this op rewrote
    # is a true conflict.
    return _commit_rewrite(
        spark, base, manifest, head_version, op="delete",
        touched=touched, new_files=new_files, new_schema=schema,
    )


def snapshot_delete_keys(keys: DataFrame, path: str) -> int:
    """MERGE-ON-READ equality delete: remove every row whose key columns
    (= ``keys``'s columns) match a row of ``keys`` — WITHOUT reading or
    rewriting ANY data file. The commit writes only the (small) key set
    as parquet and a manifest whose ``deletes`` entry points at it;
    every read path (_read_data — reads, scans, merge probes,
    compaction, CDC) anti-joins the entry against exactly the data
    files it applies to. This is the 100 TB small-delete path: a
    GDPR-style purge of 10^3 users on a 10^5-file table is one tiny
    parquet write + one manifest rename, where copy-on-write
    ``snapshot_delete`` would read-and-rewrite every file holding a
    matched row (use COW for bulk deletes — MOR entries tax every
    subsequent read until compaction absorbs them).

    Scoping: the entry applies to files added AT OR BEFORE the head
    version it committed against (per-file add-versions ride the
    manifest's ``adds`` map), so a later re-insert of a deleted key is
    visible — exactly SQL DELETE-then-INSERT. ``snapshot_compact``
    absorbs entries physically (its rewrite reads state with deletes
    applied and drops fully-absorbed entries), after which expiry
    reclaims the key files.

    Key rows must be NULL-free (equality never matches NULL, so a NULL
    key could not delete anything — refused loudly rather than silently
    ignored); duplicates are collapsed. Time travel is untouched:
    pre-delete versions read pre-delete state. Returns the new version
    (or the head unchanged for an empty key set)."""
    import functools
    import operator

    import pyspark.sql.functions as F
    from pyspark.sql.types import StructType

    spark = keys.sparkSession
    base = path.rstrip("/")
    head_version, head = _read_head(spark, base)
    schema = StructType.fromJson(json.loads(head["schema"]))
    cols = list(keys.columns)
    missing = [c for c in cols if c not in {f.name for f in schema.fields}]
    if not cols or missing:
        raise ValueError(
            f"snapshot_delete_keys: key columns {missing or cols} not in "
            f"table schema {[f.name for f in schema.fields]}"
        )
    # LAZY mark + the validation aggregate as the materializing action
    # (one job; the aggregate covers every partition, so the checkpoint
    # finalizes inside it — the snapshot_merge fusion)
    keys = keys.distinct().localCheckpoint(eager=False)
    # ONE validation job over the checkpointed keys instead of a count()
    # plus a limit(1).count() NULL probe — same two answers
    null_pred = functools.reduce(
        operator.or_, [F.col(c).isNull() for c in cols]
    )
    counts = keys.agg(
        F.count(F.lit(1)).alias("__n"),
        F.max(F.when(null_pred, 1).otherwise(0)).alias("__has_null"),
    ).collect()[0]
    n = counts["__n"]
    if n == 0:
        return head_version
    if counts["__has_null"]:
        raise ValueError(
            "snapshot_delete_keys: NULL in a key row — equality deletes "
            "can never match NULL (SQL equality); filter or use "
            "snapshot_delete with an IS NULL condition"
        )
    staged = _stage_files(keys.coalesce(1), base, head_version + 1, None)

    def build(head_version: int, head: dict) -> dict:
        # ANY concurrent commit composes: an equality delete serializes
        # after it by pointing ``applies`` at the head it publishes on —
        # "delete these keys as of now" is the contract, so rows a racing
        # append/merge just added are deleted too. But a concurrent
        # rename/drop of a key column composes with nothing — committing
        # the entry anyway would put cols in the manifest that no longer
        # exist in the schema, and every subsequent _read_data anti-join
        # would throw, bricking all reads until manual manifest repair.
        live = {f["name"] for f in json.loads(head["schema"])["fields"]}
        gone = [c for c in cols if c not in live]
        if gone:
            raise SnapshotConflict(
                f"snapshot_delete_keys: key column(s) {gone} were "
                "renamed or dropped concurrently — re-run with the "
                "current schema's key names"
            )
        entries = [
            {
                "file": rel,
                "cols": cols,
                "applies": head_version,
                "rows": n,
                "bytes": size,
            }
            for rel, size in staged.items()
        ]
        return {"deletes": (head.get("deletes") or []) + entries}

    return _publish(spark, base, "delete_keys", build, (head_version, head))


def _version_range(
    spark: SparkSession, base: str, from_version: int, to_version: int | None
) -> tuple[list[int], int]:
    """``(committed versions, to_version)`` for a change read over
    [from_version, to_version] (default: the head); raises ValueError
    when either end is not committed or the range is reversed."""
    versions = snapshot_versions(spark, base)
    if to_version is None:
        to_version = versions[-1] if versions else 0
    for v in (from_version, to_version):
        if v not in versions:
            raise ValueError(f"version {v} not in {versions}")
    if from_version > to_version:
        raise ValueError(
            f"from_version {from_version} > to_version {to_version}"
        )
    return versions, to_version


def snapshot_changes(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """CHANGE DATA FEED: the row-level NET difference between two
    committed versions, computed from the manifests' file diff — the
    incremental-consumption primitive a downstream pipeline polls
    instead of re-reading a 100 TB table. Returns the ``to`` version's
    columns plus ``_change_type`` ('insert' / 'delete', and with
    ``key_cols`` given, 'update_preimage' / 'update_postimage' for keys
    present on both sides).

    Because data files are IMMUTABLE, only files added, removed, or
    re-scoped by an equality-delete entry between the two versions can
    contribute changes — everything shared is skipped unread, so the
    scan cost is O(churn), not O(table): a day of appends + point
    merges on a 10^5-file table reads the appended/rewritten files
    only. Copy-on-write rewrites carry unmatched rows into new files;
    the multiset difference (group by ALL columns, net count) cancels
    those carried rows exactly, leaving true row-level changes — and
    net semantics also mean a row inserted then deleted WITHIN the
    range reports nothing (this is the endpoint diff, not a per-commit
    event log). Both sides read pinned to the ``to`` schema, so
    widened/added columns compare soundly (old files serve NULL /
    up-cast values — lossless by the evolution contract).

    ``key_cols`` classification is per net-changed key: a key with both
    a delete and an insert emits pre/postimage pairs. NULL-keyed rows
    never pair (SQL equality) — they stay plain insert/delete."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import StructType

    base = path.rstrip("/")
    _, to_version = _version_range(spark, base, from_version, to_version)
    m1 = _read_manifest(spark, base, from_version)
    m2 = _read_manifest(spark, base, to_version)
    schema2 = StructType.fromJson(json.loads(m2["schema"]))
    cols = [f.name for f in schema2.fields]
    s1, s2 = set(m1["files"]), set(m2["files"])

    def delete_sig(m: dict, rel: str) -> tuple:
        dels = m.get("deletes") or []
        av = (m.get("adds") or {}).get(rel, 0)
        return tuple(
            sorted(d["file"] for d in dels if av <= d["applies"])
        )

    # shared files whose APPLICABLE equality-delete set changed still
    # contribute (their visible rows differ); _read_data applies each
    # side's entries, so the multiset diff yields exactly those rows
    changed = [
        rel
        for rel in m1["files"]
        if rel in s2 and delete_sig(m1, rel) != delete_sig(m2, rel)
    ]
    old_rels = [rel for rel in m1["files"] if rel not in s2] + changed
    new_rels = [rel for rel in m2["files"] if rel not in s1] + changed
    # rename/drop-aware old side: when the `to` version's field-id lineage
    # extends the `from` version's (its rename/drop logs are a prefix —
    # always true unless an overwrite reset the table in between), read
    # the old files under the CURRENT names by grafting the newer
    # machinery onto the old manifest: each old file's add-version then
    # resolves its write-time physical names against the full log, so a
    # renamed column diffs as one field instead of a drop+add. Across an
    # overwrite there is no id lineage — columns match by literal name.
    old_m = m1
    if "field_ids" in m2:
        r1, d1 = m1.get("renames") or [], m1.get("drops") or []
        r2, d2 = m2.get("renames") or [], m2.get("drops") or []
        if r2[: len(r1)] == r1 and d2[: len(d1)] == d1:
            old_m = {
                **m1,
                **_field_meta_of(m2),
                "adds": {**(m2.get("adds") or {}), **(m1.get("adds") or {})},
            }
    old = _read_data(spark, base, old_m, old_rels, schema=schema2)
    new = _read_data(spark, base, m2, new_rels, schema=schema2)
    weighted = (
        old.select(*cols).withColumn("__w", F.lit(-1))
        .unionByName(new.select(*cols).withColumn("__w", F.lit(1)))
    )
    # MapType columns can't be group-by keys (Spark defines no equality
    # for maps in aggregation): group on a canonical serialization
    # instead — entries sorted by key when the entry struct is orderable,
    # raw to_json otherwise (consistent within one table's files) — and
    # carry one representative map value through the aggregate. Commits
    # and reads of map-typed tables always worked; this keeps the CDF,
    # per-version change log, and mirror from cliffing at consumption
    # time. ``key_cols`` themselves must remain groupable types.
    from pyspark.sql.types import ArrayType, MapType

    def _sortable(dt) -> bool:
        if isinstance(dt, MapType):
            return False
        if isinstance(dt, ArrayType):
            return _sortable(dt.elementType)
        if isinstance(dt, StructType):
            return all(_sortable(f.dataType) for f in dt.fields)
        return True

    map_cols = [
        f.name for f in schema2.fields if isinstance(f.dataType, MapType)
    ]
    group_cols = list(cols)
    map_aggs = []
    for c in map_cols:
        dt = schema2[c].dataType
        canon = (
            F.to_json(
                F.map_from_entries(F.array_sort(F.map_entries(F.col(c))))
            )
            if _sortable(dt.keyType) and _sortable(dt.valueType)
            else F.to_json(F.col(c))
        )
        weighted = weighted.withColumn(f"__g_{c}", canon)
        group_cols[group_cols.index(c)] = f"__g_{c}"
        map_aggs.append(F.first(F.col(c)).alias(c))
    net = (
        weighted.groupBy(*group_cols)
        .agg(F.sum("__w").alias("__n"), *map_aggs)
        .filter(F.col("__n") != 0)
        # a row appearing k times on one side nets |k| change rows —
        # exact multiset semantics, distributed (no driver materialization)
        .withColumn(
            "__i",
            F.explode(
                F.sequence(
                    F.lit(1).cast("long"), F.abs(F.col("__n")).cast("long")
                )
            ),
        )
    )
    typed = net.withColumn(
        "_change_type",
        F.when(F.col("__n") > 0, F.lit("insert")).otherwise(F.lit("delete")),
    ).select(*cols, "_change_type")
    if not key_cols:
        return typed
    # classify updates with ONE window over the key instead of an
    # intersect + four semi/anti joins: the join form re-evaluates the
    # whole multiset-diff subtree once per branch (plan-dump showed the
    # shuffle running 4-8x); the window adds a single key-partitioned
    # exchange over the (churn-sized) net-change set and keeps the diff
    # computed once. NULL-keyed rows never pair (SQL equality), so they
    # keep their plain insert/delete label.
    import functools
    import operator

    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols)
    has = lambda t: (  # noqa: E731
        F.max(F.when(F.col("_change_type") == t, 1).otherwise(0)).over(w) == 1
    )
    keys_nonnull = functools.reduce(
        operator.and_, [F.col(k).isNotNull() for k in key_cols]
    )
    both = has("insert") & has("delete") & keys_nonnull
    return typed.withColumn(
        "_change_type",
        F.when(
            both & (F.col("_change_type") == "insert"),
            F.lit("update_postimage"),
        )
        .when(
            both & (F.col("_change_type") == "delete"),
            F.lit("update_preimage"),
        )
        .otherwise(F.col("_change_type")),
    )


def _init_field_meta(head: dict) -> dict:
    """Materialize field-id machinery for a table that never had it:
    every current field gets id 1..n with add-version 0 ('existed from
    the start' — matching every existing file's implicit add-version)."""
    names = [f["name"] for f in json.loads(head["schema"])["fields"]]
    return _field_meta_of(head) or _field_meta_of(
        {
            "field_ids": {n: i + 1 for i, n in enumerate(names)},
            "field_added": {str(i + 1): 0 for i in range(len(names))},
        }
    )


def _check_schema_change_ok(head: dict, col: str, op: str) -> None:
    if col in (head.get("partition_by") or []):
        raise ValueError(
            f"snapshot {op}: {col!r} is a partition column — its name is "
            "baked into the Hive directory layout (overwrite to relayout)"
        )
    for d in head.get("deletes") or []:
        if col in d["cols"]:
            raise ValueError(
                f"snapshot {op}: {col!r} is a key column of a live "
                "equality-delete entry — run snapshot_compact first to "
                "absorb the entry"
            )


def snapshot_rename_column(
    spark: SparkSession, path: str, old: str, new: str
) -> int:
    """RENAME a column, metadata-only (Iceberg-style field ids): the
    commit rewrites ZERO data files — the manifest maps the column's
    stable field id to the new name and appends to the rename log, and
    reads reconstruct each data file's write-time physical name from
    the log + the file's add-version, projecting it back to the current
    name. Time travel is untouched (old versions' manifests keep the
    old name); a LATER column re-using the freed name gets a fresh id,
    so old files' physical columns can never leak into it. Partition
    columns (name baked into the directory layout) and live
    equality-delete key columns refuse — compact first. Returns the new
    version."""
    from pyspark.sql.types import StructField, StructType

    base = path.rstrip("/")

    # a metadata-only op composes with ANY concurrent commit: build
    # re-validates against whatever head it publishes on (the racer may
    # itself have renamed or dropped)
    def build(head_version: int, head: dict) -> dict:
        schema = StructType.fromJson(json.loads(head["schema"]))
        names = [f.name for f in schema.fields]
        if old not in names:
            raise ValueError(f"snapshot rename: no column {old!r} in {names}")
        if new in names:
            raise ValueError(f"snapshot rename: column {new!r} already exists")
        if not new or new == old:
            raise ValueError(f"snapshot rename: invalid target name {new!r}")
        _check_schema_change_ok(head, old, "rename")
        meta = _init_field_meta(head)
        fid = meta["field_ids"].pop(old)
        meta["field_ids"][new] = fid
        meta["renames"] = meta["renames"] + [
            {"id": fid, "version": head_version + 1, "from": old, "to": new}
        ]
        new_schema = StructType(
            [
                StructField(new, f.dataType, f.nullable, f.metadata)
                if f.name == old
                else f
                for f in schema.fields
            ]
        )
        return {"schema": new_schema, "field_meta": meta}

    return _publish(spark, base, "rename_column", build, _read_head(spark, base))


def snapshot_drop_column(spark: SparkSession, path: str, name: str) -> int:
    """DROP a column, metadata-only: zero data rewritten — the manifest's
    schema loses the field and the drop log records its id, so reads
    simply never project the physical column. Time travel still serves
    it in pre-drop versions; a later re-ADD of the same name is a brand
    new field (fresh id) that reads as NULL from every pre-re-add file
    rather than resurrecting dropped bytes. Partition columns and live
    equality-delete key columns refuse; so does dropping the last
    column. Returns the new version."""
    from pyspark.sql.types import StructType

    base = path.rstrip("/")

    def build(head_version: int, head: dict) -> dict:
        schema = StructType.fromJson(json.loads(head["schema"]))
        names = [f.name for f in schema.fields]
        if name not in names:
            raise ValueError(f"snapshot drop: no column {name!r} in {names}")
        if len(names) == 1:
            raise ValueError("snapshot drop: cannot drop the last column")
        _check_schema_change_ok(head, name, "drop")
        meta = _init_field_meta(head)
        fid = meta["field_ids"].pop(name)
        meta["drops"] = meta["drops"] + [
            {"id": fid, "version": head_version + 1, "name": name}
        ]
        new_schema = StructType([f for f in schema.fields if f.name != name])
        return {"schema": new_schema, "field_meta": meta}

    return _publish(spark, base, "drop_column", build, _read_head(spark, base))


def snapshot_changes_by_version(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """PER-COMMIT change log: one `snapshot_changes` diff per adjacent
    version pair in (from, to], each stamped with `_commit_version` —
    the Delta-CDF-shaped event stream, where `snapshot_changes` alone
    is the endpoint NET diff. The difference matters exactly when a row
    was inserted and deleted (or updated repeatedly) WITHIN the range:
    the endpoint diff nets it to nothing, the per-commit log shows
    every step. Cost is the sum of the per-pair O(churn) diffs — each
    pair reads only its own churned files, so a day of commits costs a
    day of churn, never rescans of the table. Metadata-only commits
    (rename/drop/restore-to-same-files) contribute zero rows but still
    appear as empty steps in the scan loop."""
    import pyspark.sql.functions as F

    base = path.rstrip("/")
    versions, to_version = _version_range(spark, base, from_version, to_version)
    span = [v for v in versions if from_version <= v <= to_version]
    out = None
    for lo, hi in zip(span, span[1:]):
        step = snapshot_changes(
            spark, base, lo, hi, key_cols=key_cols
        ).withColumn("_commit_version", F.lit(hi).cast("int"))
        out = step if out is None else out.unionByName(step)
    if out is None:
        m = _read_manifest(spark, base, to_version)
        from pyspark.sql.types import StructType

        empty = spark.createDataFrame(
            [], StructType.fromJson(json.loads(m["schema"]))
        )
        return empty.withColumn("_change_type", F.lit("")).withColumn(
            "_commit_version", F.lit(0).cast("int")
        ).limit(0)
    return out


def snapshot_row_count(
    spark: SparkSession, path: str, version: int | None = None
) -> int:
    """COUNT(*) for a table version from the MANIFEST alone when
    possible: every commit's footer pass records each new file's row
    count into the ``rows`` map (carried forward like stats), so on a
    table with no live equality-delete entries the answer is a
    driver-side sum — no Spark job, no task scheduling, O(files) dict
    lookups where a scan-count schedules one task per file (at 10^5
    files that is the difference between microseconds and a cluster
    round-trip). Falls back to a real distributed count when any live
    file predates the map (legacy commits) or when equality-delete
    entries mask an unknown number of rows."""
    base = path.rstrip("/")
    v = _resolve_version(spark, base, version, None)
    manifest = _read_manifest(spark, base, v)
    rows = manifest.get("rows") or {}
    if not manifest.get("deletes") and all(
        rel in rows for rel in manifest["files"]
    ):
        return sum(rows[rel] for rel in manifest["files"])
    return _read_data(spark, base, manifest, manifest["files"]).count()
