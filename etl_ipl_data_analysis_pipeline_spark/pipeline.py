"""End-to-end ingest pipeline (SURVEY.md §3.1): the reference's DAG chain —
fetch → unzip → read JSON → flatten → schema-drift gate → parquet → ledger
update (final_DAG.py:349's 14-task sequence) — as one composable function.

One run is one batch: the archive members this run extracted whose keys the
ledger has not seen. Discovery compares the archive's member list (already
on the driver) with the ledger; the batch is then read by exact path, so no
scan ever globs the accumulated landing zone, and it is flattened once: the
write that lands the rows also counts them. Re-running against an unchanged
archive is a no-op (the run-twice idempotency contract, L3). The streaming
twin of the same semantics is streaming/incremental.py.

Every Spark job a run launches carries the description
``run_ingest:<phase>``, phase one of ``discover``, ``registry``, ``write``
and ``ledger``; the caller's description is restored on return. (Spark
describes its own parallel file-listing job, run for more than 32 paths.)
"""

from __future__ import annotations

import functools
import os
import re
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

from .io import (
    expand_zip,
    fetch_url,
    overwrite_parquet,
    read_binary_files,
    recover_swapped,
    write_parquet,
)
from .io import read_json as _read_json
from .operators.flatten import flatten
from .operators.ledger import (
    LEDGER_SCHEMA,
    discover_new_files,
    empty_ledger,
    ledger_rows,
    strip_extension,
)
from .operators.schema_diff import (
    SNAPSHOT_SCHEMA,
    drift_report,
    schema_diff,
    schema_snapshot,
)

_JOB_DESCRIPTION = "spark.job.description"
_GLOB_CHARS = re.compile(r"([*?\[\]{}\\])")


@dataclass
class RunResult:
    processed_files: int
    rows_written: int
    drift: str | None  # drift report when the schema changed, else None
    skipped: bool  # True when no new files were found
    quarantined: int = 0  # malformed documents diverted to quarantine_dir


def _json_from_strings(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Parse a one-column DataFrame of JSON document strings with the full
    JSON datasource (schema inference, top-level-array explosion). The
    JVM ``Dataset.as(Encoders.STRING())`` bridge keeps the documents
    JVM-side."""
    jds = getattr(docs._jdf, "as")(spark._jvm.org.apache.spark.sql.Encoders.STRING())
    return DataFrame(spark._jsparkSession.read().json(jds), spark)


def _literal(path: str) -> str:
    """Escape Hadoop glob characters: the file sources glob every path
    they are given, so ``m[1].json`` would otherwise match ``m1.json``
    and ``a{b}.json`` nothing at all."""
    return _GLOB_CHARS.sub(r"\\\1", path)


def _phase(spark: SparkSession, name: str) -> None:
    spark.sparkContext.setJobDescription(f"run_ingest:{name}")


def _restores_job_description(fn):
    @functools.wraps(fn)
    def wrapper(spark: SparkSession, *args, **kwargs):
        sc = spark.sparkContext
        caller = sc.getLocalProperty(_JOB_DESCRIPTION)
        try:
            return fn(spark, *args, **kwargs)
        finally:
            sc.setLocalProperty(_JOB_DESCRIPTION, caller)  # None clears it

    return wrapper


def _save_small_table(df: DataFrame, path: str) -> None:
    """Overwrite a control table (ledger / schema registry) that the input
    plan may still be READING from: write to a temp sibling path first, then
    crash-safely swap directories (io.overwrite_parquet keeps one complete
    copy on disk at every instant). Spark reads lazily, so writing straight
    over the source path would corrupt the plan mid-read — and a
    collect()-to-driver round-trip would cap the ledger at driver memory
    (one row per ingested file is 10⁷ rows at real fleet scale)."""
    overwrite_parquet(df.coalesce(1), path)


@_restores_job_description
def run_ingest(
    spark: SparkSession,
    source: str,
    landing_dir: str,
    out_dir: str,
    ledger_path: str,
    schema_registry_path: str | None = None,
    json_schema=None,
    on_drift: str = "warn",
    quarantine_dir: str | None = None,
    compact_after: bool = False,
    compact_target_mb: int = 128,
) -> RunResult:
    """One pipeline run. ``source`` is a zip path or http(s) URL; JSON
    members land in ``landing_dir``, flattened rows append to ``out_dir``.

    ``compact_after``: run :func:`io.compact_table` on ``out_dir`` after
    the append — the maintenance step that keeps a daily append-mode
    table from accumulating one sliver per run per partition (cost
    scales with the accumulated small-file bytes, so running it every
    ingest is affordable by construction; crash mid-compaction is
    repaired by the recover pass the next run performs).

    Drift gate: the flattened schema is compared against the newest
    snapshot in ``schema_registry_path``; ``on_drift='block'`` raises
    (compare_schema.py's alert-and-stop), 'warn' records the report in the
    result and proceeds.

    ``quarantine_dir`` (requires ``json_schema``): malformed JSON documents
    are captured PERMISSIVE-ly, written there as (path, raw text), and
    excluded from the flatten — one corrupt file degrades to a quarantine
    row instead of failing the whole run.
    """
    if on_drift not in ("warn", "block"):
        raise ValueError("on_drift must be 'warn' or 'block'")
    if quarantine_dir is not None and json_schema is None:
        raise ValueError(
            "quarantine_dir requires json_schema: PERMISSIVE corrupt-record "
            "capture needs a pinned schema to know what a malformed row is"
        )

    # 1. acquire + expand (SRC1/SRC2). fetch_url streams to the landing zone.
    if source.startswith(("http://", "https://")):
        archive = os.path.join(landing_dir, os.path.basename(source) or "archive.zip")
        os.makedirs(landing_dir, exist_ok=True)
        fetch_url(source, archive)
    else:
        archive = source
    members = expand_zip(archive, landing_dir, suffix=".json")

    # 2. incremental discovery (L1): this run's members vs the ledger by
    # normalized key. No ledger means every member is fresh and no job
    # runs. Otherwise one anti-join against the ledger (read with its
    # schema pinned, so no inference job) collects the fresh rows — no
    # more than the member list the driver already holds. recover_swapped
    # repairs a swap torn by a crash first: an absent-looking ledger
    # would re-ingest everything.
    _phase(spark, "discover")
    fresh = spark.createDataFrame(
        [(m,) for m in sorted(members)], "path string"
    ).withColumn("file_key", strip_extension(F.expr("reverse(split(path, '/'))[0]")))
    if recover_swapped(spark, ledger_path):
        ledger = spark.read.schema(LEDGER_SCHEMA).parquet(ledger_path)
        rows = discover_new_files(fresh, ledger).collect()
        fresh = spark.createDataFrame(rows, fresh.schema)
        paths = [r.path for r in rows]
    else:
        ledger = empty_ledger(spark)
        paths = sorted(members)
    if not paths:
        return RunResult(0, 0, None, skipped=True)

    # 3. read + flatten (SRC3, P1-P4): exactly the fresh files, each path
    # escaped so the sources' globbing matches it literally.
    paths = [_literal(p) for p in paths]
    n_quarantined = 0
    cached_raw = None
    if quarantine_dir is not None:
        from pyspark.sql.types import StringType, StructField, StructType

        schema_q = (
            StructType(list(json_schema.fields) + [StructField("_corrupt", StringType())])
            if isinstance(json_schema, StructType)
            else json_schema + ", _corrupt string"
        )
        # cache() is REQUIRED before projecting the corrupt column alone:
        # Spark refuses corrupt-column-only queries on raw JSON otherwise
        # (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN). The batch
        # is only this run's new files, so the cache is small by design.
        _phase(spark, "write")  # diverting to quarantine is a write
        raw = (
            _read_json(spark, paths, schema=schema_q, corrupt_col="_corrupt")
            .withColumn("_src", F.input_file_name())
            .cache()
        )
        bad = raw.filter(F.col("_corrupt").isNotNull()).select(
            F.col("_src").alias("path"), F.col("_corrupt").alias("raw")
        )
        n_quarantined = bad.count()
        if n_quarantined:
            write_parquet(bad, quarantine_dir, mode="append")
        cached_raw = raw
        raw = raw.filter(F.col("_corrupt").isNull()).drop("_corrupt", "_src")
    elif json_schema is not None:
        raw = _read_json(spark, paths, schema=json_schema)
    else:
        # Inference mode: the schema comes from THIS batch only (the drift
        # gate compares the new batch's shape). The files are read as whole
        # documents and the JSON reader infers over the strings: handed
        # paths, the multiLine reader would re-glob them during inference.
        docs = read_binary_files(spark, paths).select(F.col("content").cast("string"))
        raw = _json_from_strings(spark, docs)
    flat = flatten(raw)

    # 4. drift gate (J3/SE2/SE3) against the newest registry snapshot; the
    # diff is collected once and the report built from those rows.
    drift_msg = None
    if schema_registry_path is not None:
        _phase(spark, "registry")
        if recover_swapped(spark, schema_registry_path):
            registry = spark.read.schema(SNAPSHOT_SCHEMA).parquet(schema_registry_path)
            latest = registry.agg(F.max("version_id")).first()[0]
            old = registry.filter(F.col("version_id") == latest).select("name", "type")
            new = schema_snapshot(spark, flat, version_id=0).select("name", "type")
            diff = schema_diff(new, old).collect()
            if diff:
                drift_msg = drift_report(diff)
                if on_drift == "block":
                    raise RuntimeError(drift_msg)
                updated = registry.unionByName(
                    schema_snapshot(spark, flat, version_id=latest + 1)
                )
                _save_small_table(updated, schema_registry_path)
        else:
            _save_small_table(
                schema_snapshot(spark, flat, version_id=1), schema_registry_path
            )

    # 5. write (SNK1). Append — each run adds only its new files' rows,
    # counted by an observation on the write itself.
    _phase(spark, "write")
    counted = Observation()
    write_parquet(flat.observe(counted, F.count(F.lit(1)).alias("n")), out_dir, mode="append")
    rows_written = counted.get["n"]
    if cached_raw is not None:
        cached_raw.unpersist()  # executor memory back; batch is re-readable
    if compact_after:
        from .io import compact_table

        # recover-then-compact is inside compact_table: a previous run's
        # torn commit replays before this run's bin-packing plan is made
        compact_table(spark, out_dir, target_file_mb=compact_target_mb)

    # 6. ledger update (L2/L3): one row per fresh key, ingested through
    # crawled/transformed (this runner performs both stages). The union
    # also keeps the ledger's declared schema when it is new.
    _phase(spark, "ledger")
    new_rows = ledger_rows(fresh.select("file_key"), ("ingested", "crawled", "transformed"))
    _save_small_table(ledger.unionByName(new_rows), ledger_path)

    return RunResult(len(paths), rows_written, drift_msg, skipped=False, quarantined=n_quarantined)
