"""SparkSession factory with scale-oriented defaults.

Design notes (SURVEY.md §4, §7): AQE is on so skewed joins/aggregations are
re-planned at runtime; the session timezone is pinned to UTC so timestamp
semantics match the DuckDB oracle; Arrow is enabled for the (rare) Pandas-UDF
paths; shuffle partitions default to 32, which AQE coalesces down on small
inputs, and are env-overridable for cluster runs (at 100 TB you want
O(cores×3) partitions or AQE coalescing from a high initial count).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Broadcast threshold: dims (region/nation/customer/supplier/part at test SF)
# should broadcast; at 100 TB only region/nation-sized dims stay under this.
_DEFAULT_BROADCAST_BYTES = 64 * 1024 * 1024

# Generated-class cache of the driver's codegen. One ipl_etl round compiles
# 110 distinct classes, more than Spark's default of 100 entries, so a second
# round in the same JVM recompiled 78 of them; with this size it compiled 2.
_CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "etl-ipl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a tuned SparkSession.

    Env overrides: ``SPARK_GRAFT_CPUS`` (local parallelism, default all
    cores), ``SPARK_GRAFT_SHUFFLE`` (shuffle partitions, default 32) and
    ``SPARK_GRAFT_DRIVER_MEM`` (driver memory, default 8g).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        # AQE: runtime re-planning — partition coalescing, skew-join splitting,
        # dynamic broadcast conversion. Essential at scale, harmless locally.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.autoBroadcastJoinThreshold", str(_DEFAULT_BROADCAST_BYTES))
        # Arrow for pandas_udf / applyInPandas / toPandas boundaries.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Read timestamps as-written; avoid int96 rebase surprises.
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        # Parquet TIMESTAMP(NANOS) (the events fixture) has no Spark type;
        # read as long and convert at the scan wrapper (plans.load).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # TIMESTAMP(MICROS, isAdjustedToUTC=false) reads as LTZ, not NTZ:
        # wall-clock identical under the UTC session TZ, numeric-castable,
        # and timestamp predicates stay pushable (see plans.ensure_read_confs).
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(_CODEGEN_CACHE_ENTRIES))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


def cluster_conf(
    total_cores: int,
    input_tb: float,
    executor_mem_gb: int = 32,
) -> dict[str, str]:
    """Recommended conf for a REAL cluster run at the target scale — the
    sizing arithmetic behind the local defaults above, made explicit.

    The governing constraint is per-task shuffle block size: a shuffle
    partition must fit comfortably in one task's memory share. With
    executors at ``executor_mem_gb`` and ~5 cores each, a task owns
    roughly mem/cores * 0.6 (unified memory fraction) — target shuffle
    partitions of ~128-200 MB so spills are the exception. For 100 TB
    input that means O(500k) initial shuffle partitions; AQE coalesces
    the post-filter stages back down, which is why we set the INITIAL
    number high and let coalescing find the real one (cheaper than
    repartitioning upward mid-query when a stage under-provisioned).

    Returned as a plain dict so callers pass it to get_spark(extra_conf=)
    or spark-submit --conf lines.
    """
    # ~150 MB target shuffle blocks, bounded below by 2 tasks/core
    shuffle_parts = max(
        total_cores * 2, int(input_tb * 1024 * 1024 / 150)
    )
    return {
        # scans: 256 MB splits keep the map-task count near the core
        # count at full scan, without tiny-task scheduling overhead
        "spark.sql.files.maxPartitionBytes": str(256 * 1024 * 1024),
        "spark.sql.shuffle.partitions": str(shuffle_parts),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": str(
            shuffle_parts
        ),
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # a skewed partition is split when > 5x median and > 256 MB
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "5",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": str(
            256 * 1024 * 1024
        ),
        # only region/nation-scale dims broadcast at 100 TB; everything
        # else must shuffle (a 1 GB "dim" x 1000 executors = 1 TB of
        # driver fan-out)
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # long-lived wide jobs: external shuffle + compressed spills
        "spark.shuffle.compress": "true",
        "spark.shuffle.spill.compress": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.executor.memory": f"{executor_mem_gb}g",
    }
