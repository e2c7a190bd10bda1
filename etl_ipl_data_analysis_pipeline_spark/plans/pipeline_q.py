"""Pipeline-operator queries (SURVEY.md §2.2 P1-P4, §1.3 schema drift,
§2.9 ledger, §2.3 J9 as-of): the reference's CORE transforms exercised over
deterministic inline fixtures (independent of sf_dir) plus the events table.

Oracles for the inline-fixture queries are golden-row VALUES (the fixture
is fixed, so the expected output is enumerable) or the equivalent SQL.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Row, SparkSession

from ..operators import joins as tjoins
from ..operators.flatten import flatten
from ..operators.ledger import discover_new_files, pending_for_stage
from ..operators.schema_diff import schema_diff
from . import load, register


def _nested_fixture(spark: SparkSession) -> DataFrame:
    """Miniature of the cricsheet match-document shape (FIXTURES.md §5):
    struct + array-of-struct-of-array nesting, one empty array."""
    rows = [
        Row(
            match_id=1,
            info=Row(city="Mumbai", season="2024"),
            innings=[
                Row(
                    team="A",
                    deliveries=[
                        Row(batter="a1", runs=Row(total=4)),
                        Row(batter="a2", runs=Row(total=1)),
                    ],
                ),
                Row(team="B", deliveries=[Row(batter="b1", runs=Row(total=6))]),
            ],
        ),
        Row(
            match_id=2,
            info=Row(city="Chennai", season="2024"),
            innings=[],
        ),
    ]
    return spark.createDataFrame(rows)


@register(
    "flatten_nested",
    oracle="""
    SELECT * FROM (VALUES
        (1, 'Mumbai', '2024', 'A', 'a1', CAST(4 AS BIGINT)),
        (1, 'Mumbai', '2024', 'A', 'a2', 1),
        (1, 'Mumbai', '2024', 'B', 'b1', 6),
        (2, 'Chennai', '2024', NULL, NULL, NULL)
    ) AS t(match_id, info_city, info_season, innings_team,
           innings_deliveries_batter, innings_deliveries_runs_total)
    """,
    tags=("P1", "P2", "P3", "P4", "U1", "F5"),
)
def flatten_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixpoint flatten of the nested match fixture (explode_outer mode —
    match 2 with no innings keeps its row, null-padded). Oracle = golden rows."""
    df = _nested_fixture(spark)
    out = flatten(df, mode="outer")
    return out.select(
        F.col("match_id").cast("int"),
        "info_city",
        "info_season",
        "innings_team",
        "innings_deliveries_batter",
        "innings_deliveries_runs_total",
    )


@register(
    "flatten_reference_mode",
    oracle="""
    SELECT * FROM (VALUES
        (1, 'Mumbai', 'A', 'a1', CAST(4 AS BIGINT)),
        (1, 'Mumbai', 'A', 'a2', 1),
        (1, 'Mumbai', 'B', 'b1', 6)
    ) AS t(match_id, info_city, innings_team,
           innings_deliveries_batter, innings_deliveries_runs_total)
    """,
    tags=("P3", "P4"),
)
def flatten_reference_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-faithful inner-explode mode (transformation_job.py:32):
    match 2 (empty innings) disappears — the documented semantics decision."""
    df = _nested_fixture(spark)
    out = flatten(df, mode="reference")
    return out.select(
        F.col("match_id").cast("int"),
        "info_city",
        "innings_team",
        "innings_deliveries_batter",
        "innings_deliveries_runs_total",
    )


@register(
    "flatten_json_props",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS props_k
    FROM events
    """,
    tags=("P2", "F4", "SRC3"),
)
def flatten_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRC3+P4 over real data: parse events.props with a pinned schema
    (from_json, one parse) then flatten the struct — the scan-side pattern
    for semi-structured columns at scale."""
    ev = load(spark, sf_dir, "events")
    parsed = ev.select("event_id", F.from_json("props", "k bigint").alias("props"))
    return flatten(parsed).withColumnRenamed("props_k", "props_k")


_SCHEMA_V1 = [
    ("match_id", "bigint"),
    ("city", "string"),
    ("total_runs", "bigint"),
    ("winner", "string"),
]
_SCHEMA_V2 = [
    ("match_id", "bigint"),
    ("city", "string"),
    ("total_runs", "double"),  # type changed
    ("venue", "string"),  # added (winner dropped)
]


@register(
    "schema_drift",
    oracle="""
    WITH new AS (SELECT * FROM (VALUES
            ('match_id','bigint'), ('city','string'),
            ('total_runs','double'), ('venue','string')) AS t(name, type)),
         old AS (SELECT * FROM (VALUES
            ('match_id','bigint'), ('city','string'),
            ('total_runs','bigint'), ('winner','string')) AS t(name, type))
    SELECT coalesce(new.name, old.name) AS name,
           CASE WHEN old.name IS NULL THEN 'added'
                WHEN new.name IS NULL THEN 'dropped'
                WHEN new.type != old.type THEN 'type_changed' END AS change,
           old.type AS old_type,
           new.type AS new_type
    FROM new FULL OUTER JOIN old ON new.name = old.name
    WHERE (old.name IS NULL OR new.name IS NULL OR new.type != old.type)
    """,
    tags=("SE1", "SE2", "SE3", "J3", "U2"),
)
def schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift classification (compare_schema.py:29-53 rebuilt): full-outer
    join of two schema versions → added/dropped/type_changed."""
    new = spark.createDataFrame(_SCHEMA_V2, "name string, type string")
    old = spark.createDataFrame(_SCHEMA_V1, "name string, type string")
    return schema_diff(new, old)


_LEDGER_ROWS = [
    ("match_001", True, True, True, True),
    ("match_002", True, True, False, False),
    ("match_003", True, False, False, False),
    ("match_004", True, True, True, False),
]
_LISTING = [("match_001",), ("match_003",), ("match_005",), ("match_006",)]


@register(
    "ledger_new_files",
    oracle="""
    WITH listing AS (SELECT * FROM (VALUES
            ('match_001'), ('match_003'), ('match_005'), ('match_006')) AS t(file_key)),
         ledger AS (SELECT * FROM (VALUES
            ('match_001'), ('match_002'), ('match_003'), ('match_004')) AS t(file_key))
    SELECT file_key FROM listing
    WHERE file_key NOT IN (SELECT file_key FROM ledger)
    """,
    tags=("L1", "J2"),
)
def ledger_new_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-file discovery (final_DAG.py:71-72): listing − ledger anti-join."""
    listing = spark.createDataFrame(_LISTING, "file_key string")
    ledger = spark.createDataFrame(
        _LEDGER_ROWS,
        "file_key string, ingested boolean, crawled boolean, transformed boolean, loaded boolean",
    )
    return discover_new_files(listing, ledger)


@register(
    "ledger_pending",
    oracle="""
    SELECT file_key FROM (VALUES
        ('match_001', true, true, true, true),
        ('match_002', true, true, false, false),
        ('match_003', true, false, false, false),
        ('match_004', true, true, true, false)
    ) AS t(file_key, ingested, crawled, transformed, loaded)
    WHERE ingested AND crawled AND NOT transformed
    """,
    tags=("L2", "P6", "J1"),
)
def ledger_pending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-gate predicate (final_DAG.py:69): rows ready for transform."""
    ledger = spark.createDataFrame(
        _LEDGER_ROWS,
        "file_key string, ingested boolean, crawled boolean, transformed boolean, loaded boolean",
    )
    return pending_for_stage(ledger, "transformed").select("file_key")


@register(
    "asof_join_events",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts,
           q.value AS last_value, q.event_id AS matched_event
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') q
      ON p.user_id = q.user_id AND q.ts <= p.ts
    """,
    tags=("J9",),
)
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the latest prior (or simultaneous)
    view by the same user. Union-and-carry implementation — one shuffle,
    no range explosion (operators/joins.py). Oracle: DuckDB native ASOF."""
    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("value").alias("last_value"), F.col("event_id").alias("matched_event")
    )
    out = tjoins.asof_join(
        purchases,
        views.withColumnRenamed("ts", "v_ts"),
        on="user_id",
        left_ts="ts",
        right_ts="v_ts",
        right_cols=["last_value", "matched_event"],
    )
    return out.select("event_id", "user_id", "ts", "last_value", "matched_event")


# ---------------------------------------------------------------------------
# L2 state machine + SO1 retain-N (fixture-driven, fully oracle-checked)
# ---------------------------------------------------------------------------

_LEDGER_LOG = [
    # append-only ledger log: (file_key, ingested, crawled, transformed, loaded, updated_at)
    ("match_001", True, False, False, False, "2024-01-01 10:00:00"),
    ("match_001", True, True, False, False, "2024-01-01 11:00:00"),
    ("match_001", True, True, True, False, "2024-01-02 09:30:00"),
    ("match_002", True, False, False, False, "2024-01-01 10:05:00"),
    ("match_002", True, True, False, False, "2024-01-03 08:00:00"),
    ("match_003", True, False, False, False, "2024-01-04 12:00:00"),
]


@register(
    "ledger_latest_state",
    oracle="""
    SELECT file_key, ingested, crawled, transformed, loaded, updated_at
    FROM (
      SELECT *, row_number() OVER (PARTITION BY file_key ORDER BY updated_at DESC) AS rn
      FROM (VALUES
        ('match_001', true, false, false, false, TIMESTAMP '2024-01-01 10:00:00'),
        ('match_001', true, true,  false, false, TIMESTAMP '2024-01-01 11:00:00'),
        ('match_001', true, true,  true,  false, TIMESTAMP '2024-01-02 09:30:00'),
        ('match_002', true, false, false, false, TIMESTAMP '2024-01-01 10:05:00'),
        ('match_002', true, true,  false, false, TIMESTAMP '2024-01-03 08:00:00'),
        ('match_003', true, false, false, false, TIMESTAMP '2024-01-04 12:00:00')
      ) AS t(file_key, ingested, crawled, transformed, loaded, updated_at)
    ) WHERE rn = 1
    """,
    tags=("L2",),
)
def ledger_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compact an append-only ledger log to last-writer-wins current state
    (operators/ledger.latest_state) — the Delta-style MERGE as a window."""
    from ..operators.ledger import latest_state

    log = spark.createDataFrame(
        [(k, i, c, t, l, __import__("datetime").datetime.fromisoformat(ts)) for k, i, c, t, l, ts in _LEDGER_LOG],
        "file_key string, ingested boolean, crawled boolean, transformed boolean, "
        "loaded boolean, updated_at timestamp",
    )
    return latest_state(log)


@register(
    "ledger_mark_stage",
    oracle="""
    SELECT file_key, ingested,
           crawled OR file_key IN ('match_002', 'match_003') AS crawled,
           transformed, loaded
    FROM (VALUES
        ('match_001', true, true, true, true),
        ('match_002', true, true, false, false),
        ('match_003', true, false, false, false),
        ('match_004', true, true, true, false)
    ) AS t(file_key, ingested, crawled, transformed, loaded)
    """,
    tags=("L2",),
)
def ledger_mark_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched stage flip (final_DAG.py:92-96): set crawled=true for the
    given keys via broadcast join + conditional update. updated_at (a
    current_timestamp audit column) is projected off for determinism."""
    from ..operators.ledger import mark_stage

    ledger = spark.createDataFrame(
        _LEDGER_ROWS,
        "file_key string, ingested boolean, crawled boolean, transformed boolean, loaded boolean",
    ).withColumn("updated_at", F.lit("2024-01-01 00:00:00").cast("timestamp"))
    keys = spark.createDataFrame([("match_002",), ("match_003",)], "file_key string")
    return mark_stage(ledger, keys, "crawled").select(
        "file_key", "ingested", "crawled", "transformed", "loaded"
    )


_SNAPSHOT_ROWS = [
    # (version_id, name, type): four schema snapshots; retain the newest 2
    (1, "match_id", "bigint"),
    (1, "city", "string"),
    (2, "match_id", "bigint"),
    (2, "city", "string"),
    (2, "season", "string"),
    (3, "match_id", "bigint"),
    (3, "season", "string"),
    (4, "match_id", "bigint"),
    (4, "season", "string"),
    (4, "venue", "string"),
]


@register(
    "retain_versions",
    oracle="""
    SELECT version_id, name, type
    FROM (VALUES
        (1, 'match_id', 'bigint'), (1, 'city', 'string'),
        (2, 'match_id', 'bigint'), (2, 'city', 'string'), (2, 'season', 'string'),
        (3, 'match_id', 'bigint'), (3, 'season', 'string'),
        (4, 'match_id', 'bigint'), (4, 'season', 'string'), (4, 'venue', 'string')
    ) AS t(version_id, name, type)
    WHERE version_id IN (
      SELECT version_id FROM (
        SELECT DISTINCT version_id FROM (VALUES (1), (2), (3), (4)) AS v(version_id)
      ) ORDER BY version_id DESC LIMIT 2
    )
    """,
    tags=("SO1",),
)
def retain_versions_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retain-N snapshot GC (compare_schema.py:73-89 rebuilt): keep the
    newest N schema versions via rank-over-distinct-versions + semi join."""
    from ..operators.schema_diff import retain_versions

    snaps = spark.createDataFrame(_SNAPSHOT_ROWS, "version_id int, name string, type string")
    return retain_versions(snaps, n=2)


@register(
    "ledger_ingest_idempotent",
    oracle="""
    SELECT * FROM (VALUES
        ('match_001', true, true,  true,  true),
        ('match_002', true, true,  false, false),
        ('match_003', true, false, false, false),
        ('match_004', true, true,  true,  false),
        ('match_005', true, false, false, false),
        ('match_006', true, false, false, false)
    ) AS t(file_key, ingested, crawled, transformed, loaded)
    """,
    tags=("L3", "L2", "J2"),
)
def ledger_ingest_idempotent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3 idempotent ingest: applying ingest_new TWICE with the same
    listing yields exactly one row per key — the anti-join drops
    already-seen keys, so the second application is a no-op (the run-twice
    contract, mirrored by tests/test_pipeline.py at pipeline level).
    updated_at (current_timestamp audit) projected off for determinism."""
    from ..operators.ledger import ingest_new

    ledger = spark.createDataFrame(
        _LEDGER_ROWS,
        "file_key string, ingested boolean, crawled boolean, transformed boolean, loaded boolean",
    ).withColumn("updated_at", F.lit("2024-01-01 00:00:00").cast("timestamp"))
    listing = spark.createDataFrame(_LISTING, "file_key string")
    once = ingest_new(ledger, listing)
    twice = ingest_new(once, listing)
    return twice.select("file_key", "ingested", "crawled", "transformed", "loaded")


@register(
    "asof_join_tolerance",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts,
           CASE WHEN q.ts >= p.ts - INTERVAL 1 HOUR THEN q.value END AS last_value_1h
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') q
      ON p.user_id = q.user_id AND q.ts <= p.ts
    """,
    tags=("J9", "J8"),
)
def asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness tolerance: the latest prior view only
    counts within 1 hour — older matches null out (DuckDB mirrors this as
    ASOF + CASE, since the latest-≤ match is unique)."""
    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("v_ts"), F.col("value").alias("last_value_1h")
    )
    out = tjoins.asof_join(
        purchases, views, on="user_id", left_ts="ts", right_ts="v_ts",
        right_cols=["last_value_1h"], tolerance="1 hour",
    )
    return out.select("event_id", "user_id", "ts", "last_value_1h")


@register(
    "asof_join_strict",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts, q.value AS prev_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') q
      ON p.user_id = q.user_id AND q.ts < p.ts
    """,
    tags=("J9",),
)
def asof_join_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-prior as-of (q.ts < p.ts): simultaneous events never match
    — the lookahead-safe variant for feature generation."""
    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("v_ts"), F.col("value").alias("prev_value")
    )
    out = tjoins.asof_join(
        purchases, views, on="user_id", left_ts="ts", right_ts="v_ts",
        right_cols=["prev_value"], strict=True,
    )
    return out.select("event_id", "user_id", "ts", "prev_value")


@register(
    "incremental_summary_merge",
    oracle="""
    SELECT k,
           count(*) AS n_rows,
           CAST(sum(CAST(v AS DECIMAL(38,10))) AS DOUBLE) AS sum_value,
           min(v) AS min_value,
           max(v) AS max_value
    FROM (
      SELECT k, CAST(v AS DOUBLE) AS v FROM (VALUES
          ('a', 1.0), ('a', 2.0), ('b', 10.0),
          ('a', 3.0), ('c', 7.0), ('b', -1.0)
      ) AS t(k, v)
    )
    GROUP BY k
    """,
    tags=("L3", "A4", "L1"),
)
def incremental_summary_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup maintenance: two batches partial-aggregated then
    MERGED (operators/incremental.py) must equal the one-shot groupBy over
    all rows — which is exactly what the oracle computes."""
    from ..operators import incremental as inc

    b1 = spark.createDataFrame([("a", 1.0), ("a", 2.0), ("b", 10.0)], "k string, v double")
    b2 = spark.createDataFrame([("a", 3.0), ("c", 7.0), ("b", -1.0)], "k string, v double")
    merged = inc.merge_summaries(
        inc.aggregate_batch(b1, ["k"], "v"), inc.aggregate_batch(b2, ["k"], "v"), ["k"]
    )
    return merged.withColumn("sum_value", F.col("sum_value").cast("double"))


@register(
    "incremental_summary_avg",
    oracle="""
    SELECT k,
           count(*) AS n_rows,
           CAST(sum(CAST(v AS DECIMAL(38,10))) AS DOUBLE) AS sum_value,
           min(v) AS min_value,
           max(v) AS max_value,
           round(CAST(sum(CAST(v AS DECIMAL(38,10))) / count(*) AS DOUBLE), 4) AS avg_value
    FROM (
      SELECT k, CAST(v AS DOUBLE) AS v FROM (VALUES
          ('a', 1.0), ('a', 2.0), ('b', 10.0),
          ('a', 3.0), ('c', 7.0), ('b', -1.0)
      ) AS t(k, v)
    )
    GROUP BY k
    """,
    tags=("L3", "A4"),
)
def incremental_summary_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived-average view over the maintained summary state
    (operators/incremental.summary_with_avg): avg itself is not
    decomposable, but its (sum, count) state is — so the merged summary
    reproduces the full-recompute average exactly."""
    from ..operators import incremental as inc

    b1 = spark.createDataFrame([("a", 1.0), ("a", 2.0), ("b", 10.0)], "k string, v double")
    b2 = spark.createDataFrame([("a", 3.0), ("c", 7.0), ("b", -1.0)], "k string, v double")
    merged = inc.merge_summaries(
        inc.aggregate_batch(b1, ["k"], "v"), inc.aggregate_batch(b2, ["k"], "v"), ["k"]
    )
    return inc.summary_with_avg(merged).withColumn(
        "sum_value", F.col("sum_value").cast("double")
    )


@register(
    "catalog_scan_bucketed",
    oracle="""
    SELECT n_name,
           count(*) AS n_customers,
           min(c_custkey) AS min_custkey,
           max(c_custkey) AS max_custkey
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
    tags=("SRC4", "SNK1", "J4", "A4"),
)
def catalog_scan_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRC4 catalog-table scan (reference etl_glue_job.py:28-31's
    glue-catalog read): customer is saveAsTable'd bucketed on c_nationkey
    (io.write_bucketed), read BACK via spark.table() — the catalog carries
    the bucket metadata plain parquet paths can't — then aggregated on the
    bucket key (no shuffle for the agg; bucket files are already
    co-located) and joined to the broadcast nation dim."""
    from .. import io as gio

    # Idempotent re-register: a prior session's managed-table directory in
    # spark-warehouse/ survives the (in-memory) catalog, and saveAsTable
    # refuses an existing location it doesn't own — drop both.
    spark.sql("DROP TABLE IF EXISTS cat_customer_by_nation")
    wh = spark.conf.get("spark.sql.warehouse.dir")
    loc = spark._jvm.org.apache.hadoop.fs.Path(wh, "cat_customer_by_nation")
    fs = loc.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(loc):
        fs.delete(loc, True)

    c = load(spark, sf_dir, "customer")
    gio.write_bucketed(
        c, "cat_customer_by_nation", ["c_nationkey"], num_buckets=8,
        sort_cols=["c_custkey"],
    )
    t = gio.read_table(spark, "cat_customer_by_nation")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        t.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("c_custkey").alias("min_custkey"),
            F.max("c_custkey").alias("max_custkey"),
        )
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("n_name", "n_customers", "min_custkey", "max_custkey")
    )


@register(
    "merge_upsert_orders",
    oracle="""
    WITH updates AS (
      SELECT o_orderkey, o_totalprice * 2 AS o_totalprice,
             'U' AS o_orderstatus
      FROM orders WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT -1, 0.0, 'N'
    )
    SELECT * FROM updates
    UNION ALL
    SELECT o_orderkey, o_totalprice, o_orderstatus
    FROM orders WHERE o_orderkey % 10 <> 0
    """,
    tags=("L3", "J2", "SE1"),
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch MERGE INTO semantics (operators/incremental.upsert): an
    update batch (every 10th order repriced, plus one brand-new key)
    overrides matching keys and inserts the unmatched one. The update key
    set broadcasts, so the O(history) side never shuffles — the exact
    shape of a CDC-apply step against a 100 TB table. (*2 is an exact
    binary rescale, so the doubles hash identically.)"""
    from ..operators import incremental as inc

    cur = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    upd = (
        cur.filter(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            (F.col("o_totalprice") * 2).alias("o_totalprice"),
            F.lit("U").alias("o_orderstatus"),
        )
        .unionByName(
            spark.createDataFrame(
                [(-1, 0.0, "N")],
                "o_orderkey long, o_totalprice double, o_orderstatus string",
            )
        )
    )
    return inc.upsert(cur, upd, ["o_orderkey"])


def _scratch_dir(sf_dir: str, tag: str) -> str:
    """Per-process scratch path for write-then-read-back queries. Keyed by
    sf_dir (hashlib, not hash(), so it is stable within a process) AND by
    pid: two concurrent drivers on one machine (a bench run alongside a
    correctness run, pytest-xdist workers) must not overwrite each other's
    scratch mid-read. Within one process repeated calls still reuse — and
    overwrite — the same directory instead of leaking one per run."""
    import hashlib
    import os
    import tempfile

    h = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return os.path.join(
        tempfile.gettempdir(), f"spark_graft_{tag}_{h}_p{os.getpid()}"
    )


def _orders_by_key_range(
    spark: SparkSession, sf_dir: str, base: str
) -> tuple[DataFrame, int]:
    """Load orders (``o_orderkey``, ``o_totalprice``) and commit them to the
    snapshot table at ``base`` as 8 o_orderkey-range files cut from the
    data alone: one task sorts by key and rolls a new file every
    ceil(rows / 8) rows. A range exchange would draw its bounds from a
    sample whose seed follows the RDD id, so the files, and the tasks and
    bytes of every later step over them, would move with whatever the
    session ran before. The frame is the whole table, so its row count is
    the sum of its files' parquet footer counts, read on the driver; a
    count job would add a scan to each fixture's plan. Returns the frame
    and the committed version."""
    import pyarrow.parquet as pq

    from .. import snapshots as sn

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    rows = sum(pq.read_metadata(sn._uri_path(f)).num_rows for f in o.inputFiles())
    per_file = "spark.sql.files.maxRecordsPerFile"
    was = spark.conf.get(per_file)
    spark.conf.set(per_file, str(-(-rows // 8)))
    try:
        v = sn.snapshot_commit(
            o.coalesce(1).sortWithinPartitions("o_orderkey"), base, "append"
        )
    finally:
        spark.conf.set(per_file, was)
    return o, v


@register(
    "orc_partitioned_roundtrip",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE), 2)
               AS sum_price
    FROM orders WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
    tags=("SRC5", "SNK1", "A4"),
)
def orc_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC format coverage (the columnar alternative the reference's glue
    jobs can emit, etl_glue_job.py:18-43 writes warehouse-format output):
    orders written as ORC partitioned by o_orderstatus, read BACK through
    the ORC reader with a partition filter — the filter must prune to the
    one 'O' directory, never scanning the others — then aggregated. The
    hash gate proves doubles and decimals survive the parquet->ORC->Spark
    round trip bit-exactly."""
    from ..functions import stable_sum

    path = _scratch_dir(sf_dir, "orc_orders")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice", "o_orderstatus"
    )
    o.write.mode("overwrite").partitionBy("o_orderstatus").orc(path)
    back = spark.read.orc(path).filter(F.col("o_orderstatus") == "O")
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        stable_sum("o_totalprice", 2).alias("sum_price"),
    )


@register(
    "csv_roundtrip_customer",
    oracle="""
    SELECT c_nationkey,
           count(*) AS n_customers,
           round(CAST(sum(CAST(c_acctbal AS DECIMAL(38,10))) AS DOUBLE), 2)
               AS sum_acctbal,
           min(c_name) AS first_name
    FROM customer
    GROUP BY c_nationkey
    """,
    tags=("SRC5", "SNK1", "A4"),
)
def csv_roundtrip_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV format coverage: customer written as headered CSV and read back
    under a PINNED schema (inference would widen int->bigint and lose the
    hash), then aggregated per nation. Doubles survive because Spark writes
    shortest-round-trip representations (Java Double.toString) — the hash
    gate proves text transit loses nothing. Strings exercise the quoting
    path; reading uses the same session-level escape defaults as the
    write."""
    from ..functions import stable_sum

    path = _scratch_dir(sf_dir, "csv_customer")
    c = load(spark, sf_dir, "customer")
    c.write.mode("overwrite").option("header", True).csv(path)
    back = spark.read.schema(c.schema).option("header", True).csv(path)
    return back.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        stable_sum("c_acctbal", 2).alias("sum_acctbal"),
        F.min("c_name").alias("first_name"),
    )


@register(
    "parquet_merge_schema_scan",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_orders,
           count(CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END)
               AS n_with_priority,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE), 2)
               AS sum_price
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("SRC5", "SE4", "P5"),
)
def parquet_merge_schema_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read evolution: a table directory whose early files lack a
    later-added column (the ingest reality when upstream adds fields
    mid-stream). Orders is split into a 3-column 'v1' batch and a
    4-column 'v2' batch written to the same directory; mergeSchema=true
    reconciles them at the FOOTER level — v1 rows surface NULL
    o_orderpriority with no rewrite of old files, which at 100 TB is the
    difference between a metadata merge and a full-history backfill.
    count(o_orderpriority) proves exactly the v2 rows carry the column.
    The union-by-name twin is union_schema_evolution; this covers the
    scan-level path."""
    from ..functions import stable_sum

    path = _scratch_dir(sf_dir, "evolving_orders")
    o = load(spark, sf_dir, "orders")
    v1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    v2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    v1.write.mode("overwrite").parquet(path + "/batch=v1")
    v2.write.mode("overwrite").parquet(path + "/batch=v2")
    back = spark.read.option("mergeSchema", True).parquet(path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count("o_orderpriority").alias("n_with_priority"),
        stable_sum("o_totalprice", 2).alias("sum_price"),
    )


@register(
    "jdbc_roundtrip_orders",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE), 2)
               AS sum_price
    FROM orders WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
    tags=("SNK2", "A4"),
)
def jdbc_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNK2 under the exact-hash gate: the 'F' orders are written through
    io.write_jdbc into embedded Derby (the batched-insert-per-partition
    path a warehouse load uses), read BACK through the JDBC source, and
    aggregated — the oracle computes the same aggregate straight from
    parquet, so a value-hash match proves longs, doubles, and strings
    survive the JDBC round trip bit-exactly. Derby is per-process (one
    embedded instance per JVM per database path; _scratch_dir is
    pid-keyed) and uppercases identifiers, hence the lowercase realias on
    read-back. Scale note: the write is one insert stream per partition —
    repartition to the warehouse's ingest concurrency; a real fleet
    target (Redshift, Postgres) swaps the URL, not the plan."""
    from ..functions import stable_sum
    from ..io import write_jdbc

    db = _scratch_dir(sf_dir, "derby_wh")
    url = f"jdbc:derby:{db};create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    write_jdbc(o.repartition(4), url, "orders_wh", mode="overwrite", properties=props)
    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "orders_wh")
        .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        .load()
    )
    back = back.select([F.col(c).alias(c.lower()) for c in back.columns])
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        stable_sum("o_totalprice", 2).alias("sum_price"),
    )


@register(
    "compact_table_roundtrip",
    oracle="""
    SELECT lang,
           count(*)                       AS n_docs,
           CAST(sum(n_chars) AS BIGINT)   AS sum_chars,
           CAST(sum(doc_id) AS BIGINT)    AS sum_ids,
           min(doc_id)                    AS min_id,
           max(doc_id)                    AS max_id
    FROM documents
    GROUP BY lang
    """,
    tags=("SNK1", "SNK3", "L3", "A4"),
)
def compact_table_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General in-place table compaction (io.compact_table — the OPTIMIZE
    gap: per-family index compaction existed, plain pipeline tables had
    no small-file governance): documents is written lang-partitioned
    with DELIBERATE slivers (12 upstream tasks x langs, the
    tasks-x-partitions mistake compaction exists to repair), compacted
    in place under the manifest commit, and read back through a second
    compaction pass that must be a NO-OP (idempotence: one scan-sized
    file per directory has nothing left to merge). The hash gate proves
    the rewrite moved every row exactly once — counts, value sums, id
    sums and extrema per partition all survive — and the file-count
    asserts pin the layout contract (slivers collapse to one file per
    lang dir; cost scaled with the small-file bytes, which here are the
    whole table because every file was a sliver)."""
    from ..io import compact_table

    path = _scratch_dir(sf_dir, "compact_docs")
    d = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    n_langs = d.select("lang").distinct().count()
    d.repartition(12).write.mode("overwrite").partitionBy("lang").parquet(path)
    stats = compact_table(spark, path, target_file_mb=128)
    assert stats["files_after"] < stats["files_before"], stats
    assert stats["files_after"] == n_langs, stats
    again = compact_table(spark, path, target_file_mb=128)
    assert again["dirs_compacted"] == 0, again
    assert again["files_after"] == stats["files_after"], (stats, again)
    back = spark.read.parquet(path)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum("doc_id").alias("sum_ids"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


@register(
    "parquet_skewed_write_roundtrip",
    oracle="""
    SELECT lang,
           count(*)                     AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum(doc_id) AS BIGINT)  AS sum_ids
    FROM documents
    WHERE lang = (SELECT lang FROM documents GROUP BY lang
                  ORDER BY count(*) DESC, lang LIMIT 1)
    GROUP BY lang
    """,
    tags=("SNK1", "SRC5", "A4"),
)
def parquet_skewed_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SKEW-hardened partitioned write under the hash gate (VERDICT
    r9 item 2 / ADVICE medium): documents written lang-partitioned with
    ``files_per_partition=4`` — the deterministic content-hash salt that
    keeps a hot partition value from serializing into one task — then
    read back through a partition-pruning filter on the hottest lang and
    aggregated. The file-count assert pins that the salt actually split
    the hot directory (the knob's whole point); the hash gate proves the
    salted routing moved every row exactly once. Partition pruning still
    holds: the filter is on the partition column, so the scan reads one
    directory whatever the file count inside it."""
    from ..io import _list_data_files, write_parquet

    path = _scratch_dir(sf_dir, "skewed_docs")
    d = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    hot = d.groupBy("lang").count().orderBy(F.desc("count"), "lang").first()["lang"]
    write_parquet(d, path, partition_by=["lang"], files_per_partition=4)
    hot_files = sum(
        1
        for rel, _, _ in _list_data_files(spark, path)
        if rel == f"lang={hot}"
    )
    assert hot_files > 1, f"salt did not split the hot partition ({hot_files})"
    back = spark.read.parquet(path).filter(F.col("lang") == hot)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum("doc_id").alias("sum_ids"),
    )


@register(
    "snapshot_time_travel",
    oracle="""
    SELECT 1 AS version, count(*) AS n_rows,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE), 2)
               AS sum_price,
           min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
    FROM orders WHERE o_orderkey % 3 = 0
    UNION ALL
    SELECT 2, count(*),
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE), 2),
           min(o_orderkey), max(o_orderkey)
    FROM orders WHERE o_orderkey % 3 IN (0, 1)
    UNION ALL
    SELECT 3, count(*),
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE), 2),
           min(o_orderkey), max(o_orderkey)
    FROM orders WHERE o_orderkey % 3 = 2
    UNION ALL
    SELECT 4, count(*),
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE), 2),
           min(o_orderkey), max(o_orderkey)
    FROM orders WHERE o_orderkey % 3 = 2
    """,
    tags=("SNK3", "L3", "SNK1", "SE4"),
)
def snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned snapshot tables under the hash gate (snapshots.py — the
    Delta/Iceberg-shaped layer): orders arrives as three commits —
    append (keys ≡0 mod 3), append (≡1; the manifest references v1's
    files VERBATIM, nothing rewritten — asserted), overwrite (≡2; old
    files retained for time travel) — then snapshot_compact folds the
    latest into v4 ('replace': same rows, ≤ files). Each version is
    read AS OF and aggregated; the union must equal the oracle's four
    literal-filtered aggregates over orders, which proves (a) the
    manifest rename really is the commit point (readers see exactly the
    committed file list), (b) append lineage shares files instead of
    copying, (c) overwrite isolates versions, and (d) compaction
    preserves rows while old versions keep reading the originals.
    Expiry's ref-count + crash-orphan reclamation are pytest-gated
    (tests/test_snapshots.py) — they destroy files, so they can't run
    inside a lazy query."""
    from .. import snapshots as sn
    from ..functions import stable_sum

    base = _scratch_dir(sf_dir, "snapshot_orders")
    import shutil

    shutil.rmtree(base, ignore_errors=True)
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    v1 = sn.snapshot_commit(o.filter(F.col("o_orderkey") % 3 == 0), base, "append")
    v2 = sn.snapshot_commit(o.filter(F.col("o_orderkey") % 3 == 1), base, "append")
    v3 = sn.snapshot_commit(
        o.filter(F.col("o_orderkey") % 3 == 2), base, "overwrite"
    )
    v4 = sn.snapshot_compact(spark, base)
    assert (v1, v2, v3, v4) == (1, 2, 3, 4)
    m1 = sn._read_manifest(spark, base, 1)
    m2 = sn._read_manifest(spark, base, 2)
    m3 = sn._read_manifest(spark, base, 3)
    m4 = sn._read_manifest(spark, base, 4)
    assert set(m1["files"]) <= set(m2["files"])  # append shares, never copies
    assert not set(m3["files"]) & set(m2["files"])  # overwrite isolates
    assert len(m4["files"]) <= len(m3["files"]) and m4["op"] == "replace"

    parts = []
    for v in (1, 2, 3, 4):
        parts.append(
            sn.snapshot_read(spark, base, v).agg(
                F.lit(v).alias("version"),
                F.count(F.lit(1)).alias("n_rows"),
                stable_sum("o_totalprice", 2).alias("sum_price"),
                F.min("o_orderkey").alias("min_key"),
                F.max("o_orderkey").alias("max_key"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "stream_snapshot_ingest",
    oracle="""
    SELECT count(*) AS n_rows,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE), 2)
               AS sum_price,
           min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
    FROM orders
    """,
    tags=("L6", "SNK3", "L3", "SNK1"),
)
def stream_snapshot_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest INTO the versioned snapshot table (the two
    round-10 pieces composed): orders arrives as a file-source stream,
    each micro-batch commits as one table version whose manifest also
    carries the batch id — the exactly-once replay marker and the data
    commit share ONE atomic rename, no side-state. The final table read
    must equal the batch aggregate over orders REGARDLESS of micro-batch
    boundaries (appends are O(batch) and reference parent files
    verbatim); per-version as-of reads and replay idempotence are
    pytest-forced with 1-file batches (tests/test_snapshots.py)."""
    import shutil

    from ..functions import stable_sum
    from ..streaming import incremental
    from ..streaming.snapshot_ingest import run_snapshot_ingest_stream
    from . import ensure_read_confs, table_path

    ensure_read_confs(spark)
    src = table_path(sf_dir, "orders")
    schema = spark.read.parquet(src).schema
    stream = incremental._stream_reader(spark, src, schema)
    base = _scratch_dir(sf_dir, "stream_snapshot_orders")
    shutil.rmtree(base, ignore_errors=True)
    shutil.rmtree(base + "__checkpoint", ignore_errors=True)

    committed = run_snapshot_ingest_stream(
        stream.select("o_orderkey", "o_totalprice"), base
    )
    assert committed >= 1
    from .. import snapshots as sn

    return sn.snapshot_read(spark, base).agg(
        F.count(F.lit(1)).alias("n_rows"),
        stable_sum("o_totalprice", 2).alias("sum_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


@register(
    "snapshot_merge_upsert",
    oracle="""
    WITH bound AS (SELECT max(o_orderkey) // 8 AS b FROM orders),
    upserted AS (
      SELECT o_orderkey AS k, o_totalprice AS p FROM orders
      WHERE NOT (o_orderkey % 7 = 0 AND o_orderkey <= (SELECT b FROM bound))
      UNION ALL
      SELECT o_orderkey, o_totalprice * 2 FROM orders
      WHERE o_orderkey % 7 = 0 AND o_orderkey <= (SELECT b FROM bound)
      UNION ALL
      SELECT o_orderkey + 10000000, o_totalprice FROM orders
      WHERE o_orderkey % 11 = 0
    ),
    final AS (SELECT * FROM upserted WHERE k % 13 <> 0)
    SELECT CAST(k % 5 AS INT) AS grp, count(*) AS n_rows,
           round(CAST(sum(CAST(p AS DECIMAL(38,10))) AS DOUBLE), 2)
               AS sum_price,
           min(k) AS min_key, max(k) AS max_key
    FROM final GROUP BY 1
    """,
    tags=("SNK3", "L3", "SE1", "A4"),
)
def snapshot_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE + DELETE on the snapshot table with FILE-GRANULAR
    copy-on-write, under one hash oracle: orders lands range-clustered
    on the key (8 files), a merge batch updates the keys ≡0 mod 7 in
    the FIRST key range (doubled price) and inserts mirrors at
    key+10M, then a delete drops keys ≡0 mod 13. Because the update
    keys live in one range, the merge must leave most files referenced
    VERBATIM (asserted inline — rewrite cost scales with touched files,
    never the table; the inserts touch nothing, they only add files),
    and time travel across all three versions stays intact. The oracle
    replays upsert-then-delete relationally over orders."""
    import shutil

    from .. import snapshots as sn
    from ..functions import stable_sum

    base = _scratch_dir(sf_dir, "snapshot_merge_orders")
    shutil.rmtree(base, ignore_errors=True)
    o, _ = _orders_by_key_range(spark, sf_dir, base)
    bound = o.agg(F.max("o_orderkey")).collect()[0][0] // 8
    updated = (
        o.filter((F.col("o_orderkey") % 7 == 0) & (F.col("o_orderkey") <= bound))
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
    )
    inserted = o.filter(F.col("o_orderkey") % 11 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(10_000_000)
    )
    v2 = sn.snapshot_merge(updated.unionByName(inserted), base, ["o_orderkey"])
    m1, m2 = sn._read_manifest(spark, base, 1), sn._read_manifest(spark, base, v2)
    shared = set(m1["files"]) & set(m2["files"])
    assert len(shared) >= 6, (len(m1["files"]), len(shared))  # COW, not rewrite
    v3 = sn.snapshot_delete(spark, base, F.col("o_orderkey") % 13 == 0)
    assert sn.snapshot_read(spark, base, 1).count() == o.count()  # time travel
    return (
        sn.snapshot_read(spark, base, v3)
        .groupBy((F.col("o_orderkey") % 5).cast("int").alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            stable_sum("o_totalprice", 2).alias("sum_price"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
    )


@register(
    "snapshot_pruned_read",
    oracle="""
    WITH b AS (
      SELECT max(o_orderkey) // 8 AS lo, max(o_orderkey) // 4 AS hi FROM orders
    )
    SELECT count(*) AS n_rows,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE), 2)
               AS sum_price,
           min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
    FROM orders, b WHERE o_orderkey BETWEEN b.lo AND b.hi
    """,
    tags=("SNK3", "L3", "P6", "A4"),
)
def snapshot_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-stats FILE pruning on the as-of read (VERDICT r10
    directive 2): orders lands key-range-clustered (8 files, each
    file's o_orderkey min/max captured from its parquet footer into the
    manifest at commit time), then a plain range filter is served
    through ``snapshot_scan(filter=col.between(lo, hi))``, which derives
    the range from the filter and drops the files whose recorded
    interval can't intersect [lo, hi] BEFORE Spark ever schedules tasks
    for them — the same conservative interval logic the merge probe
    has used since r10, now on the read side. The inline asserts pin
    that (a) the scan's inputFiles really shrank and (b) pruning
    changed nothing about the answer (the scan re-applies the exact
    predicate; the oracle computes it relationally over orders). At
    10^5 files this is the difference between scheduling ~4 tasks and
    scheduling all of them — parquet row-group skipping never sees the
    pruned-out files at all. The 8 files are cut from the data alone
    (``_orders_by_key_range``), so the files this read keeps do not move
    with whatever the session ran before."""
    import shutil

    from .. import snapshots as sn
    from ..functions import stable_sum

    base = _scratch_dir(sf_dir, "snapshot_pruned_orders")
    shutil.rmtree(base, ignore_errors=True)
    o, _ = _orders_by_key_range(spark, sf_dir, base)
    mx = o.agg(F.max("o_orderkey")).collect()[0][0]
    lo, hi = mx // 8, mx // 4
    m = sn._read_manifest(spark, base, 1)
    assert len(m.get("stats", {})) == len(m["files"])  # footer stats captured
    scanned = sn.snapshot_scan(
        spark, base, filter=F.col("o_orderkey").between(lo, hi)
    )
    n_scanned = len(scanned.inputFiles())
    assert 0 < n_scanned < len(m["files"]), (n_scanned, len(m["files"]))
    return scanned.agg(
        F.count(F.lit(1)).alias("n_rows"),
        stable_sum("o_totalprice", 2).alias("sum_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


@register(
    "snapshot_zorder_pruned_read",
    oracle="""
    WITH b AS (
      SELECT max(o_orderkey) // 4 AS k_hi, max(o_custkey) // 4 AS c_hi
      FROM orders
    )
    SELECT count(*) AS n_rows,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE), 2)
               AS sum_price,
           min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
    FROM orders, b WHERE o_orderkey <= b.k_hi AND o_custkey <= b.c_hi
    """,
    tags=("SNK3", "SNK1", "L3", "P6", "A4"),
)
def snapshot_zorder_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER clustered snapshot commit + CONJUNCTIVE auto-pruned read
    (benches the r11 z-order layout machinery end-to-end, VERDICT r11
    next-8): orders commits with cluster_method='zorder' on
    (o_custkey, o_orderkey) — equal-frequency bucket ranks interleaved
    into a Z-key, so EVERY cluster column's per-file min/max is bounded
    — and the read is a bare snapshot_scan(filter=...) whose two range
    conjuncts BOTH prune: a lexicographic sort on (custkey, orderkey)
    would bound only the leading column. The inline assert pins that
    the conjunction really skipped files; the oracle replays the filter
    relationally over orders."""
    import shutil

    from .. import snapshots as sn
    from ..functions import stable_sum

    base = _scratch_dir(sf_dir, "snapshot_zorder_orders")
    shutil.rmtree(base, ignore_errors=True)
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    sn.snapshot_commit(
        o,
        base,
        "append",
        cluster_by=["o_custkey", "o_orderkey"],
        cluster_files=16,
        cluster_method="zorder",
        cluster_tiebreak="o_orderkey",
    )
    mx = o.agg(
        F.max("o_orderkey").alias("k"), F.max("o_custkey").alias("c")
    ).collect()[0]
    k_hi, c_hi = mx["k"] // 4, mx["c"] // 4
    scanned = sn.snapshot_scan(
        spark,
        base,
        filter=(F.col("o_orderkey") <= k_hi) & (F.col("o_custkey") <= c_hi),
    )
    m = sn._read_manifest(spark, base, 1)
    n_scanned = len(scanned.inputFiles())
    assert 0 < n_scanned < len(m["files"]), (n_scanned, len(m["files"]))
    return scanned.agg(
        F.count(F.lit(1)).alias("n_rows"),
        stable_sum("o_totalprice", 2).alias("sum_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


@register(
    "snapshot_widened_append",
    oracle="""
    SELECT 1 AS version, 'int' AS key_type,
           count(*) AS n_rows, min(o_orderkey) AS min_key,
           max(o_orderkey) AS max_key
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT 2 AS version, 'bigint' AS key_type,
           count(*) AS n_rows, min(o_orderkey) AS min_key,
           max(o_orderkey) AS max_key
    FROM orders
    """,
    tags=("SNK3", "L3", "SE4", "F3"),
)
def snapshot_widened_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TYPE-WIDENING schema evolution (VERDICT r11 next-5): v1 commits
    orders keys as INT; v2 appends the odd keys as LONG, which widens
    the table's column to bigint in the manifest — no file rewritten,
    Spark's parquet reader serves the v1 int files under the widened
    schema directly. The query reads BOTH versions and emits each one's
    observed column type alongside its aggregates, so the oracle gates
    (a) the as-of pre-widen read staying pinned to the ORIGINAL narrow
    schema ('int') and (b) the head read serving old+new files under
    'bigint' with exact values. The type strings are Spark's
    simpleString names; the oracle hardcodes the expected ones —
    that IS the assertion."""
    import shutil

    from .. import snapshots as sn

    base = _scratch_dir(sf_dir, "snapshot_widen_orders")
    shutil.rmtree(base, ignore_errors=True)
    o = load(spark, sf_dir, "orders").select("o_orderkey")
    sn.snapshot_commit(
        o.filter(F.col("o_orderkey") % 2 == 0)
        .select(F.col("o_orderkey").cast("int").alias("o_orderkey")),
        base,
        "append",
    )
    v2 = sn.snapshot_commit(
        o.filter(F.col("o_orderkey") % 2 == 1)
        .select(F.col("o_orderkey").cast("long").alias("o_orderkey")),
        base,
        "append",
    )
    out = None
    for v in (1, v2):
        df = sn.snapshot_read(spark, base, v)
        row = (
            df.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.min(F.col("o_orderkey").cast("long")).alias("min_key"),
                F.max(F.col("o_orderkey").cast("long")).alias("max_key"),
            )
            .withColumn("version", F.lit(v).cast("int"))
            .withColumn(
                "key_type",
                F.lit(df.schema["o_orderkey"].dataType.simpleString()),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


@register(
    "snapshot_partitioned_roundtrip",
    oracle="""
    SELECT CAST(o_orderkey % 2 AS INT) AS parity, count(*) AS n_rows,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE), 2)
               AS sum_price,
           min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
    FROM orders WHERE o_orderpriority = '4-NOT SPECIFIED'
    GROUP BY 1
    """,
    tags=("SNK3", "L3", "SNK1", "P6", "A4"),
)
def snapshot_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITIONED snapshot tables (VERDICT r10 directive 4): orders
    commits in two appends laid out under Hive ``o_orderpriority=...``
    directories (the second append INHERITS the layout — no explicit
    partition_by), and the filtered as-of read goes through
    ``snapshot_scan(filter=partition_col == v)`` so only the matching
    directory's files are scheduled — directory pruning that r10's flat layout
    couldn't give a time-travel read. The partition value deliberately
    contains a space ('4-NOT SPECIFIED') to pin the Hive path
    escape/unescape round-trip. Asserts: every scanned file lives under
    the one value directory, fewer files than the table holds, and the
    basePath read restores the partition column the data files omit
    (the group-by-parity output proves BOTH appends landed inside the
    directory). The oracle replays the filter relationally."""
    import shutil

    from .. import snapshots as sn
    from ..functions import stable_sum

    base = _scratch_dir(sf_dir, "snapshot_part_orders")
    shutil.rmtree(base, ignore_errors=True)
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    target = "4-NOT SPECIFIED"
    sn.snapshot_commit(
        o.filter(F.col("o_orderkey") % 2 == 0),
        base,
        "append",
        partition_by=["o_orderpriority"],
    )
    v2 = sn.snapshot_commit(o.filter(F.col("o_orderkey") % 2 == 1), base, "append")
    m = sn._read_manifest(spark, base, v2)
    assert m["partition_by"] == ["o_orderpriority"]
    pr = sn.snapshot_scan(spark, base, filter=F.col("o_orderpriority") == target)
    scanned = pr.inputFiles()
    assert 0 < len(scanned) < len(m["files"])
    assert all("o_orderpriority=4-NOT" in f for f in scanned), scanned[:3]
    return (
        pr.groupBy((F.col("o_orderkey") % 2).cast("int").alias("parity"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            stable_sum("o_totalprice", 2).alias("sum_price"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
    )


@register(
    "snapshot_mor_delete",
    oracle="""
    SELECT CAST(o_orderkey % 5 AS INT) AS grp, count(*) AS n_rows,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE), 2)
               AS sum_price,
           min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
    FROM orders WHERE o_orderkey % 19 <> 0
    GROUP BY 1
    """,
    tags=("SNK3", "L3", "SE1", "P6", "A4"),
)
def snapshot_mor_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ equality delete (NEW r12, the 100 TB small-delete
    path): orders lands key-clustered, then the keys ≡0 mod 19 are
    removed via ``snapshot_delete_keys`` — the commit writes ONLY the
    key set as parquet plus a manifest whose ``deletes`` entry points
    at it; ZERO data files are read or rewritten (asserted inline: the
    new manifest's file list is byte-identical to the parent's), where
    copy-on-write would rewrite every one of the 8 files (mod-19 keys
    hit all ranges). The read path anti-joins the entry against exactly
    the files it applies to; time travel to the pre-delete version is
    untouched. The oracle replays the key filter relationally."""
    import shutil

    from .. import snapshots as sn
    from ..functions import stable_sum

    base = _scratch_dir(sf_dir, "snapshot_mor_orders")
    shutil.rmtree(base, ignore_errors=True)
    o, v1 = _orders_by_key_range(spark, sf_dir, base)
    keys = o.filter(F.col("o_orderkey") % 19 == 0).select("o_orderkey")
    v2 = sn.snapshot_delete_keys(keys, base)
    m1 = sn._read_manifest(spark, base, v1)
    m2 = sn._read_manifest(spark, base, v2)
    assert m2["files"] == m1["files"], "MOR delete must rewrite no data file"
    assert len(m2["deletes"]) >= 1
    assert sn.snapshot_read(spark, base, v1).count() == o.count()  # time travel
    return (
        sn.snapshot_read(spark, base, v2)
        .groupBy((F.col("o_orderkey") % 5).cast("int").alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            stable_sum("o_totalprice", 2).alias("sum_price"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
    )


@register(
    "snapshot_change_feed",
    oracle="""
    WITH v1 AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders),
    merged AS (
      SELECT k, CASE WHEN k % 7 = 0 THEN p * 2 ELSE p END AS p FROM v1
      UNION ALL
      SELECT k + 10000000, p FROM v1 WHERE k % 11 = 0
    ),
    final AS (SELECT * FROM merged WHERE k % 13 <> 0 AND k % 17 <> 0),
    ins_side AS (SELECT k, p FROM final EXCEPT ALL SELECT k, p FROM v1),
    del_side AS (SELECT k, p FROM v1 EXCEPT ALL SELECT k, p FROM final),
    upd_keys AS (SELECT k FROM ins_side INTERSECT SELECT k FROM del_side),
    ch AS (
      SELECT k, p,
             CASE WHEN k IN (SELECT k FROM upd_keys)
                  THEN 'update_postimage' ELSE 'insert' END AS _change_type
      FROM ins_side
      UNION ALL
      SELECT k, p,
             CASE WHEN k IN (SELECT k FROM upd_keys)
                  THEN 'update_preimage' ELSE 'delete' END
      FROM del_side
    )
    SELECT _change_type, count(*) AS n_rows,
           min(k) AS min_key, max(k) AS max_key,
           round(CAST(sum(CAST(p AS DECIMAL(38,10))) AS DOUBLE), 2)
               AS sum_price
    FROM ch GROUP BY 1
    """,
    tags=("SNK3", "L2", "L3", "SE1", "A4"),
)
def snapshot_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED over the snapshot table (NEW r12): v1 commits
    orders key-clustered; a MERGE doubles the price of keys ≡0 mod 7
    and inserts +10M mirrors of keys ≡0 mod 11; a COW DELETE drops
    keys ≡0 mod 13; a MERGE-ON-READ equality delete drops the
    surviving keys ≡0 mod 17. ``snapshot_changes(v1, head,
    key_cols)`` then reconstructs the row-level net diff purely from
    the manifests' file/delete-entry diff — carried COW rows cancel in
    the multiset difference, updates pair into pre/postimages, and the
    MOR entry contributes deletes with no data-file churn at all. The
    oracle replays all four operations relationally and derives the
    same classification with EXCEPT ALL / INTERSECT."""
    import shutil

    from .. import snapshots as sn
    from ..functions import stable_sum

    base = _scratch_dir(sf_dir, "snapshot_cdf_orders")
    shutil.rmtree(base, ignore_errors=True)
    o, v1 = _orders_by_key_range(spark, sf_dir, base)
    upd = o.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    ins = o.filter(F.col("o_orderkey") % 11 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(10_000_000)
    )
    sn.snapshot_merge(upd.unionByName(ins), base, ["o_orderkey"])
    sn.snapshot_delete(spark, base, F.col("o_orderkey") % 13 == 0)
    mor_keys = (
        sn.snapshot_read(spark, base)
        .filter(F.col("o_orderkey") % 17 == 0)
        .select("o_orderkey")
    )
    vh = sn.snapshot_delete_keys(mor_keys, base)
    ch = sn.snapshot_changes(spark, base, v1, vh, key_cols=["o_orderkey"])
    return ch.groupBy("_change_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
        stable_sum("o_totalprice", 2).alias("sum_price"),
    )


@register(
    "snapshot_column_evolution",
    oracle="""
    WITH evens AS (
      SELECT o_orderkey AS k, o_totalprice AS p FROM orders
      WHERE o_orderkey % 2 = 0
    ),
    alls AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders),
    mir AS (
      SELECT o_orderkey + 10000000 AS k, o_totalprice AS p FROM orders
      WHERE o_orderkey % 11 = 0
    )
    SELECT 1 AS version, 'o_totalprice' AS col2, count(*) AS n_rows,
           count(p) AS n_vals,
           round(CAST(sum(CAST(p AS DECIMAL(38,10))) AS DOUBLE), 2)
               AS sum_price
    FROM evens
    UNION ALL
    SELECT 3, 'price', count(*), count(p),
           round(CAST(sum(CAST(p AS DECIMAL(38,10))) AS DOUBLE), 2)
    FROM alls
    UNION ALL
    SELECT 4, 'none', count(*), 0, 0.0 FROM alls
    UNION ALL
    SELECT 5, 'price', count(*),
           count(CASE WHEN k >= 10000000 THEN p END),
           round(CAST(sum(CAST(CASE WHEN k >= 10000000 THEN p END
                 AS DECIMAL(38,10))) AS DOUBLE), 2)
    FROM (SELECT k, p FROM alls UNION ALL SELECT k, p FROM mir)
    """,
    tags=("SNK3", "L3", "P5", "F6", "A4"),
)
def snapshot_column_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIELD-ID column RENAME + DROP evolution (NEW r12, metadata-only):
    v1 commits even orders keys as (o_orderkey, o_totalprice); v2
    RENAMES o_totalprice -> price (zero files rewritten — asserted
    inline); v3 appends the odd keys under the NEW name (old files'
    physical 'o_totalprice' serves the renamed field through the
    per-file epoch mapping); v4 DROPS price; v5 re-adds a column NAMED
    price via a +10M-mirror append — a brand-new field id, so every
    pre-v5 file must read it as NULL rather than resurrecting the
    dropped bytes (n_vals counts non-NULLs: exactly the mirrors). One
    row per interesting version pins the column NAME, row count,
    non-NULL count, and sum; the oracle replays the lineage
    relationally with the drop/re-add modeled as CASE on the mirror
    range. Time travel keeps each version's own schema."""
    import shutil

    from .. import snapshots as sn
    from ..functions import stable_sum

    base = _scratch_dir(sf_dir, "snapshot_colevo_orders")
    shutil.rmtree(base, ignore_errors=True)
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    v1 = sn.snapshot_commit(
        o.filter(F.col("o_orderkey") % 2 == 0).repartition(4), base, "append"
    )
    v2 = sn.snapshot_rename_column(spark, base, "o_totalprice", "price")
    assert (
        sn._read_manifest(spark, base, v2)["files"]
        == sn._read_manifest(spark, base, v1)["files"]
    ), "rename must rewrite no data file"
    v3 = sn.snapshot_commit(
        o.filter(F.col("o_orderkey") % 2 == 1)
        .withColumnRenamed("o_totalprice", "price"),
        base,
        "append",
    )
    v4 = sn.snapshot_drop_column(spark, base, "price")
    v5 = sn.snapshot_commit(
        o.filter(F.col("o_orderkey") % 11 == 0).select(
            (F.col("o_orderkey") + F.lit(10_000_000)).alias("o_orderkey"),
            F.col("o_totalprice").alias("price"),
        ),
        base,
        "append",
    )
    out = None
    for v in (v1, v3, v4, v5):
        df = sn.snapshot_read(spark, base, v)
        col2 = df.columns[1] if len(df.columns) > 1 else None
        row = df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            (
                F.count(F.col(col2)) if col2 else F.lit(0).cast("long")
            ).alias("n_vals"),
            (
                stable_sum(col2, 2) if col2 else F.lit(0.0)
            ).alias("sum_price"),
        ).select(
            F.lit(v).cast("int").alias("version"),
            F.lit(col2 or "none").alias("col2"),
            "n_rows",
            "n_vals",
            "sum_price",
        )
        out = row if out is None else out.unionByName(row)
    return out


@register(
    "snapshot_incremental_mirror",
    oracle="""
    WITH v1 AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders),
    merged AS (
      SELECT k, CASE WHEN k % 7 = 0 THEN p * 2 ELSE p END AS p FROM v1
      UNION ALL
      SELECT k + 10000000, p FROM v1 WHERE k % 11 = 0
    ),
    final AS (SELECT * FROM merged WHERE k % 13 <> 0 AND k % 17 <> 0)
    SELECT CAST(k % 5 AS INT) AS grp, count(*) AS n_rows,
           round(CAST(sum(CAST(p AS DECIMAL(38,10))) AS DOUBLE), 2)
               AS sum_price,
           min(k) AS min_key, max(k) AS max_key
    FROM final GROUP BY 1
    """,
    tags=("SNK3", "L2", "L3", "SE1", "A4"),
)
def snapshot_incremental_mirror(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL cross-table replication off the change feed (NEW r12):
    a destination snapshot table bootstraps as a full copy of the
    orders source, then the source evolves through a MERGE (prices
    doubled for keys ≡0 mod 7, +10M mirrors inserted for keys ≡0 mod
    11), a COW DELETE (keys ≡0 mod 13) and a MERGE-ON-READ equality
    delete (keys ≡0 mod 17) — and ONE ``mirror_snapshot_changes`` call
    re-synchronizes the destination by applying only the O(churn)
    change feed as a single atomic merge whose batch-id marker IS the
    consumer cursor (exactly-once: the asserted second call consumes 0
    versions). The returned aggregate reads the DESTINATION; the oracle
    replays the source lineage relationally — they can only match if
    the delta application reproduced the source state exactly."""
    import shutil

    from .. import snapshots as sn
    from ..functions import stable_sum
    from ..streaming.changefeed import mirror_snapshot_changes

    src = _scratch_dir(sf_dir, "snapshot_mirror_src")
    dst = _scratch_dir(sf_dir, "snapshot_mirror_dst")
    for p in (src, dst):
        shutil.rmtree(p, ignore_errors=True)
    o, _ = _orders_by_key_range(spark, sf_dir, src)
    assert mirror_snapshot_changes(spark, src, dst, ["o_orderkey"]) == 1
    upd = o.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    ins = o.filter(F.col("o_orderkey") % 11 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(10_000_000)
    )
    sn.snapshot_merge(upd.unionByName(ins), src, ["o_orderkey"])
    sn.snapshot_delete(spark, src, F.col("o_orderkey") % 13 == 0)
    mor = (
        sn.snapshot_read(spark, src)
        .filter(F.col("o_orderkey") % 17 == 0)
        .select("o_orderkey")
    )
    sn.snapshot_delete_keys(mor, src)
    assert mirror_snapshot_changes(spark, src, dst, ["o_orderkey"]) == 3
    assert mirror_snapshot_changes(spark, src, dst, ["o_orderkey"]) == 0
    return (
        sn.snapshot_read(spark, dst)
        .groupBy((F.col("o_orderkey") % 5).cast("int").alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            stable_sum("o_totalprice", 2).alias("sum_price"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
    )


@register(
    "snapshot_change_log",
    oracle="""
    WITH v1 AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders),
    upd AS (SELECT k, p AS old_p, p * 2 AS new_p FROM v1 WHERE k % 7 = 0),
    ins AS (SELECT k + 10000000 AS k, p FROM v1 WHERE k % 11 = 0),
    merged AS (
      SELECT k, CASE WHEN k % 7 = 0 THEN p * 2 ELSE p END AS p FROM v1
      UNION ALL SELECT k, p FROM ins
    ),
    v3del AS (SELECT k, p FROM merged WHERE k % 13 = 0),
    v4del AS (SELECT k, p FROM merged WHERE k % 13 <> 0 AND k % 17 = 0),
    log AS (
      SELECT 2 AS _commit_version, 'update_preimage' AS _change_type,
             k, old_p AS p FROM upd
      UNION ALL
      SELECT 2, 'update_postimage', k, new_p FROM upd
      UNION ALL SELECT 2, 'insert', k, p FROM ins
      UNION ALL SELECT 3, 'delete', k, p FROM v3del
      UNION ALL SELECT 4, 'delete', k, p FROM v4del
    )
    SELECT _commit_version, _change_type, count(*) AS n_rows,
           min(k) AS min_key, max(k) AS max_key,
           round(CAST(sum(CAST(p AS DECIMAL(38,10))) AS DOUBLE), 2)
               AS sum_price
    FROM log GROUP BY 1, 2
    """,
    tags=("SNK3", "L2", "L3", "SE1", "A4"),
)
def snapshot_change_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-COMMIT change log (NEW r12b): the same merge -> COW delete ->
    MOR delete lineage as ``snapshot_change_feed``, but consumed through
    ``snapshot_changes_by_version`` — one O(churn) diff per adjacent
    version pair stamped with ``_commit_version``, the Delta-CDF event
    stream where the endpoint diff is the net. The oracle replays every
    STEP separately (the v3 deletes carry the already-doubled prices,
    the v4 equality deletes apply only to mod-13 survivors), so the
    hashes only match if each step's pre-state is exactly the prior
    commit's — per-version attribution, not just the net."""
    import shutil

    from .. import snapshots as sn
    from ..functions import stable_sum

    base = _scratch_dir(sf_dir, "snapshot_chlog_orders")
    shutil.rmtree(base, ignore_errors=True)
    o, v1 = _orders_by_key_range(spark, sf_dir, base)
    upd = o.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    ins = o.filter(F.col("o_orderkey") % 11 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(10_000_000)
    )
    v2 = sn.snapshot_merge(upd.unionByName(ins), base, ["o_orderkey"])
    v3 = sn.snapshot_delete(spark, base, F.col("o_orderkey") % 13 == 0)
    mor = (
        sn.snapshot_read(spark, base)
        .filter(F.col("o_orderkey") % 17 == 0)
        .select("o_orderkey")
    )
    v4 = sn.snapshot_delete_keys(mor, base)
    assert (v1, v2, v3, v4) == (1, 2, 3, 4)  # oracle hardcodes the stamps
    log = sn.snapshot_changes_by_version(
        spark, base, v1, v4, key_cols=["o_orderkey"]
    )
    return log.groupBy("_commit_version", "_change_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
        stable_sum("o_totalprice", 2).alias("sum_price"),
    )


@register(
    "zip_ingest_members",
    oracle="""
    SELECT 'doc_' || doc_id || '.json' AS member,
           '{"doc_id": ' || doc_id || ', "lang": "' || lang || '"}' AS content
    FROM documents WHERE doc_id < 20
    """,
    tags=("SRC1", "SRC2", "U4"),
)
def zip_ingest_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRC1 + SRC2 under the exact gate (VERDICT r12 item 8): two zip
    archives are synthesized from ``documents`` rows (JSON members named
    doc_<id>.json plus a non-.json decoy per archive), STREAMED into the
    landing dir through io.fetch_url over file:// URLs (the SRC1 chunked
    fetch loop — reference data_ingestion_func.py:19-21), then fanned out
    to rows ON EXECUTORS via io.expand_zip_distributed (reference
    lambda_unzip_function.py:18-22's member filter, distributed through
    mapInPandas). Member names and byte-exact contents are pure functions
    of the rows, so the whole fetch -> unzip -> fanout pipeline sits
    under a DuckDB oracle rebuilding the same strings; the .txt decoys
    prove the suffix filter drops non-matching members."""
    import os
    import shutil
    import zipfile

    from .. import io as gio

    rows = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 20)
        .select("doc_id", "lang")
        .collect()  # 20 rows — archive synthesis is driver-side by design
    )
    src = _scratch_dir(sf_dir, "zip_ingest_src")
    landing = _scratch_dir(sf_dir, "zip_ingest_landing")
    for p in (src, landing):
        shutil.rmtree(p, ignore_errors=True)
        os.makedirs(p, exist_ok=True)
    for part in (0, 1):
        zp = os.path.join(src, f"batch_{part}.zip")
        with zipfile.ZipFile(zp, "w", zipfile.ZIP_STORED) as zf:
            for r in rows:
                if r["doc_id"] % 2 == part:
                    zf.writestr(
                        f"doc_{r['doc_id']}.json",
                        f'{{"doc_id": {r["doc_id"]}, "lang": "{r["lang"]}"}}',
                    )
            zf.writestr(f"skip_{part}.txt", "not json")
        gio.fetch_url(
            "file://" + zp, os.path.join(landing, os.path.basename(zp))
        )
    return gio.expand_zip_distributed(spark, landing, suffix=".json").select(
        "member", F.col("content").cast("string").alias("content")
    )
