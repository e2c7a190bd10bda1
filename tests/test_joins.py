"""As-of join semantics (tolerance/strict), bucketed range join
equivalence + fan-out bound, interval parsing."""

import pyspark.sql.functions as F
import pytest

from etl_ipl_data_analysis_pipeline_spark.operators import joins


@pytest.fixture(scope="module")
def trades_quotes(spark):
    trades = spark.createDataFrame(
        [
            ("A", "2024-01-01 10:00:05", 100.0),
            ("A", "2024-01-01 10:00:00", 99.0),  # exactly at a quote ts
            ("B", "2024-01-01 10:00:10", 50.0),
            ("C", "2024-01-01 10:00:10", 75.0),  # no quotes at all
        ],
        "sym string, ts string, price double",
    ).withColumn("ts", F.to_timestamp("ts"))
    quotes = spark.createDataFrame(
        [
            ("A", "2024-01-01 09:59:58", 98.5),
            ("A", "2024-01-01 10:00:00", 98.9),
            ("A", "2024-01-01 10:00:04", 99.9),
            ("B", "2024-01-01 09:00:00", 49.0),  # 1h stale
        ],
        "sym string, ts string, quote double",
    ).withColumn("ts", F.to_timestamp("ts"))
    return trades, quotes


def by_key(rows):
    return {(r["sym"], str(r["ts"])): r["quote"] for r in rows}


def test_asof_attaches_latest_at_or_before(spark, trades_quotes):
    trades, quotes = trades_quotes
    out = by_key(joins.asof_join(trades, quotes, on="sym").collect())
    assert out[("A", "2024-01-01 10:00:05")] == 99.9
    assert out[("A", "2024-01-01 10:00:00")] == 98.9  # equal ts matches
    assert out[("B", "2024-01-01 10:00:10")] == 49.0
    assert out[("C", "2024-01-01 10:00:10")] is None  # no right rows


def test_asof_strict_excludes_equal_ts(spark, trades_quotes):
    trades, quotes = trades_quotes
    out = by_key(joins.asof_join(trades, quotes, on="sym", strict=True).collect())
    assert out[("A", "2024-01-01 10:00:00")] == 98.5  # equal-ts quote skipped


def test_asof_tolerance_drops_stale_matches(spark, trades_quotes):
    trades, quotes = trades_quotes
    out = by_key(
        joins.asof_join(trades, quotes, on="sym", tolerance="10 minutes").collect()
    )
    assert out[("B", "2024-01-01 10:00:10")] is None  # quote is 1h old
    assert out[("A", "2024-01-01 10:00:05")] == 99.9  # fresh match kept


def test_range_join_bucketed_equals_naive(spark, sf_dir):
    from etl_ipl_data_analysis_pipeline_spark.plans import load_all

    reg = load_all()
    naive = {tuple(r) for r in reg["join_range"].fn(spark, sf_dir).collect()}
    bucketed = {tuple(r) for r in reg["join_range_bucketed"].fn(spark, sf_dir).collect()}
    assert naive == bucketed
    assert naive  # non-vacuous


def test_bucket_fanout_is_bounded(spark, sf_dir):
    from etl_ipl_data_analysis_pipeline_spark.plans import load

    ev = load(spark, sf_dir, "events").limit(50)
    joined = joins.range_join_bucketed(
        ev, ev, on="user_id", left_ts="ts", right_ts="ts",
        lower="0 seconds", upper="1 hour", bucket="30 minutes",
    )
    # explode width = 3600/1800 + 1 = 3 buckets per left row, never 3600
    l2_rows = joined.sparkSession.createDataFrame([], "x int")  # placeholder
    left_expanded = (
        ev.withColumn(
            "__bkt",
            F.explode(
                F.sequence(
                    F.floor(F.col("ts").cast("long") / 1800),
                    F.floor((F.col("ts").cast("long") + 3600) / 1800),
                )
            ),
        ).count()
    )
    assert left_expanded <= 50 * 3


def test_interval_seconds_parsing():
    assert joins.interval_seconds("1 hour") == 3600
    assert joins.interval_seconds("30 minutes") == 1800
    assert joins.interval_seconds("-2 hours") == -7200
    assert joins.interval_seconds("1 week") == 604800
    with pytest.raises(ValueError):
        joins.interval_seconds("5 fortnights")


# ---------------------------------------------------------------------------
# salted join (skew) + bucketed co-located join
# ---------------------------------------------------------------------------


def test_salted_join_equals_plain_join(spark):
    # skewed fact: one hot key holding most rows
    fact = spark.createDataFrame(
        [(1, i) for i in range(200)] + [(2, i) for i in range(5)] + [(3, i) for i in range(5)],
        "k int, v int",
    )
    dim = spark.createDataFrame([(1, "hot"), (2, "cold"), (4, "unmatched")], "k int, name string")
    plain = sorted(fact.join(dim, "k").collect())
    salted = sorted(joins.salted_join(fact, dim, "k", salt=8).collect())
    assert salted == plain


def test_salted_join_spreads_hot_key(spark):
    fact = spark.createDataFrame([(1, i) for i in range(1000)], "k int, v int")
    import pyspark.sql.functions as F
    n_salts = (
        fact.withColumn("__salt", (F.rand(42) * 8).cast("int"))
        .select("__salt").distinct().count()
    )
    assert n_salts == 8  # the hot key really lands on every salt partition


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    from etl_ipl_data_analysis_pipeline_spark.io import write_bucketed

    left = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS a")
    right = spark.range(0, 1000).selectExpr("id AS k", "id * 3 AS b")
    write_bucketed(left, "t_bleft", ["k"], num_buckets=4, sort_cols=["k"], path=str(tmp_path / "bl"))
    write_bucketed(right, "t_bright", ["k"], num_buckets=4, sort_cols=["k"], path=str(tmp_path / "br"))
    try:
        with_conf = spark.conf
        old = with_conf.get("spark.sql.autoBroadcastJoinThreshold")
        with_conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("t_bleft").join(spark.table("t_bright"), "k")
            assert joined.count() == 1000
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan  # co-located buckets: shuffle-free join
        finally:
            with_conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bleft")
        spark.sql("DROP TABLE IF EXISTS t_bright")
