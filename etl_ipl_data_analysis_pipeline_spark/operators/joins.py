"""Temporal join operators Spark lacks as built-ins (SURVEY.md §2.3 J8/J9):
as-of join and bucketed range join, composed from DataFrame ops.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: list[str] | None = None,
    tolerance: str | None = None,
    strict: bool = False,
) -> DataFrame:
    """J9: for each left row, attach the latest right row with
    ``right.ts <= left.ts`` (< if ``strict``) per ``on`` key.

    Implementation: union-and-carry — tag both sides, union by the (key, ts)
    ordering, window ``last(right_value, ignorenulls=True)`` carries the most
    recent right row forward onto each left row. ONE shuffle on the key (no
    per-row subquery, no range cross-join); this is the classic distributed
    as-of pattern and scales to arbitrarily long histories.

    ``tolerance`` (e.g. "1 hour"): right rows older than left.ts - tolerance
    are not matched.
    """
    right_cols = right_cols or [c for c in right.columns if c not in (on, right_ts)]
    l_tag = left.withColumn("__side", F.lit(1)).withColumn("__ts", F.col(left_ts))
    r_tag = (
        right.select(
            F.col(on),
            F.col(right_ts).alias("__ts"),
            F.struct(*[F.col(c) for c in [right_ts, *right_cols]]).alias("__rpayload"),
        )
        .withColumn("__side", F.lit(0))
    )
    unioned = l_tag.unionByName(r_tag, allowMissingColumns=True)
    # Right rows sort before left rows at equal ts unless strict (then after).
    order_side = F.asc("__side") if not strict else F.desc("__side")
    w = (
        Window.partitionBy(on)
        .orderBy(F.asc("__ts"), order_side)
        .rowsBetween(Window.unboundedPreceding, -1 if strict else 0)
    )
    carried = unioned.withColumn(
        "__match",
        F.last(F.when(F.col("__side") == 0, F.col("__rpayload")), ignorenulls=True).over(w),
    )
    out = carried.filter(F.col("__side") == 1)
    if tolerance:
        out = out.withColumn(
            "__match",
            F.when(
                F.col(f"__match.{right_ts}")
                >= F.col("__ts") - F.expr(f"INTERVAL {tolerance}"),
                F.col("__match"),
            ),
        )
    for c in right_cols:
        out = out.withColumn(c, F.col(f"__match.`{c}`"))
    return out.drop("__side", "__ts", "__rpayload", "__match")


_INTERVAL_UNIT_SECONDS = {
    "second": 1,
    "minute": 60,
    "hour": 3600,
    "day": 86400,
    "week": 604800,
}


def interval_seconds(interval: str) -> int:
    """Parse a whole-second interval string ('1 hour', '-30 minutes') to
    seconds. Casting an INTERVAL literal to long does NOT do this — Spark
    returns the value in the interval's own unit (INTERVAL '1 hour' -> 1),
    which once made the buckets below one second wide."""
    qty_s, unit = interval.strip().split()
    unit = unit.lower().rstrip("s")
    if unit not in _INTERVAL_UNIT_SECONDS:
        raise ValueError(f"unsupported interval unit: {interval!r}")
    return int(qty_s) * _INTERVAL_UNIT_SECONDS[unit]


def range_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    on: str | None,
    left_ts: str,
    right_ts: str,
    lower: str,
    upper: str,
    bucket: str = "1 hour",
) -> DataFrame:
    """J8 at scale: `right.ts in (left.ts+lower, left.ts+upper]` via coarse
    time buckets: both sides get bucket ids, left fans out to every bucket
    its window overlaps, the join is equi on (key, bucket), and the exact
    range predicate filters within. Pair space = per-bucket, not per-key-
    history — this is the plan a naive BETWEEN join can't give you.

    Bucket math runs on integer epoch seconds with widths parsed by
    interval_seconds, so a left row fans out to exactly
    (upper - lower) / bucket + 1 (or +2 at truncation edges) bucket rows;
    intervals must be whole seconds. The exact predicate still compares
    full-precision timestamps.
    """
    bucket_sec = interval_seconds(bucket)
    lo_sec = interval_seconds(lower)
    hi_sec = interval_seconds(upper)
    if bucket_sec <= 0 or hi_sec < lo_sec:
        raise ValueError("bucket must be positive and upper >= lower")
    lo = F.expr(f"INTERVAL {lower}")
    hi = F.expr(f"INTERVAL {upper}")
    l2 = left.withColumn(
        "__bkt",
        F.explode(
            F.sequence(
                F.floor((F.col(left_ts).cast("long") + lo_sec) / bucket_sec),
                F.floor((F.col(left_ts).cast("long") + hi_sec) / bucket_sec),
            )
        ),
    )
    r2 = right.withColumn("__bkt", F.floor(F.col(right_ts).cast("long") / bucket_sec))
    cond = (F.col(f"__r.{right_ts}") > F.col(f"__l.{left_ts}") + lo) & (
        F.col(f"__r.{right_ts}") <= F.col(f"__l.{left_ts}") + hi
    ) & (F.col("__l.__bkt") == F.col("__r.__bkt"))
    if on:
        cond = cond & (F.col(f"__l.{on}") == F.col(f"__r.{on}"))
    return l2.alias("__l").join(r2.alias("__r"), cond).drop("__bkt")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    salt: int = 16,
) -> DataFrame:
    """Skew-safe inner equi join: spread each hot left key over ``salt``
    reducers.

    The left (fact) side gets a uniform ``__salt`` in [0, salt) (rand
    seed 42); the right
    (dimension) side is replicated once per salt value; the join key becomes
    (key, salt). A key holding 20% of all rows then lands on ``salt``
    partitions instead of one — the classic remedy when AQE's skew-join
    split can't kick in (e.g. the skewed side feeds a co-partitioned
    downstream agg). Result is row-identical to the unsalted join: every
    left row still meets every matching right row exactly once (the right
    replica with its salt value).

    Use where ``right`` is a dimension (its rows may be replicated
    ``salt``× — keep it the small side). Costs salt× the
    right-side shuffle volume; at 100 TB that trade is one small table
    broadcast-sized-up vs. a stalled straggler reducer.
    """
    salted_left = left.withColumn("__salt", (F.rand(42) * salt).cast("int"))
    replicas = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    return salted_left.join(replicas, [on, "__salt"]).drop("__salt")
