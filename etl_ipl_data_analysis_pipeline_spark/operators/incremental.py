"""Incremental aggregate maintenance (SURVEY §2.9 L1-L3 extension): keep a
pre-aggregated summary table current as new batches arrive, without
recomputing history.

The pattern behind every "daily rollup" at scale: history is O(100 TB) but
each increment is O(batch). Decomposable aggregates (count/sum/min/max —
and avg as sum+count) merge associatively, so
``merge_summaries(summary, aggregate_batch(new))`` equals the full
recompute — proven by tests/test_schema_ledger.py against groupBy over the
concatenated input.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

# (summary column, merge function) for decomposable aggregate state
_MERGES = {
    "n_rows": F.sum,
    "sum_value": F.sum,
    "min_value": F.min,
    "max_value": F.max,
}


def aggregate_batch(batch: DataFrame, keys: list[str], value_col: str) -> DataFrame:
    """Partial-aggregate one batch into summary-state rows: count, decimal
    sum (order-independent), min, max per key."""
    return batch.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col(value_col).cast("decimal(38,10)")).alias("sum_value"),
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
    )


def merge_summaries(current: DataFrame, increment: DataFrame, keys: list[str]) -> DataFrame:
    """Merge two summary tables (associative + commutative): union then
    re-aggregate with each column's merge function. One shuffle of
    O(groups), never O(history rows)."""
    return (
        current.unionByName(increment)
        .groupBy(*keys)
        .agg(*[fn(c).alias(c) for c, fn in _MERGES.items()])
    )


def upsert(
    current: DataFrame,
    updates: DataFrame,
    keys: list[str],
    broadcast_updates: bool = True,
) -> DataFrame:
    """Batch MERGE INTO (when-matched-update, when-not-matched-insert):
    the updates batch overrides matching keys in ``current``; unmatched
    update keys insert. Expressed as ``updates UNION (current ANTI-JOIN
    updates)``; the union itself moves nothing. A batch is usually
    O(increment) against an O(history) current, so the anti join
    broadcasts the update KEY SET by default and history never shuffles;
    pass broadcast_updates=False for rare giant batches (then bucket both
    tables by the key so the shuffle is co-located)."""
    key_set = updates.select(*keys)
    if broadcast_updates:
        key_set = F.broadcast(key_set)
    return updates.unionByName(current.join(key_set, keys, "left_anti"))


def summary_with_avg(summary: DataFrame) -> DataFrame:
    """Derive avg (rounded to 4dp) from the maintained (sum, count) state —
    avg itself is not decomposable, its state is."""
    return summary.withColumn(
        "avg_value",
        F.round((F.col("sum_value") / F.col("n_rows")).cast("double"), 4),
    )
