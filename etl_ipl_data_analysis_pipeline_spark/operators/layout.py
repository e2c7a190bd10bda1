"""Z-order data layout (SURVEY §2.1 SNK1 extension): multi-dimensional
clustering for scan pruning at 100 TB.

A single-column sort bounds per-file min/max on ONE column; predicates on
any other column still read every file. Interleaving the bits of several
bucketized columns into one Morton (Z) key and range-partitioning the
write on it bounds per-file ranges on EVERY participating column at once,
so parquet footer min/max stats prune files/row-groups for predicates on
any of them — the same layout idea behind lakehouse OPTIMIZE ZORDER.

Everything stays codegen-able column arithmetic: equal-frequency bucket
ranks computed as an exact distributed ntile (range-bucketed row_numbers
shifted by broadcast per-bucket offsets — no single-partition window
anywhere), bit interleave as shift/OR terms, then ``repartitionByRange``
+ ``sortWithinPartitions`` on the key. No UDFs, no collect beyond the
approxQuantile boundary sketch.
"""

from __future__ import annotations

from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..functions import range_bucket


def interleave_bits(cols: list, bits: int = 8):
    """Morton-interleave ``len(cols)`` bucket-rank columns of ``bits`` bits
    each into one long: bit b of column i lands at position b*ndim + i.
    Pure shift/AND/OR arithmetic — whole-stage codegen keeps it JVM-side,
    and the identical integer expression runs in any SQL engine."""
    ndim = len(cols)
    terms = []
    for i, c in enumerate(cols):
        c = F.col(c) if isinstance(c, str) else c
        for b in range(bits):
            terms.append(
                F.shiftleft(
                    F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1)),
                    b * ndim + i,
                )
            )
    return reduce(lambda acc, t: acc.bitwiseOR(t), terms)


def global_positions(
    df: DataFrame,
    base: DataFrame,
    c: str,
    tiebreak: str,
    cuts: list,
    pos_col: str,
    tot_col: str | None = None,
) -> DataFrame:
    """Append ``pos_col`` = row_number() OVER (ORDER BY c,
    tiebreak) — an exact 1-based GLOBAL position — plus optionally
    ``tot_col`` = the global row count, WITHOUT a single-partition
    window anywhere near the base relation.

    Mechanism (the pack_token_shards range-bucketed pattern): rows are
    bucketed by the literal ``cuts`` boundaries (all ties on ``c`` share
    a bucket, so within-bucket order is globally consistent), row_number
    runs per bucket, and the per-bucket row counts — one row per bucket,
    broadcast — shift local ranks to exact 1-based global positions. The
    result is bit-identical to the window form for ANY cut boundaries
    (cuts only steer parallelism). NULL keys sort first, matching the
    Spark window default they replace.

    ``base`` is the pre-rank source relation: bucket counts depend only
    on column ``c``, so counting over it (a one-column scan) instead of
    over the chained ``df`` keeps a chained caller's count branch from
    re-executing upstream window shuffles (zorder_ranks chains one call
    per layout column).
    """
    col = F.col(c)
    bucket = F.when(col.isNull(), F.lit(-1)).otherwise(range_bucket(col, cuts))
    bucketed = df.withColumn("__zb", bucket)

    w_in = Window.partitionBy("__zb").orderBy(col.asc(), F.col(tiebreak).asc())
    with_rn = bucketed.withColumn("__zrn", F.row_number().over(w_in))

    # one row per bucket: exclusive prefix counts + the global total,
    # windowed over the bounded bucket relation (never the base table).
    w_off = (
        Window.partitionBy(F.lit(0))
        .orderBy(F.col("__zb").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        base.select(bucket.alias("__zb"))
        .groupBy("__zb")
        .agg(F.count(F.lit(1)).alias("__zc"))
        .select(
            "__zb",
            F.coalesce(F.sum("__zc").over(w_off), F.lit(0)).alias("__zoff"),
            F.sum("__zc").over(Window.partitionBy(F.lit(0))).alias("__ztot"),
        )
    )
    joined = with_rn.join(F.broadcast(offsets), "__zb")
    out_cols = [F.col(name) for name in df.columns] + [
        (F.col("__zoff") + F.col("__zrn")).alias(pos_col)
    ]
    if tot_col is not None:
        out_cols.append(F.col("__ztot").alias(tot_col))
    return joined.select(*out_cols)


def global_running_sum(
    df: DataFrame,
    c: str,
    tiebreak: str,
    value,
    cuts: list,
    cum_col: str,
    tot_col: str | None = None,
    descending: bool = False,
) -> DataFrame:
    """Append ``cum_col`` = sum(value) OVER (ORDER BY c [DESC], tiebreak
    ROWS UNBOUNDED PRECEDING) — an exact global running sum — plus
    optionally ``tot_col`` = the grand total, with the same range-bucket
    + broadcast-offset mechanism as ``global_positions``: within-bucket
    running sums shifted by per-bucket prefix totals (one row per
    bucket, broadcast). Exact for associative-exact ``value`` types
    (integers, decimals) under ANY bucketing — pass a decimal-cast
    expression, never a raw double, or the result becomes
    partitioning-dependent. Ties on ``c`` share a bucket by
    construction, so the tiebreak order never crosses buckets.
    """
    col = F.col(c)
    null_bucket = F.lit(1 << 31) if descending else F.lit(-1)
    bucket = F.when(col.isNull(), null_bucket).otherwise(range_bucket(col, cuts))
    bucketed = df.withColumn("__zb", bucket).withColumn("__zv", value)

    order = [col.desc() if descending else col.asc(), F.col(tiebreak).asc()]
    w_in = (
        Window.partitionBy("__zb")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_cum = bucketed.withColumn("__zcum", F.sum("__zv").over(w_in))

    w_off = (
        Window.partitionBy(F.lit(0))
        .orderBy(F.col("__zb").desc() if descending else F.col("__zb").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        bucketed.groupBy("__zb")
        .agg(F.sum("__zv").alias("__zc"))
        .select(
            "__zb",
            F.sum("__zc").over(w_off).alias("__zoff"),
            F.sum("__zc").over(Window.partitionBy(F.lit(0))).alias("__ztot"),
        )
    )
    joined = with_cum.join(F.broadcast(offsets), "__zb")
    # first bucket has no predecessor: NULL offset means "add nothing"
    # (a literal 0 would need the value's exact decimal type to avoid a
    # widening cast on the sum)
    cum = F.when(F.col("__zoff").isNull(), F.col("__zcum")).otherwise(
        F.col("__zoff") + F.col("__zcum")
    )
    out_cols = [F.col(name) for name in df.columns] + [cum.alias(cum_col)]
    if tot_col is not None:
        out_cols.append(F.col("__ztot").alias(tot_col))
    return joined.select(*out_cols)


def _exact_ntile(
    df: DataFrame,
    base: DataFrame,
    c: str,
    tiebreak: str,
    n: int,
    cuts: list,
    out_col: str,
) -> DataFrame:
    """Append ``out_col`` = ntile(n) OVER (ORDER BY c, tiebreak) - 1,
    computed WITHOUT a global single-partition window: exact global
    positions from ``global_positions`` (range-bucketed row_numbers +
    broadcast per-bucket offsets), then the ntile value as pure integer
    arithmetic on (p, N): with base = N div n and rem = N mod n, the
    first rem tiles hold base+1 rows and the rest hold base, exactly the
    SQL ntile contract — bit-identical to the window form for ANY cut
    boundaries. Integer `div` throughout: a double floor(p / size)
    could round across a tile boundary at 2^53-row scale.
    """
    joined = global_positions(df, base, c, tiebreak, cuts, "__zp", "__ztot")
    tile = F.expr(
        f"CASE WHEN __zp <= (__ztot % {n}) * ((__ztot div {n}) + 1) "
        f"THEN (__zp - 1) div ((__ztot div {n}) + 1) + 1 "
        f"ELSE (__ztot % {n}) "
        f"  + (__zp - (__ztot % {n}) * ((__ztot div {n}) + 1) - 1) "
        f"    div greatest(__ztot div {n}, 1) + 1 END"
    )
    return joined.select(
        *[F.col(name) for name in df.columns],
        (tile - 1).cast("int").alias(out_col),
    )


def zorder_ranks(
    df: DataFrame,
    cols: list[str],
    tiebreak: str,
    bits: int = 8,
    num_ranges: int = 32,
) -> DataFrame:
    """Append __r0..__rN equal-frequency bucket ranks (0..2^bits-1) for
    each layout column — exact ntile semantics under the (col, tiebreak)
    total order, so both engines agree bucket-for-bucket, with NO
    single-partition window: one approxQuantile pass derives ~num_ranges
    range boundaries for ALL layout columns at once, and each column's
    rank is an exact distributed ntile over those buckets (_exact_ntile).

    Scale: per column, one hash exchange keyed by the data-derived range
    bucket (num_ranges-way parallel — size it to the cluster), a bounded
    per-bucket count agg, and a broadcast join; the boundaries only steer
    parallelism, never the result. Layout columns must be numeric (the
    boundary sketch is approxQuantile); bucketize strings upstream.

    Width adaptivity: the chained per-column bucket windows move whole
    rows, so for a WIDE table k layout columns cost k full-row
    exchanges. When payload columns exist (and k >= 2), ranks are
    computed on the narrow (tiebreak, cols...) projection — k exchanges
    of a few longs per row — and joined back on ``tiebreak`` in one
    full-row exchange: k·W bytes shuffled becomes k·w + W. This
    requires ``tiebreak`` to be a UNIQUE NON-NULL row key, which the
    equal-frequency contract effectively demands anyway (duplicate
    (col, tiebreak) pairs would make the window order, and hence the
    ranks, partitioning-dependent); a NULL key on this path raises at
    runtime rather than silently dropping its row in the join-back."""
    n = 1 << bits
    probs = [i / num_ranges for i in range(1, num_ranges)]
    payload = [c for c in df.columns if c != tiebreak and c not in cols]
    narrow = bool(payload) and len(cols) > 1
    slim = df.select(tiebreak, *cols) if narrow else df
    out = slim
    # num_ranges=1 => no boundaries: degenerates to one bucket (the old
    # single-window shape), still exact
    # loose relativeError: boundaries only steer parallelism, never the
    # result, so a cheap shallow sketch is enough (0.01 of N per bucket
    # imbalance at worst — irrelevant next to the exactness guarantee)
    all_cuts = (
        slim.approxQuantile(list(cols), probs, 0.01)
        if probs
        else [[] for _ in cols]
    )
    for i, (c, cuts) in enumerate(zip(cols, all_cuts)):
        out = _exact_ntile(out, slim, c, tiebreak, n, sorted(set(cuts)), f"__r{i}")
    if not narrow:
        return out
    rank_cols = [f"__r{i}" for i in range(len(cols))]
    # an INNER join-back on the row key would silently DROP a NULL-key
    # row (the in-place path would have ranked it) — and a pre-join
    # assert can't catch that, because Catalyst pushes the join's
    # inferred isnotnull filter BELOW any deterministic projection. So:
    # LEFT join (every input row survives) and assert the resolved rank
    # itself, which is NULL exactly when the key failed to match —
    # converting the contract violation into a loud runtime error with
    # zero extra jobs. Duplicate keys (also a contract violation: they
    # make the rank order partitioning-dependent on EITHER path) are
    # documented, not checked — detecting them needs an aggregate pass.
    ranks = out.select(tiebreak, *rank_cols)
    joined = df.join(ranks, tiebreak, "left")
    null_guard = F.coalesce(
        F.assert_true(
            F.col(rank_cols[0]).isNotNull(),
            F.lit("zorder_ranks: tiebreak must be a non-null unique row key"),
        ).cast("int"),
        F.lit(0),
    )
    # guard FIRST in the addition: binary-op codegen short-circuits a
    # NULL left operand without evaluating the right, which would skip
    # the assert exactly when it must fire
    return joined.select(
        *df.columns,
        (null_guard + F.col(rank_cols[0])).alias(rank_cols[0]),
        *rank_cols[1:],
    )


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    tiebreak: str,
    bits: int = 8,
    num_files: int = 16,
    num_ranges: int = 32,
) -> None:
    """Cluster ``df`` on the Z-key of ``cols`` and write ``num_files``
    parquet files: range-partition by the key (contiguous Z-ranges per file, so
    per-file min/max of every layout column is bounded), sort within each
    partition (bounds ROW-GROUP stats too), drop the helper columns."""
    ranks = zorder_ranks(df, cols, tiebreak, bits, num_ranges)
    keyed = ranks.withColumn(
        "__z", interleave_bits([f"__r{i}" for i in range(len(cols))], bits)
    )
    (
        keyed.repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z", *[f"__r{i}" for i in range(len(cols))])
        .write.mode("overwrite")
        .parquet(path)
    )
