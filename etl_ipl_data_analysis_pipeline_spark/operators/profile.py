"""Data-profiling operator: per-column stats in one scan (plus Spark's
Expand for exact distincts) — the pre-training sanity report every corpus
pipeline runs before a 100 TB job is allowed to start.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def profile(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Per-column profile: (column, n_rows, n_nulls, n_distinct, min_value,
    max_value), min/max cast to string for a uniform schema.

    One aggregate job: all per-column expressions land in a single
    ``agg`` (the exact countDistincts expand the scan n_cols-way via
    Expand — still one pass over the data; swap in
    ``approx_count_distinct`` for a 100 TB profile where ±2% NDV is fine),
    then one row per column is unpivoted driver-free with inline(array(...)).
    """
    cols = cols or df.columns
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [
            F.count(c).alias(f"__nn_{c}"),  # non-null count
            F.countDistinct(c).alias(f"__nd_{c}"),
            F.min(c).cast("string").alias(f"__mn_{c}"),
            F.max(c).cast("string").alias(f"__mx_{c}"),
        ]
    one = df.agg(*aggs)
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col("__n").alias("n_rows"),
                (F.col("__n") - F.col(f"__nn_{c}")).alias("n_nulls"),
                F.col(f"__nd_{c}").alias("n_distinct"),
                F.col(f"__mn_{c}").alias("min_value"),
                F.col(f"__mx_{c}").alias("max_value"),
            )
            for c in cols
        ]
    )
    return one.select(F.inline(per_col))


def grouped_value_count_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    qs: list[float],
    round_digits: int | None = 6,
    pre_counted_col: str | None = None,
    extra_partition_aggs: dict[str, "F.Column"] | None = None,
) -> DataFrame:
    """EXACT per-group linear-interpolated quantiles (same type-7 /
    quantile_cont definition as :func:`grouped_exact_quantiles`) for
    DOMAIN-BOUNDED measures — integer-ish columns whose distinct-value
    count is capped by the value domain, not the corpus (char counts,
    token counts, star ratings). The value-histogram reduction: ONE
    partial-agg shuffle computes (group, value, count) — map-side
    combine collapses the corpus to groups x NDV rows before the
    exchange, and NDV stays bounded whatever the row count (10^12 docs
    still yield <= max_len distinct char counts per group). Everything
    after the histogram runs over that tiny relation: a per-group
    cumulative-count window (<= NDV rows per partition) turns counts
    into 1-based order-statistic positions, a broadcast of the qs list
    fans out the targets, and ONE conditional-min aggregate fetches both
    order statistics per (group, q). Fully distributed — no collect, no
    rank machinery over the corpus — and a single action end to end, so
    a caller that also aggregates moments from the same histogram gets
    the exchange reused (the agg_stats shape: the whole profile is one
    scan; measured r9: 2.3s -> ~0.6s at sf0.1).

    Bit-identical to the rank path and to DuckDB's quantile_cont: counts
    are exact bigints, h = (n-1)*q and vlo + frac*(vhi - vlo) are the
    same IEEE double expressions either engine evaluates, and
    integer-domain values are exactly representable as doubles.

    ``pre_counted_col``: pass the count column's name when ``df``
    already IS the (group, value, count) histogram — the caller computes
    it once and shares it between this and its own aggregates.

    ``extra_partition_aggs``: {name: aggregate-expression} over the
    histogram columns (``__v`` the value as double, ``__c`` the count),
    each evaluated per group THROUGH THE SAME per-group window the
    quantile machinery already pays for and returned as one extra
    column. This is how a caller gets moments + quantiles as ONE
    pipeline — histogram exchange, one window stage, one final
    aggregate — instead of a second aggregate branch plus a join (the
    r10 agg_stats fusion: the two-branch form re-analyzed and
    re-codegen'd a twice-as-large plan every call for identical
    values). Exactness is the caller's job: reconstruct integer values
    with ``F.col("__v").cast("bigint")`` (domain-bounded values are
    exactly representable as doubles, so the round trip is exact) and
    cast to DECIMAL before multiplying where double sums could pass
    2^53.

    Returns (group_col, q, n, quantile, *extra_names), NULLs excluded,
    one row per (group, q)."""
    from pyspark.sql import Window

    if not qs:
        raise ValueError("qs must be non-empty")
    g, v = F.col(group_col), F.col(value_col).cast("double")
    if pre_counted_col is not None:
        # NULL-value rows are kept and neutralized with CONDITIONAL sums
        # instead of a filter: a filter here would be pushed through the
        # caller's histogram aggregate down to the scan, making this
        # subtree differ from the caller's moments subtree and costing
        # the shared scan its ReusedExchange (measured r9: the filter
        # doubled agg_stats' FileScans).
        counted = df.select(
            g.alias("__g"),
            v.alias("__v"),
            F.col(pre_counted_col).cast("bigint").alias("__c"),
        )
        ccond = F.when(F.col("__v").isNotNull(), F.col("__c"))
    else:
        counted = (
            df.select(g.alias("__g"), v.alias("__v"))
            .filter(F.col("__v").isNotNull())
            .groupBy("__g", "__v")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        ccond = F.col("__c")
    wg = Window.partitionBy("__g")
    # inclusive cumulative count; NULL values sort first under asc so
    # they never shift a non-null value's position
    cum = F.sum(ccond).over(wg.orderBy("__v"))
    ntot = F.sum(ccond).over(wg)
    extras = extra_partition_aggs or {}
    reserved = {"q", "n", "quantile", group_col,
                "__g", "__v", "__c", "__cum", "__n", "__lo", "__frac",
                "__vlo", "__vhi"}
    bad = sorted(set(extras) & reserved)
    if bad:
        raise ValueError(
            f"extra_partition_aggs names collide with the helper's own "
            f"columns: {bad} (reserved: q, n, quantile, the group column, "
            f"and the __-prefixed internals)"
        )
    pos = counted.select(
        "__g",
        "__v",
        cum.alias("__cum"),
        ntot.alias("__n"),
        *[expr.over(wg).alias(name) for name, expr in extras.items()],
    )
    # quantile targets as an EXPLODED LITERAL ARRAY, not a
    # createDataFrame + broadcast crossJoin: the values are plan-time
    # literals, so materializing a 1-row relation through py4j (~0.3s
    # of driver time per call) and a BroadcastNestedLoopJoin stage buys
    # nothing — explode fans the same qs out inside the running stage
    qarr = F.array(*[F.lit(float(q)).cast("double") for q in qs])
    h = (F.col("__n") - F.lit(1)).cast("double") * F.col("q")
    tgt = pos.select("*", F.explode(qarr).alias("q")).select(
        "__g",
        "__v",
        "__cum",
        "__n",
        "q",
        (F.floor(h).cast("bigint") + 1).alias("__lo"),
        (h - F.floor(h)).alias("__frac"),
        *extras.keys(),
    )
    # the pos-th order statistic is the first value whose cumulative
    # count reaches pos: min(v | cum >= pos); extras are constant per
    # group (window aggregates), so max() just carries them through
    merged = tgt.groupBy("__g", "q").agg(
        F.max("__n").alias("__n"),
        F.max("__frac").alias("__frac"),
        F.min(F.when(F.col("__cum") >= F.col("__lo"), F.col("__v"))).alias("__vlo"),
        F.min(
            F.when(
                F.col("__cum") >= F.least(F.col("__lo") + 1, F.col("__n")),
                F.col("__v"),
            )
        ).alias("__vhi"),
        *[F.max(name).alias(name) for name in extras],
    )
    # a group whose values are ALL null has __n null: exclude it (the
    # NULLs-excluded contract); this filter sits on an aggregate output,
    # so it cannot be pushed below the histogram
    merged = merged.filter(F.col("__n").isNotNull())
    quant = F.col("__vlo") + F.col("__frac") * (F.col("__vhi") - F.col("__vlo"))
    if round_digits is not None:
        p10 = float(10 ** round_digits)
        quant = F.floor(quant * F.lit(p10) + F.lit(0.5)) / F.lit(p10)
    return merged.select(
        F.col("__g").alias(group_col),
        "q",
        F.col("__n").cast("bigint").alias("n"),
        quant.alias("quantile"),
        *extras.keys(),
    )


def grouped_exact_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    qs: list[float],
    round_digits: int | None = 6,
    broadcast_groups: bool = True,
) -> DataFrame:
    """EXACT per-group linear-interpolated quantiles (the quantile_cont /
    numpy type-7 definition: h = (n-1)q, result = v[floor(h)] +
    frac * (v[floor(h)+1] - v[floor(h)]) over the sorted group) WITHOUT
    per-group memory — the scale-correct replacement for Spark's
    ``percentile()`` aggregate, which buffers every value of a group in
    one executor and therefore caps group size at executor memory (fine
    for 5 event types, fatal when a group is 10% of 100 TB).

    Mechanism (the _exact_ntile pattern, per group): values are bucketed
    by 31 GLOBAL approxQuantile boundaries (32 ranges; data-derived literals — they
    only steer parallelism), row_number runs per (group, bucket), and
    per-(group, bucket) counts — one row per group x bucket, a relation
    the per-group offset window can rank in bounded time — shift local
    ranks to exact 1-based per-group positions. The two order statistics
    each quantile needs are fetched by an equi-join against the
    (group, q) target-position relation (O(groups x qs x 2) rows), and
    the interpolation is ONE mirrored double expression, so the result
    is bit-identical to a single-partition sort at any bucketing.

    Ties on value need no tiebreak: equal values may permute among
    neighboring positions, but the value AT a position is unchanged —
    the fetched order statistics are deterministic even though the
    row_number assignment is not.

    Returns (group_col, q, n, quantile) with NULL values excluded, one
    row per (group, q). ``round_digits`` floor-rounds the result for
    terminal/oracle output; pass None for the RAW double when a
    downstream computation consumes the quantile (rounding a consumed
    value is the round-3 trap).

    Group-cardinality contract: with ``broadcast_groups=True`` (default)
    the groups x buckets count table is COLLECTED (the kmeans
    k-row-collect shape) and the offset / order-statistic target
    relations become literal broadcasts — correct and fastest when the
    group column is low-cardinality (event types, languages, sources:
    the profile shape this operator serves), but that table grows
    linearly with group count and would OOM the driver/executors if the
    group key were e.g. a user id at 10^8 groups. For high-cardinality
    groups pass ``broadcast_groups=False``: everything stays
    distributed and the joins shuffle on (__g, __b) / (__g, __pos) —
    AQE still converts them back to broadcasts at runtime when the
    group side turns out small, so the flag caps the worst case without
    taxing the common one."""
    from pyspark.sql import Window

    from ..functions import range_bucket

    if not qs:
        raise ValueError("qs must be non-empty")
    g, v = F.col(group_col), F.col(value_col).cast("double")
    vals = df.select(g.alias("__g"), v.alias("__v")).filter(
        F.col("__v").isNotNull()
    )
    cuts = sorted(
        set(
            vals.approxQuantile(
                "__v", [i / 32 for i in range(1, 32)], 0.01
            )
        )
    )
    # coalesce makes __b NON-NULLABLE (it can't be null anyway: __v is
    # filtered non-null above). Without it, the equi/semi joins on __b
    # below make InferFiltersFromConstraints add `isnotnull(__b)`, which
    # PushDownPredicate then pushes BELOW this projection by SUBSTITUTING
    # __b's definition — inlining the caller's full value expression into
    # every one of the ~31 bucket comparisons inside one Filter. With an
    # expensive value expression (quality_median_gate's regex composite)
    # that single filter's generated processNext() grows past the JVM's
    # 64KB method limit and the whole stage silently falls back to
    # interpreted execution (the r11 sweep's one codegen fallback).
    bucketed = vals.withColumn(
        "__b", F.coalesce(range_bucket(F.col("__v"), cuts), F.lit(-1))
    )
    wl = Window.partitionBy("__g", "__b").orderBy("__v")
    if broadcast_groups:
        # Bounded-group fast path: the (group, bucket) count table is
        # <= groups x 32 rows by contract, so collect it ONCE
        # and derive the offset and order-statistic target relations
        # driver-side as literal broadcasts. Without this, each
        # broadcast subtree (offsets, lo, hi) re-executes the base
        # scan+aggregate — ~5 scans where one suffices (r8 profile:
        # 4.25s -> ~1s main job at sf0.1). Arithmetic is bit-identical
        # to the shuffle path below: counts are exact bigints and
        # h = (n-1)*q is the same IEEE double product whether Python
        # or the JVM evaluates it.
        import math
        from collections import defaultdict

        from pyspark.sql.types import (
            DoubleType,
            IntegerType,
            LongType,
            StringType,
            StructField,
            StructType,
        )

        g_type = vals.schema["__g"].dataType
        per_g: dict = defaultdict(list)
        brows = (
            bucketed.groupBy("__g", "__b")
            .agg(F.count(F.lit(1)).alias("__c"))
            .collect()
        )
        for r in brows:
            per_g[r["__g"]].append((r["__b"], r["__c"]))

        def locate(bl, pos):
            # (bucket, local rank) holding 1-based per-group position pos
            run = 0
            for b, c in bl:
                if pos <= run + c:
                    return b, pos - run
                run += c
            raise AssertionError("position past group count")

        tgt_rows = []
        for gv, bl in per_g.items():
            bl.sort()
            n = sum(c for _, c in bl)
            for q in qs:
                h = float(n - 1) * float(q)
                lo_i = int(math.floor(h))
                # Both order statistics of one q become tagged target
                # rows addressed by (bucket, LOCAL rank) — the exclusive
                # prefix offsets are applied HERE, driver-side, so the
                # probe needs no offset relation and, crucially, the
                # rank window below runs only over buckets that contain
                # a requested statistic (a broadcast semi-join drops the
                # rest at the scan): the sort shuffles ~2*qs/32
                # of the rows instead of all of them.
                for pos1, role in (
                    (lo_i + 1, "lo"),
                    (min(lo_i + 2, n), "hi"),
                ):
                    b, lp = locate(bl, pos1)
                    tgt_rows.append((gv, b, lp, float(q), n, h - lo_i, role))
        sess = vals.sparkSession
        targets_lit = sess.createDataFrame(
            tgt_rows,
            StructType(
                [
                    StructField("__g", g_type),
                    StructField("__b", IntegerType()),
                    StructField("__rn", IntegerType()),
                    StructField("q", DoubleType()),
                    StructField("__n", LongType()),
                    StructField("__frac", DoubleType()),
                    StructField("__role", StringType()),
                ]
            ),
        )
        tb = targets_lit.select("__g", "__b").distinct()
        hot = bucketed.join(F.broadcast(tb), ["__g", "__b"], "left_semi")
        ranked = hot.withColumn("__rn", F.row_number().over(wl))
        hits = ranked.join(F.broadcast(targets_lit), ["__g", "__b", "__rn"])
        merged = hits.groupBy("__g", "q").agg(
            F.max("__n").alias("__n"),
            F.max("__frac").alias("__frac"),
            F.max(F.when(F.col("__role") == "lo", F.col("__v"))).alias("__vlo"),
            F.max(F.when(F.col("__role") == "hi", F.col("__v"))).alias("__vhi"),
        )
    else:
        # High-cardinality path: everything stays distributed (shuffle
        # joins on (__g, __b) / (__g, __pos)); AQE re-broadcasts at
        # runtime if the group side turns out small.
        local = bucketed.withColumn("__rn", F.row_number().over(wl))
        bcounts = bucketed.groupBy("__g", "__b").agg(
            F.count(F.lit(1)).alias("__c")
        )
        # per-group exclusive prefix over <= 32 bucket rows per group
        wo = (
            Window.partitionBy("__g")
            .orderBy("__b")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        offsets = bcounts.withColumn(
            "__off", F.coalesce(F.sum("__c").over(wo), F.lit(0))
        )
        pos = local.join(
            offsets.select("__g", "__b", "__off"), ["__g", "__b"]
        ).select("__g", "__v", (F.col("__rn") + F.col("__off")).alias("__pos"))
        ns = bcounts.groupBy("__g").agg(F.sum("__c").alias("__n"))
        qdf = vals.sparkSession.createDataFrame(
            [(float(q),) for q in qs], "q double"
        )
        h = (F.col("__n") - F.lit(1)).cast("double") * F.col("q")
        targets = ns.crossJoin(F.broadcast(qdf)).select(
            "__g",
            "q",
            "__n",
            F.floor(h).cast("bigint").alias("__lo"),
            (h - F.floor(h)).alias("__frac"),
        )
        lo = targets.select(
            "__g", "q", "__n", "__frac", (F.col("__lo") + 1).alias("__pos")
        )
        hi = targets.select(
            "__g",
            "q",
            F.least(F.col("__lo") + 2, F.col("__n")).alias("__pos"),
        )
        vlo = pos.join(lo, ["__g", "__pos"]).select(
            "__g", "q", "__n", "__frac", F.col("__v").alias("__vlo")
        )
        vhi = pos.join(hi, ["__g", "__pos"]).select(
            "__g", "q", F.col("__v").alias("__vhi")
        )
        merged = vlo.join(vhi, ["__g", "q"])
    quant = F.col("__vlo") + F.col("__frac") * (F.col("__vhi") - F.col("__vlo"))
    if round_digits is not None:
        p10 = float(10 ** round_digits)
        quant = F.floor(quant * F.lit(p10) + F.lit(0.5)) / F.lit(p10)
    return merged.select(
        F.col("__g").alias(group_col),
        "q",
        F.col("__n").cast("bigint").alias("n"),
        quant.alias("quantile"),
    )
