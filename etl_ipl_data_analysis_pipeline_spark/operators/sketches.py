"""Mergeable distinct-count sketches (Datasketches HLL, Spark 3.5+
built-ins).

operators/incremental.py maintains decomposable aggregates (count/sum/
min/max) as rollup state; distinct count is the one headline aggregate
that is NOT decomposable — exact countDistinct over a 100 TB history is a
full rescan per question. The HLL sketch closes that gap: per-partition
(e.g. per-day) binary sketch state is O(2^lg_k) bytes, merges
associatively via hll_union_agg, and answers any date-range distinct
question as a union of partials with bounded relative error — never
touching history again.

All sketch work stays JVM-side (hll_sketch_agg / hll_union_agg /
hll_sketch_estimate are codegen'd built-ins); estimates are deterministic
for a given input SET (the underlying register updates are hash-based and
order-independent), so rows-only driver checks are stable across runs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

STATE_COL = "hll_state"


def sketch_distinct(df: DataFrame, keys: list[str], col: str) -> DataFrame:
    """Partial-aggregate one partition of history into per-key HLL state
    (lg_k=12 => 4 KiB registers, ~1.6% standard error). This is the
    write-path of the rollup: run it per batch/day, append to the summary
    table."""
    return df.groupBy(*keys).agg(F.hll_sketch_agg(col, 12).alias(STATE_COL))


def merge_sketch_rollup(summary: DataFrame, keys: list[str]) -> DataFrame:
    """Re-aggregate sketch state to a coarser grain (or to one global row
    when ``keys`` is empty): union partials without rescanning the base
    table. Shuffles O(groups * 2^lg_k) bytes, never O(history)."""
    agg = F.hll_union_agg(STATE_COL).alias(STATE_COL)
    return summary.groupBy(*keys).agg(agg) if keys else summary.agg(agg)


def estimate_distinct(summary: DataFrame, out_col: str = "est_distinct") -> DataFrame:
    """Materialize the estimate and drop the binary state (array columns
    can't cross the driver-canon boundary; the estimate is a bigint)."""
    return summary.withColumn(
        out_col, F.hll_sketch_estimate(STATE_COL)
    ).drop(STATE_COL)


# ---------------------------------------------------------------------------
# Count-min sketch: mergeable frequency estimation (the counting twin of the
# HLL distinct rollup above). The sketch is a RELATION of (j, bucket, cnt)
# cells — d hash rows x w buckets, at most d*w rows however large the input —
# so "merge" is a union + re-sum and the whole structure shuffles O(d*w),
# never O(history). Hashes derive from md5 (not xxhash64) because the oracle
# engine computes the identical digest, which puts sketch build AND estimate
# under the exact-hash gate — rare for a sketch.

CMS_D = 4
CMS_W = 1024


def _cms_bucket(item, j: int, w: int):
    """Row ``j``'s bucket: 16 md5 bits of ``item ':' j`` mod ``w``.
    Identical in the oracle: ('0x' || substr(md5(item || ':j'), 1, 4))::BIGINT % w."""
    s = F.concat(item.cast("string"), F.lit(f":{j}"))
    return F.conv(F.substring(F.md5(s), 1, 4), 16, 10).cast("long") % w


def cms_build(df: DataFrame, col) -> DataFrame:
    """Build the sketch: explode each occurrence into its CMS_D cells (a narrow
    d-times fanout, no data movement), then one partial+final count per
    cell. Output is at most CMS_D*CMS_W rows regardless of input size."""
    item = F.col(col) if isinstance(col, str) else col
    cells = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"), _cms_bucket(item, j, CMS_W).alias("bucket")
                    )
                    for j in range(CMS_D)
                ]
            )
        ).alias("c")
    )
    return cells.groupBy(
        F.col("c.j").alias("j"), F.col("c.bucket").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("cnt"))


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Union partial sketches (per-day, per-source, per-batch) into one:
    cell-wise sum. Associative and commutative, like hll_union_agg."""
    it = iter(sketches)
    u = next(it)
    for s in it:
        u = u.unionByName(s)
    return u.groupBy("j", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(sketch: DataFrame, probes: DataFrame, col) -> DataFrame:
    """Point-estimate each probe item: min over its CMS_D cells (the classic
    count-min upper bound — never under the true count, over only when all
    its buckets collide with other items). The sketch is <= CMS_D*CMS_W rows by
    construction, so it broadcasts; the probe side streams map-side."""
    item = F.col(col) if isinstance(col, str) else col
    ph = probes.select(
        item.alias("__item"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"), _cms_bucket(item, j, CMS_W).alias("bucket")
                    )
                    for j in range(CMS_D)
                ]
            )
        ).alias("c"),
    ).select("__item", "c.j", "c.bucket")
    joined = ph.join(F.broadcast(sketch), ["j", "bucket"], "left")
    return joined.groupBy("__item").agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_cnt")
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values / bottom-k) distinct sketch: the third mergeable
# sketch, trading HLL's tighter memory for an EXACTLY REPRODUCIBLE estimate.
# The sketch is the k smallest md5-derived 60-bit hashes of the distinct
# keys — a deterministic SET, so build, merge, AND the (k-1)*H/h_k estimate
# are bit-identical across engines and the whole pipeline sits under the
# exact-hash oracle gate (like the count-min above, unlike HLL). Merge is
# union -> distinct -> re-take bottom k: associative and commutative, and
# state is at most k rows per group however large the input.

KMV_K = 64
# hash domain: first 15 md5 hex digits = 60 uniform bits; 16^15 = 2^60 is
# exactly representable in double, so the estimate arithmetic is exact-IEEE
# identical in any engine that computes the same md5
KMV_MAX_H = float(16**15)


def _kmv_hash(item) -> "F.Column":
    """60-bit uniform hash. Oracle twin:
    ('0x' || substr(md5(CAST(x AS VARCHAR)), 1, 15))::BIGINT."""
    return F.conv(F.substring(F.md5(item.cast("string")), 1, 15), 16, 10).cast(
        "long"
    )


def kmv_build(df: DataFrame, col: str, keys: list[str] | None = None) -> DataFrame:
    """Per-key bottom-k distinct hashes (columns: *keys, hv). The distinct
    collapses duplicates partially map-side; the bottom-k is a window
    row_number per group (k small => tiny post-shuffle state), or a global
    TakeOrdered when ungrouped. This is the write-path partial: run per
    batch/day/source, persist <= k rows per group."""
    from pyspark.sql import Window

    keys = list(keys or [])
    h = df.select(*keys, _kmv_hash(F.col(col)).alias("hv")).distinct()
    if not keys:
        return h.orderBy("hv").limit(KMV_K)
    w = Window.partitionBy(*keys).orderBy("hv")
    return (
        h.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= KMV_K)
        .drop("__rn")
    )


def kmv_merge(sketches_: list[DataFrame], keys: list[str] | None = None) -> DataFrame:
    """Union partial sketches and re-take the bottom k per group — the
    result is IDENTICAL to building on the unioned raw inputs (bottom-k of
    a union is the bottom-k of the union of bottom-k's), which
    tests/test_sketches.py asserts row-for-row."""
    from pyspark.sql import Window

    keys = list(keys or [])
    it = iter(sketches_)
    u = next(it)
    for s_ in it:
        u = u.unionByName(s_)
    u = u.distinct()
    if not keys:
        return u.orderBy("hv").limit(KMV_K)
    w = Window.partitionBy(*keys).orderBy("hv")
    return (
        u.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= KMV_K)
        .drop("__rn")
    )


def kmv_estimate(sketch: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Distinct estimate per group: (k-1) * H / h_(k) when the sketch is
    full, else the sketch size itself (it saw every distinct value). The
    half-up rounding is floor(x*100+0.5)/100 — NOT round() — because
    round(double) diverges between engines on boundary-dense values."""
    keys = list(keys or [])
    gb = sketch.groupBy(*keys) if keys else sketch.groupBy()
    agg = gb.agg(
        F.count(F.lit(1)).alias("sketch_size"), F.max("hv").alias("__mx")
    )
    raw = F.when(
        F.col("sketch_size") < KMV_K, F.col("sketch_size").cast("double")
    ).otherwise(
        F.lit(float(KMV_K - 1)) * F.lit(KMV_MAX_H) / F.col("__mx").cast("double")
    )
    return agg.withColumn(
        "est_distinct", F.floor(raw * 100 + F.lit(0.5)) / 100
    ).drop("__mx")


def kmv_intersect_estimate(a: DataFrame, b: DataFrame) -> DataFrame:
    """Theta-style intersection estimate from two ungrouped KMV sketches
    (columns: hv) — audience overlap WITHOUT an exact distinct over
    either side, the set-algebra completion of build/merge/estimate.

    theta is each sketch's retention threshold: its k-th smallest hash
    when full, else the domain max 2^60 (a partial sketch saw every
    value). Below theta = min(theta_a, theta_b) BOTH sketches retain
    every hash they ever saw, so {h in A cap B : h < theta} is an exact
    sample of the true intersection at sampling rate theta/2^60, and
    est = n_common * 2^60 / theta. When both sketches are partial
    (theta = 2^60) the estimate IS the exact intersection count. The
    strict < matters: a hash equal to theta is retained by one sketch
    but possibly evicted by the other.

    Determinism: the md5-derived sketch state makes theta, the common
    set, and the single double division pure functions of the inputs —
    the estimate itself sits under the exact cross-engine gate. Inputs
    are <= k rows each, so every join here is broadcast-trivial; the
    heavy lifting (one distinct + bottom-k per side) happened in
    kmv_build.

    Accuracy: relative standard error ~ 1/sqrt(n_common) <= 1/sqrt(k)
    — KMV_K=64 gives ~12% RSE (the kmv_user_overlap query shows ~30% on one
    draw at sf0.1, within 2.5 sigma), k=1024 ~3%. The state stays O(k)
    rows regardless of input cardinality.
    """
    max_h = 16**15  # 2^60, the _kmv_hash domain bound
    sa = a.agg(
        F.count(F.lit(1)).alias("n_a"),
        F.coalesce(
            F.when(F.count(F.lit(1)) >= KMV_K, F.max("hv")), F.lit(max_h)
        ).alias("__ta"),
    )
    sb = b.agg(
        F.count(F.lit(1)).alias("n_b"),
        F.coalesce(
            F.when(F.count(F.lit(1)) >= KMV_K, F.max("hv")), F.lit(max_h)
        ).alias("__tb"),
    )
    common = (
        a.select("hv")
        .join(b.select("hv"), "hv")
        .crossJoin(F.broadcast(sa.select("__ta")))
        .crossJoin(F.broadcast(sb.select("__tb")))
        .filter(F.col("hv") < F.least("__ta", "__tb"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    est = (
        F.col("n_common").cast("double")
        * F.lit(KMV_MAX_H)
        / F.least("__ta", "__tb").cast("double")
    )
    return (
        sa.crossJoin(F.broadcast(sb))
        .crossJoin(F.broadcast(common))
        .select(
            "n_a",
            "n_b",
            "n_common",
            (F.floor(est * 100 + F.lit(0.5)) / 100).alias("est_intersect"),
        )
    )
