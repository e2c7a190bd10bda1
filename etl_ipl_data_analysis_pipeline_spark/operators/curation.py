"""Training-data curation operators: deterministic splits, mixture /
stratified sampling, repetition quality signals, PII redaction, benchmark
decontamination, and token-budget shard packing.

These are the corpus-preparation steps a large-scale LLM data pipeline
runs between "raw deduped documents" and "training shards". Everything is
built from JVM-side column expressions (no Python UDFs) and every operator
is deterministic — re-running a split or a sample on the same corpus gives
byte-identical output, which is what makes incremental re-curation and
cross-engine verification possible.

Determinism discipline: anything random-looking (splits, samples) is
keyed on ``md5(key)`` — both Spark and DuckDB produce identical lowercase
hex md5, so each operator has an exact ANSI-SQL oracle twin. Fractions are
mapped to 8-hex-digit threshold strings (2^-32 resolution) compared
lexicographically, which every engine orders the same way.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from ..functions import range_bucket
from .dedup import tokens


def hex_threshold(frac: float) -> str:
    """Map a fraction of the hash space to an 8-hex-digit threshold string:
    a uniformly-hashed key falls below it with probability ``frac`` (to
    2^-32). Shared by the Spark operators and their SQL oracle twins.

    frac >= 1.0 returns ``"g"`` — lexicographically above every hex digit,
    so ``bucket < threshold`` is ALWAYS true. Clamping to ``"ffffffff"``
    instead would silently drop the ~1-in-2^32 rows whose bucket equals the
    max value from a keep-everything group (real documents at 10^10-doc
    scale)."""
    if frac >= 1.0:
        return "g"
    return format(min(int(frac * 16**8), 16**8 - 1), "08x")


def _hash_bucket(key, salt: str = "") -> Column:
    """First 8 hex chars of md5(key || salt) — the deterministic 'random'
    draw every curation decision is keyed on. Identical in DuckDB:
    substr(md5(CAST(k AS VARCHAR) || salt), 1, 8)."""
    key = F.col(key) if isinstance(key, str) else key
    return F.substring(F.md5(F.concat(key.cast("string"), F.lit(salt))), 1, 8)


def hash_split(
    df: DataFrame,
    key_col: str,
    splits: Sequence[tuple[str, float]],
    salt: str = "",
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment by hashed key.

    Each row lands in exactly one named split with probability equal to its
    fraction (fractions must sum to ~1; the LAST split absorbs rounding).
    Membership depends only on (key, salt) — stable across runs, engines,
    partitionings, and corpus growth: adding documents never moves an
    existing document between splits, which is the property that keeps a
    held-out set held out as the corpus is re-crawled.

    Scale: one narrow projection, no shuffle, no state. ``salt`` gives
    independent re-draws (e.g. per-epoch subsampling) without touching data.
    """
    if len(splits) < 1:
        raise ValueError("need at least one split")
    bucket = _hash_bucket(key_col, salt)
    expr = F.lit(splits[-1][0])  # last split takes the remainder
    cum = 0.0
    thresholds = []
    for name, frac in splits[:-1]:
        cum += frac
        thresholds.append((name, hex_threshold(cum)))
    for name, thr in reversed(thresholds):
        expr = F.when(bucket < thr, F.lit(name)).otherwise(expr)
    return df.withColumn(out_col, expr)


def weighted_group_split(
    df: DataFrame,
    group_col: str,
    weight_col: str,
    splits: Sequence[tuple[str, float]],
    out_col: str = "split",
    num_ranges: int = 0,
) -> DataFrame:
    """Weight-aware group-disjoint splitting: every row of a group lands in
    the same split (the leakage-safety property of hash_split on a group
    key), AND the split WEIGHT fractions track the targets even when group
    sizes are wildly unbalanced — the case plain group-hashing gets wrong
    (hashing assigns 80% of GROUPS to train; one giant group is 60% of the
    tokens wherever it lands).

    Mechanism: per-group weights, groups ordered by md5(group) (group
    as tiebreak — a deterministic shuffle), exclusive running weight over
    that order, and each group assigned to the split whose cumulative
    target interval contains its running-weight START. This "cut the
    weighted line at the target quantiles" assignment is the parallel
    formulation of greedy packing: each split's weight share misses its
    target by at most the one group straddling its boundary, the same
    bound a sequential largest-first greedy pack gives, without the
    sequential state that can't be expressed as a plan. Trade-off vs
    hash_split, documented not hidden: re-running on a GROWN corpus can
    move a group between splits (the cumulative line shifts), so pin the
    assignment table per corpus snapshot when hold-out stability matters.

    Scale: one shuffle to build the group-weight relation (map-side
    partial agg), then the exclusive running weight over the md5 order.
    With ``num_ranges=0`` (default) that is a window over the bounded
    group relation — #groups rows (crawl sources, domains: orders of
    magnitude smaller than the corpus) on one reducer, same bounded
    shape as pack_token_shards' offsets table. For 10^6+ groups pass
    ``num_ranges>1``: groups are bucketed by a monotone prefix of the
    md5 sort key (order-aligned ranges, no boundary collect needed —
    the hash is uniform by construction), cum-summed within buckets,
    and shifted by broadcast per-bucket offsets, the pack_token_shards
    pattern — no single-partition window anywhere. The two paths are
    row-identical whenever weight sums are order-independent (integer /
    decimal weights — the token-count case); for raw double weights
    keep num_ranges=0, since re-associating a double sum can move a
    group across a cut point. Float discipline: the cut points are
    Python-float cumulative fractions embedded identically in the SQL
    oracle twin (repr round-trip), so 0.8 + 0.1 != 0.9 can't flip a
    boundary between engines."""
    if len(splits) < 1:
        raise ValueError("need at least one split")
    gw = df.groupBy(group_col).agg(F.sum(weight_col).alias("__w"))
    order_key = _hash_bucket(group_col)
    if num_ranges > 1:
        # first 4 hex chars read as an int: monotone in the lexicographic
        # order of the fixed-width lowercase hash, so buckets are
        # contiguous ranges of the sort order; ties on the FULL hash
        # share a prefix, hence a bucket
        prefix = F.conv(F.substring(order_key, 1, 4), 16, 10).cast("long")
        bucket = F.floor(prefix * num_ranges / F.lit(65536)).cast("long")
        gwb = gw.withColumn("__b", bucket)
        w_in = (
            Window.partitionBy("__b")
            .orderBy(order_key, F.col(group_col))
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        w_off = (
            Window.partitionBy(F.lit(0))
            .orderBy("__b")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        offsets = (
            gwb.groupBy("__b")
            .agg(F.sum("__w").alias("__bw"))
            .select(
                "__b",
                F.coalesce(F.sum("__bw").over(w_off), F.lit(0)).alias("__off"),
                F.sum("__bw").over(Window.partitionBy(F.lit(0))).alias("__tot"),
            )
        )
        asg = (
            gwb.withColumn(
                "__cum_in", F.coalesce(F.sum("__w").over(w_in), F.lit(0))
            )
            .join(F.broadcast(offsets), "__b")
            .select(
                group_col,
                (F.col("__off") + F.col("__cum_in")).alias("__cum"),
                "__tot",
            )
        )
    else:
        w_cum = (
            Window.partitionBy(F.lit(0))
            .orderBy(order_key, F.col(group_col))
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        w_tot = Window.partitionBy(F.lit(0))
        asg = gw.select(
            group_col,
            F.coalesce(F.sum("__w").over(w_cum), F.lit(0)).alias("__cum"),
            F.sum("__w").over(w_tot).alias("__tot"),
        )
    expr = F.lit(splits[-1][0])  # last split takes the remainder
    cuts = []
    cum = 0.0
    for name, frac in splits[:-1]:
        cum += frac
        cuts.append((name, cum))
    for name, c in reversed(cuts):
        expr = F.when(
            F.col("__cum") < F.lit(c) * F.col("__tot"), F.lit(name)
        ).otherwise(expr)
    assignment = asg.select(group_col, expr.alias(out_col))
    return df.join(F.broadcast(assignment), group_col)


def split_cuts(splits: Sequence[tuple[str, float]]) -> list[tuple[str, float]]:
    """The cumulative cut points weighted_group_split compares against,
    exposed so SQL oracle twins embed the IDENTICAL Python floats
    (0.8 + 0.1 is 0.9000000000000001, not 0.9)."""
    cuts, cum = [], 0.0
    for name, frac in splits[:-1]:
        cum += frac
        cuts.append((name, cum))
    return cuts


def mixture_sample(
    df: DataFrame,
    key_col: str,
    group_col: str,
    fractions: dict[str, float],
    default: float = 0.0,
) -> DataFrame:
    """Per-group deterministic downsampling to target mixture weights.

    Keeps each row iff its hash bucket falls below the group's fraction —
    the way a pretraining mix is rebalanced (e.g. keep 100% of en, 40% of
    each other language). Groups absent from ``fractions`` get ``default``.

    Scale: narrow filter, no shuffle. For thousands of groups, swap the
    literal CASE chain for a broadcast join against a (group, threshold)
    dim — same semantics, same determinism.
    """
    bucket = _hash_bucket(key_col)
    thr = F.lit(hex_threshold(default))
    for g, frac in sorted(fractions.items()):
        thr = F.when(F.col(group_col) == g, F.lit(hex_threshold(frac))).otherwise(thr)
    return df.filter(bucket < thr)


def stratified_sample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    n_per_group: int,
) -> DataFrame:
    """Exactly-N-per-group deterministic sample: rank rows within each
    group by md5(key) (key itself as tiebreak) and keep the first N. Unlike
    fraction sampling this guarantees the per-group count (up to group
    size), which is what evaluation-set construction wants.

    Scale: one shuffle on the group key; the per-group sort is the standard
    window top-N (no global sort). Skewed groups bound the reducer — for a
    single giant group use the partial-top-N pattern from similarity.topk.
    """
    w = Window.partitionBy(group_col).orderBy(
        _hash_bucket(key_col), F.col(key_col)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_per_group)
        .drop("__rn")
    )


def _contiguous_grams(toks, n: int) -> Column:
    """ALL contiguous word n-grams (with multiplicity — unlike
    dedup.shingles_from_tokens which dedupes) as an array<string> column.
    ``toks`` must be a materialized column, not an inline expression: HOF
    lambdas are interpreted, so an embedded tokenizer would be re-evaluated
    per gram (see the measured 30x note on shingles_from_tokens)."""
    toks = F.col(toks) if isinstance(toks, str) else toks
    k = F.size(toks) - (n - 1)
    return F.when(k <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
    )


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style within-document repetition signals:

    - ``n_lines`` / ``dup_line_frac``: newline-split lines; fraction that
      are repeats of an earlier line ((n - n_distinct) / n).
    - ``dup_token_frac``: same over whitespace tokens — word-salad /
      boilerplate detector.
    - ``top_bigram_frac`` / ``top_trigram_frac``: fraction of all n-gram
      occurrences taken by the single most frequent n-gram — high values
      mean looping text ("batch batch batch").

    Scale: line/token fractions are pure per-row expressions (no shuffle).
    The two n-gram fractions each explode grams and aggregate on
    (id, gram) then (id) — shuffles keyed by doc id with map-side partial
    aggregation; gram strings never leave their doc's group, so reducer
    load is bounded by document length, not corpus size.
    """
    idc = F.col(id_col)
    base = df.select(
        idc, F.col(text_col).alias("__text"), tokens(text_col).alias("__toks")
    ).select(
        idc,
        "__text",
        F.filter("__toks", lambda t: t != F.lit("")).alias("__toks"),
    )

    lines = F.filter(F.split(F.col("__text"), "\n"), lambda x: x != F.lit(""))
    nl, nt = F.size(lines), F.size(F.col("__toks"))
    expr_stats = base.select(
        idc,
        nl.alias("n_lines"),
        F.round(
            (nl - F.size(F.array_distinct(lines)))
            / F.greatest(nl, F.lit(1)).cast("double"),
            4,
        ).alias("dup_line_frac"),
        nt.alias("n_tokens"),
        F.round(
            (nt - F.size(F.array_distinct(F.col("__toks"))))
            / F.greatest(nt, F.lit(1)).cast("double"),
            4,
        ).alias("dup_token_frac"),
    )

    def top_gram_frac(n: int, out: str) -> DataFrame:
        grams = base.select(
            idc, F.explode(_contiguous_grams("__toks", n)).alias("__g")
        )
        per_gram = grams.groupBy(idc, "__g").agg(F.count(F.lit(1)).alias("__c"))
        return per_gram.groupBy(idc).agg(
            F.round(
                F.max("__c") / F.sum("__c").cast("double"), 4
            ).alias(out)
        )

    out = (
        expr_stats.join(top_gram_frac(2, "top_bigram_frac"), id_col, "left")
        .join(top_gram_frac(3, "top_trigram_frac"), id_col, "left")
        .select(
            id_col,
            "n_lines",
            "dup_line_frac",
            "n_tokens",
            "dup_token_frac",
            F.coalesce("top_bigram_frac", F.lit(0.0)).alias("top_bigram_frac"),
            F.coalesce("top_trigram_frac", F.lit(0.0)).alias("top_trigram_frac"),
        )
    )
    return out


# Character classes and quantifiers only — Java regex (Spark) and RE2
# (DuckDB) interpret these identically, so counts and replacements are
# oracle-checkable. Order matters: emails before phones (an email's digits
# must not be half-eaten by the phone pattern).
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"
PII_PHONE = r"\+[0-9]{7,15}"


def redact_pii(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Detect and redact emails, IPv4 addresses, and +-prefixed phone
    numbers: per-doc match counts plus the text with each match replaced by
    a typed placeholder. One narrow JVM-side pass (regexp_count +
    regexp_replace), no shuffle, no UDF — at 100 TB this runs at scan
    speed. Patterns are deliberately conservative (high precision): corpus
    scrubbing wants no false redactions of ordinary text."""
    text = F.col(text_col)
    clean = F.regexp_replace(text, PII_EMAIL, "<EMAIL>")
    clean = F.regexp_replace(clean, PII_IPV4, "<IP>")
    clean = F.regexp_replace(clean, PII_PHONE, "<PHONE>")
    return df.select(
        F.col(id_col),
        F.regexp_count(text, F.lit(PII_EMAIL)).alias("n_emails"),
        F.regexp_count(text, F.lit(PII_IPV4)).alias("n_ipv4"),
        F.regexp_count(text, F.lit(PII_PHONE)).alias("n_phones"),
        clean.alias("clean_text"),
    )


def ngram_overlap(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: for every corpus document, count how many
    of its distinct word n-grams also appear in the benchmark set, plus a
    ``contaminated`` flag (any overlap). The standard n-gram membership
    check run before training to drop eval-set leaks.

    Scale: both sides reduce to DISTINCT (doc, gram) / (gram) sets before
    the join — gram multiplicity never inflates the shuffle. The benchmark
    gram set is tiny relative to the corpus (eval suites are small), so
    Spark's planner broadcasts it; the corpus side then never shuffles at
    all. Every corpus doc is preserved via the final left join (n_shared
    0 for clean docs).
    """
    def grams(df: DataFrame, keep_id: bool):
        g = df.select(
            F.col(id_col), tokens(text_col).alias("__toks")
        ).select(
            F.col(id_col),
            F.explode(F.array_distinct(_contiguous_grams("__toks", n))).alias("gram"),
        )
        return g if keep_id else g.select("gram").distinct()

    bench_grams = grams(bench, keep_id=False)
    shared = (
        grams(corpus, keep_id=True)
        .join(F.broadcast(bench_grams), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        corpus.select(id_col)
        .join(shared, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
            (F.coalesce("n_shared", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def pack_token_shards(
    df: DataFrame,
    id_col: str,
    token_col: str,
    budget: int,
    num_ranges: int = 32,
) -> DataFrame:
    """Assign documents (in deterministic ``id_col`` order) to training
    shards of ~``budget`` tokens: shard k holds the docs whose running
    token count (exclusive of self) lies in [k*budget, (k+1)*budget).

    The global running sum is computed WITHOUT a single-partition window
    (the naive ``Window.orderBy(id)`` funnels 100 TB through one reducer):
    rows are bucketed into id ranges by approxQuantile boundaries (a cheap
    sampled scan), cum-summed within each bucket, then shifted by the
    bucket's prefix offset — one row per bucket, broadcast back. The
    bucket expression is DATA-derived, so the per-bucket window's exchange
    is the ONLY full shuffle (a repartitionByRange + spark_partition_id
    formulation costs a second one: the window can't see that pids align
    with the range exchange). Boundaries only steer parallelism — integer
    sums make the result exactly the global cumsum for ANY bucketing.
    """
    idc = F.col(id_col)
    cuts = sorted(
        set(
            df.approxQuantile(
                id_col, [i / num_ranges for i in range(1, num_ranges)], 0.001
            )
        )
    )
    bucketed = df.withColumn("__b", range_bucket(idc, cuts))

    w_in = (
        Window.partitionBy("__b")
        .orderBy(idc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_cum = bucketed.withColumn("__cum_in", F.sum(token_col).over(w_in))

    # one row per bucket — windowing this on a single partition is fine
    w_off = (
        Window.partitionBy(F.lit(0))
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        bucketed.groupBy("__b")
        .agg(F.sum(token_col).alias("__ptot"))
        .withColumn("__off", F.coalesce(F.sum("__ptot").over(w_off), F.lit(0)))
        .select("__b", "__off")
    )
    return (
        with_cum.join(F.broadcast(offsets), "__b")
        .select(
            idc,
            F.col(token_col).alias("n_tokens"),
            (F.col("__off") + F.col("__cum_in") - F.col(token_col)).alias(
                "cum_tokens_before"
            ),
            F.floor(
                (F.col("__off") + F.col("__cum_in") - F.col(token_col))
                / F.lit(budget)
            ).alias("shard"),
        )
    )


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col,
) -> DataFrame:
    """Per-ROW deterministic importance sampling: keep each row with
    probability equal to its own ``weight_col`` value (clamped to [0, 1])
    — quality-weighted corpus downsampling, where a 0.9-quality document
    survives 9x as often as a 0.1 one.

    mixture_sample keys the threshold on a GROUP; here it is computed per
    row, so the comparison is integer-vs-integer: the first 8 hex chars
    of md5(key) read as a uint32 draw against floor(w * 2^32).
    Membership still depends only on (key, weight) — stable across
    runs, engines, and partitionings. DuckDB twin:
    CAST(('0x' || substr(md5(...), 1, 8)) AS UBIGINT)
      < floor(least(greatest(w, 0), 1) * 4294967296).
    Scale: narrow filter, no shuffle, no state."""
    weight = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    draw = F.conv(_hash_bucket(key_col), 16, 10).cast("bigint")
    thr = F.floor(
        F.least(F.greatest(weight, F.lit(0.0)), F.lit(1.0)) * F.lit(4294967296.0)
    )
    return df.filter(draw < thr)


def negative_samples(
    df: DataFrame,
    id_col: str,
    k: int = 3,
    num_ranges: int = 32,
    group_col: str | None = None,
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: pair
    every row with ``k`` pseudo-random OTHER rows of the corpus — or,
    with ``group_col``, of the row's OWN group (stratified "hard-ish"
    negatives: same language/domain/source) — as a pure function of
    (ids, k), reproducible across runs, engines and cluster
    sizes, so the pair set itself sits under the exact cross-engine
    gate.

    Mechanism (no cartesian anywhere): every row gets its exact 0-based
    position p under the ``id_col`` order (within its group when
    stratified) via the range-bucket pattern — approxQuantile id
    boundaries -> per-(group, bucket) row_number -> broadcast prefix
    offsets, the pack_token_shards / layout ntile machinery; boundaries
    steer parallelism, never the result, and sub-bucketing inside each
    group keeps a 100 TB-dominant group from pinning one reducer. Draw
    j of a row is the md5-derived 60-bit value of (id ':' j)
    modulo N-1 (its draw-domain size minus self), shifted up by one
    when >= p — uniform over the positions that are not the row's own
    up to the negligible modulo bias of reducing a 2^60 draw domain
    (<= (N-1)/2^60 per position). Targets resolve back to ids with ONE
    narrow join on
    (group, position). Groups with fewer than 2 rows yield no pairs.
    ``id_col`` must be numeric (the boundary sketch is approxQuantile —
    same contract as the Z-order ranks); hash string ids upstream. Ids
    must also be UNIQUE within their group: a duplicate id makes the
    position window's tie order — and hence the pairing — partitioning-
    dependent, the same uniqueness contract as the Z-order tiebreak.
    The broadcast offsets relation is (#groups x num_ranges) rows —
    bounded like split_group_weighted's; for 10^6+ groups swap the
    prefix window for the distributed cumsum, same as there.

    Returns (anchor_id[, group_col], j, neg_id), k rows per anchor.
    """
    idc = F.col(id_col)
    grp = [group_col] if group_col else []
    gsel = [F.col(group_col).alias("__g")] if group_col else []
    gkey = ["__g"] if group_col else []
    probs = [i / num_ranges for i in range(1, num_ranges)]
    cuts = sorted(set(df.approxQuantile(id_col, probs, 0.01))) if probs else []
    bucketed = df.select(
        *gsel, idc.alias("__id"), range_bucket(idc, cuts).alias("__b")
    )

    w_in = Window.partitionBy(*gkey, "__b").orderBy(F.col("__id").asc())
    with_rn = bucketed.withColumn("__rn", F.row_number().over(w_in))
    w_grp = (
        Window.partitionBy(*gkey) if group_col else Window.partitionBy(F.lit(0))
    )
    w_off = w_grp.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    # one row per (group, bucket): exclusive prefix counts + group total
    offsets = (
        bucketed.groupBy(*gkey, "__b")
        .agg(F.count(F.lit(1)).alias("__c"))
        .select(
            *gkey,
            "__b",
            F.coalesce(F.sum("__c").over(w_off), F.lit(0)).alias("__off"),
            F.sum("__c").over(w_grp).alias("__n"),
        )
    )
    pos = (
        with_rn.join(F.broadcast(offsets), [*gkey, "__b"])
        .select(
            *gkey,
            "__id",
            (F.col("__off") + F.col("__rn") - 1).alias("__p"),
            "__n",
        )
    )

    drawn = (
        pos.filter(F.col("__n") > 1)
        .select(
            *gkey,
            "__id",
            "__p",
            "__n",
            F.explode(F.array(*[F.lit(j) for j in range(k)])).alias("j"),
        )
        .withColumn(
            "__t",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("__id").cast("string"),
                            F.lit(":"),
                            F.col("j").cast("string"),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % (F.col("__n") - 1),
        )
        .select(
            *gkey,
            F.col("__id").alias("anchor_id"),
            "j",
            F.when(F.col("__t") >= F.col("__p"), F.col("__t") + 1)
            .otherwise(F.col("__t"))
            .alias("__tp"),
        )
    )
    out = drawn.join(
        pos.select(
            *gkey, F.col("__p").alias("__tp"), F.col("__id").alias("neg_id")
        ),
        [*gkey, "__tp"],
    )
    if group_col:
        return out.select(
            "anchor_id", F.col("__g").alias(group_col), "j", "neg_id"
        )
    return out.select("anchor_id", "j", "neg_id")


def chunk_sliding(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    window: int = 16,
    stride: int = 8,
) -> DataFrame:
    """Sliding-window token chunking — the document->passage step every
    RAG indexing / context-window-packing pipeline runs before embedding
    or training: split each document into overlapping ``window``-token
    chunks whose starts step by ``stride`` tokens (stride < window =>
    adjacent chunks overlap by window - stride tokens, so no boundary
    sentence is ever seen by only half a chunk).

    Chunk starts are 0, stride, 2*stride, ...; the trailing chunk may be
    shorter than ``window`` (never empty), every token appears in at
    least one chunk, and no chunk is fully contained in its predecessor
    (a start is kept iff it is 0 or start < n - window + stride — the
    first start whose clamped span [start, n) would be a strict subset
    of the previous chunk's is where emission stops). Empty documents
    yield no chunks.

    Scale: this is a pure MAP — tokenize, explode the (n_tokens/stride)
    start offsets, slice. No shuffle, no window function, no state;
    output size is input size x (window/stride) in tokens, and Spark
    pipelines the explode into the same whole-stage-codegen pass as the
    parquet scan. The tokenizer is materialized as a column BEFORE the
    higher-order slice so it is evaluated once per document, not once
    per chunk (same AttributeReference discipline as
    shingles_from_tokens).

    Returns (id_col, chunk_idx, start_tok, n_chunk_tokens, chunk_text).
    """
    if window < 1 or stride < 1:
        raise ValueError("window and stride must be >= 1")
    if stride > window:
        raise ValueError(
            "stride > window would skip tokens between chunks; the "
            "every-token-covered contract requires stride <= window"
        )
    toked = df.select(
        F.col(id_col),
        F.filter(tokens(text_col), lambda t: t != F.lit("")).alias("__t"),
    ).withColumn("__n", F.size("__t"))
    return (
        toked.filter(F.col("__n") > 0)
        .select(
            id_col,
            "__t",
            "__n",
            F.explode(
                F.sequence(F.lit(0), F.col("__n") - 1, F.lit(stride))
            ).alias("start_tok"),
        )
        .filter(
            (F.col("start_tok") == 0)
            | (F.col("start_tok") < F.col("__n") - F.lit(window - stride))
        )
        .select(
            id_col,
            F.expr(f"CAST(start_tok div {stride} AS INT)").alias("chunk_idx"),
            "start_tok",
            F.slice(F.col("__t"), F.col("start_tok") + 1, F.lit(window)).alias(
                "__chunk"
            ),
        )
        .select(
            id_col,
            "chunk_idx",
            "start_tok",
            F.size("__chunk").alias("n_chunk_tokens"),
            F.array_join("__chunk", " ").alias("chunk_text"),
        )
    )


def temperature_mixture_sample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    alpha: float = 0.5,
    target_frac: float = 0.5,
) -> DataFrame:
    """Temperature-scaled mixture resampling — the multilingual / multi-
    domain rebalancing step (mT5, The Pile): sample group g with
    probability proportional to p_g^alpha (p_g = the group's corpus
    share), so low-resource groups are up-weighted relative to their raw
    share while the overall kept fraction stays ~``target_frac``. Each
    group's keep rate is min(1, q_g * target_frac * C / c_g) with
    q_g = p_g^alpha / sum_h p_h^alpha; membership is the usual
    deterministic md5 uint32 draw against floor(rate * 2^32), so the
    sample is a pure function of (key, corpus counts).

    ``alpha`` must be 1.0, 0.5, or 0.25: p^0.5 and p^0.25 are sqrt
    chains, and IEEE-754 sqrt is CORRECTLY ROUNDED — bit-identical in
    every engine — where a general pow()/exp/ln is last-ulp
    engine-dependent and would flip the exact cross-engine gate (the
    same no-libm discipline as bm25_top_docs; ln/pow-based temperatures
    belong behind a rows-only contract). The sqrt outputs are
    floor-rounded to 8dp and summed as DECIMAL(18,8) so the normalizer
    cannot flip on addition order.

    Scale: one count shuffle to a #groups-row relation, rate arithmetic
    in an unpartitioned window over that BOUNDED relation (the
    gini/pareto class), a broadcast join of the (group, threshold) dim
    back to rows, and a narrow filter — the fact table is never
    re-shuffled. Rows whose group is NULL are dropped (no mixture weight
    is defined for them).
    """
    if alpha not in (1.0, 0.5, 0.25):
        raise ValueError(
            "alpha must be 1.0, 0.5 or 0.25 (sqrt chains are IEEE-exact "
            "cross-engine; general pow() is not)"
        )
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__c"))
    w = Window.partitionBy(F.lit(0))
    p = F.col("__c").cast("double") / F.col("__tot")
    s = p
    if alpha <= 0.5:
        s = F.sqrt(s)
    if alpha <= 0.25:
        s = F.sqrt(s)
    sized = (
        counts.withColumn("__tot", F.sum("__c").over(w))
        .withColumn(
            "__s8",
            (F.floor(s * F.lit(1e8) + F.lit(0.5)) / F.lit(1e8)).cast(
                "decimal(18,8)"
            ),
        )
        .withColumn("__norm", F.sum("__s8").over(w))
    )
    rate = F.least(
        F.lit(1.0),
        F.col("__s8").cast("double")
        / F.col("__norm").cast("double")
        * F.lit(target_frac)
        * F.col("__tot")
        / F.col("__c"),
    )
    dim = sized.select(
        group_col, F.floor(rate * F.lit(4294967296.0)).alias("__thr")
    )
    draw = F.conv(_hash_bucket(key_col), 16, 10).cast("bigint")
    return df.join(F.broadcast(dim), group_col).filter(draw < F.col("__thr")).drop(
        "__thr"
    )


def containment_pairs(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_containment: float = 0.5,
) -> DataFrame:
    """Fuzzy decontamination by CONTAINMENT score: for every (corpus doc,
    benchmark doc) pair sharing at least one distinct word n-gram, the
    fraction of the BENCHMARK doc's distinct n-grams found in the corpus
    doc — the practical eval-leak metric ("83% of this test question
    appears in that page"), where ngram_overlap's binary flag can't
    distinguish a one-gram coincidence from a near-verbatim copy. Pairs
    below ``min_containment`` are dropped.

    Containment = |grams(bench) ∩ grams(corpus)| / |grams(bench)| — an
    exact integer ratio (one double division, floor-rounded 4dp), so the
    score sits under the exact cross-engine gate with no float
    discipline beyond the terminal rounding.

    Scale: both sides reduce to DISTINCT (doc, gram) sets before the
    join (multiplicity never inflates the shuffle); the benchmark side
    is tiny by nature (eval suites), so it broadcasts WITH its per-doc
    gram totals and the corpus side never shuffles for the probe — the
    only exchange is the (corpus doc, bench doc) pair aggregate, whose
    size is bounded by true gram collisions, not the cross product.

    Returns (corpus_id, bench_id, n_shared, n_bench_grams, containment).
    """
    def distinct_grams(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col), tokens(text_col).alias("__toks")
        ).select(
            F.col(id_col),
            F.explode(F.array_distinct(_contiguous_grams("__toks", n))).alias(
                "gram"
            ),
        )

    bg = distinct_grams(bench).select(
        F.col(id_col).alias("bench_id"), "gram"
    )
    btot = bg.groupBy("bench_id").agg(F.count(F.lit(1)).alias("n_bench_grams"))
    cg = distinct_grams(corpus).select(
        F.col(id_col).alias("corpus_id"), "gram"
    )
    pairs = (
        cg.join(F.broadcast(bg), "gram")
        .groupBy("corpus_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .join(F.broadcast(btot), "bench_id")
    )
    containment = (
        F.floor(
            F.col("n_shared").cast("double") / F.col("n_bench_grams") * F.lit(1e4)
            + F.lit(0.5)
        )
        / F.lit(1e4)
    )
    return pairs.select(
        "corpus_id",
        "bench_id",
        "n_shared",
        "n_bench_grams",
        containment.alias("containment"),
    ).filter(F.col("containment") >= F.lit(min_containment))


DSIR_BUCKETS = 4096  # hashed n-gram feature buckets


def dsir_importance(
    df: DataFrame,
    target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-style importance weights for target-domain data selection
    (Xie et al. 2023, "Data Selection for Language Models via Importance
    Resampling" — public arXiv 2302.03169): score every document in the
    raw pool by how much more probable its hashed n-gram features are
    under the TARGET distribution (the rows where ``target`` is true)
    than under the RAW pool distribution, then select the top-scoring
    documents as "target-like" pretraining data.

    Features are unigrams + bigrams of the normalized whitespace tokens,
    hashed into DSIR_BUCKETS buckets with the portable md5 60-bit hash
    (functions.portable_hash64, salt ``"dsir"``), exactly as the paper
    hashes grams into a fixed feature space. Both bucket distributions
    are add-one smoothed over the bucket space, and the per-bucket
    log-ratio log2(p_tgt(b)/p_raw(b)) is replaced by the INTEGER
    surprisal difference

        s(b) = floor(log2((n_raw + B) / (c_raw(b) + 1)))
             - floor(log2((n_tgt + B) / (c_tgt(b) + 1)))

    via the exact bit_length identity (see textstats.lm_surprisal), so
    the document weight sum(m_b * s(b)) is pure integer arithmetic and
    bit-identical across engines — the repo's libm-free discipline
    applied to importance weighting. (The paper's Gumbel-noised sampling
    step is deliberately replaced by the deterministic top-k of
    ``dsir_topk`` — same selection semantics, reproducible.)

    Returns one row per input document: ``(id, n_grams, weight,
    is_target)`` with gram-less documents at weight 0.

    Scale: one explode of the corpus into gram occurrences, one
    (doc, bucket)-keyed partial-agg shuffle, ONE bucket-keyed aggregate
    producing a <= DSIR_BUCKETS-row score table that is broadcast back, one
    doc-keyed aggregate. The raw corpus is never joined to itself and
    nothing unbounded is collected; the bucket table is O(B) regardless
    of corpus size, which is the entire point of hashed features at
    100 TB."""
    from ..functions import floor_parallelism

    # the gram explode + md5 bucket hash below is the dominant CPU and is
    # NARROW — a few-split input would run it on a few cores (measured:
    # 8-vs-32-core ratio 1.01 at sf0.1, and 1.74x from the floor)
    df = floor_parallelism(df, id_col)
    pre = df.select(
        F.col(id_col),
        target.cast("bigint").alias("__tgt"),
        tokens(text_col).alias("__t0"),
    ).select(
        F.col(id_col),
        "__tgt",
        F.filter("__t0", lambda t: t != F.lit("")).alias("__t"),
    )
    from ..functions import portable_hash64

    occ = pre.select(
        F.col(id_col),
        "__tgt",
        F.explode(F.concat(F.col("__t"), _contiguous_grams("__t", 2))).alias(
            "__gram"
        ),
    ).select(
        F.col(id_col),
        "__tgt",
        F.pmod(portable_hash64("__gram", salt="dsir"), F.lit(DSIR_BUCKETS)).alias(
            "__b"
        ),
    )
    db = occ.groupBy(id_col, "__tgt", "__b").agg(
        F.count(F.lit(1)).alias("__m")
    )
    bs = db.groupBy("__b").agg(
        F.sum("__m").alias("__c_raw"),
        F.sum(F.col("__m") * F.col("__tgt")).alias("__c_tgt"),
    )
    tot = db.agg(
        F.sum("__m").alias("__n_raw"),
        F.sum(F.col("__m") * F.col("__tgt")).alias("__n_tgt"),
    )
    # integer div, NOT double /: bin() of a double would round through 2^53
    surp_raw = F.length(
        F.bin(F.expr(f"(__n_raw + {DSIR_BUCKETS}) div (__c_raw + 1)"))
    ) - F.lit(1)
    surp_tgt = F.length(
        F.bin(F.expr(f"(__n_tgt + {DSIR_BUCKETS}) div (__c_tgt + 1)"))
    ) - F.lit(1)
    scores = (
        bs.crossJoin(F.broadcast(tot))
        .select("__b", (surp_raw - surp_tgt).cast("bigint").alias("__s"))
    )
    per_doc = (
        db.join(F.broadcast(scores), "__b")
        .groupBy(id_col)
        .agg(
            F.sum("__m").alias("n_grams"),
            F.sum(F.col("__m") * F.col("__s")).alias("weight"),
        )
    )
    return (
        df.select(F.col(id_col), target.alias("is_target"))
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_grams", F.lit(0).cast("bigint")).alias("n_grams"),
            F.coalesce("weight", F.lit(0).cast("bigint")).alias("weight"),
            "is_target",
        )
    )


def dsir_topk(
    df: DataFrame,
    target: Column,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The selection step of DSIR: the ``k`` documents whose importance
    weight says they are most target-like, deterministically tie-broken
    by id (weight desc, id asc). Compiles to TakeOrderedAndProject —
    each partition keeps a local k-row heap and the driver merges k-row
    heads, so the global sort never materializes at any scale."""
    w = dsir_importance(
        df, target, id_col=id_col, text_col=text_col
    )
    return w.orderBy(F.desc("weight"), F.asc(id_col)).limit(k)


def blocklist_filter(
    df: DataFrame,
    terms: Sequence[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hits: int = 0,
) -> DataFrame:
    """C4-style bad-word filtering (Raffel et al. 2020 drop documents
    containing blocklisted words): count exact TOKEN matches against a
    fixed blocklist and keep documents with at most ``max_hits``
    occurrences. Token-level, not substring — "scrape" must not match a
    blocklisted "rape", the classic blocklist false-positive.

    Returns (id, n_tokens, n_blocked, keep) for every input document.

    Scale: a pure narrow map — the blocklist compiles to an IN literal
    inside a higher-order filter over the materialized token array, so
    there is NO shuffle, NO join and NO UDF anywhere: at 100 TB this is
    a single codegen'd pass over the corpus (plan-asserted zero
    exchanges in tests/test_plans.py). For blocklists too large for an
    IN literal (~10^4+), swap to a broadcast semi-join on exploded
    tokens; at C4's actual list size (~400) the literal wins."""
    terms = list(terms)
    pre = df.select(
        F.col(id_col), tokens(text_col).alias("__t0")
    ).select(
        F.col(id_col),
        F.filter("__t0", lambda t: t != F.lit("")).alias("__t"),
    )
    blocked = F.size(F.filter("__t", lambda t: t.isin(*terms)))
    return pre.select(
        F.col(id_col),
        F.size("__t").cast("bigint").alias("n_tokens"),
        blocked.cast("bigint").alias("n_blocked"),
        (blocked <= F.lit(max_hits)).alias("keep"),
    )


def mixture_epochs(
    df: DataFrame,
    group_col: str,
    epochs: dict[str, float],
    key_col: str = "doc_id",
    default: float = 1.0,
    salt: str = "",
) -> DataFrame:
    """Epoch-budgeted mixture materialization — the "repeat wiki 3.2x,
    cap crawl at 1 epoch" sampling-proportions step of assembling a
    pretraining mix (the public Llama / Gopher recipes publish exactly
    such per-source epoch factors). Every row of group ``g`` with factor
    e appears floor(e) times, plus once more iff md5(key || salt) falls
    below the frac(e) threshold (hex_threshold) — so group token mass
    scales by e in expectation with a per-ROW deterministic draw:
    re-running reproduces the byte-identical mix, growing the corpus
    never flips an existing row's replicas, and independent re-draws are
    one salt away.

    Output = the input rows replicated, plus an ``epoch`` column
    (0-based replica index) so downstream shuffles/packing can keep
    replicas apart. Rows in groups with factor 0 vanish.

    Scale: a broadcast |groups|-row factor table, one narrow
    explode(sequence) — no shuffle, no window, no state. The fractional
    draw reuses the hash_split bucket, so the SQL twin is exact."""
    items = sorted(epochs.items())
    factor = F.lit(float(default))
    for name, e in reversed(items):
        factor = F.when(F.col(group_col) == F.lit(name), F.lit(float(e))).otherwise(
            factor
        )
    n_full = F.floor(factor).cast("int")
    # hex_threshold is resolved at PLAN time from the python floats, so the
    # per-group fractional thresholds fold into one CASE (unlisted groups
    # take the default factor's fraction)
    dthr = float(default) - int(float(default))
    thr = F.lit(hex_threshold(dthr))
    for name, e in reversed(items):
        f = float(e) - int(float(e))
        thr = F.when(F.col(group_col) == F.lit(name), F.lit(hex_threshold(f))).otherwise(
            thr
        )
    extra = (_hash_bucket(key_col, salt) < thr).cast("int")
    n = n_full + extra
    reps = F.when(n > 0, F.sequence(F.lit(0), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    return df.withColumn("epoch", F.explode(reps))
