"""Deduplication operators (SURVEY.md §2.11 X1/X2) for LLM training-data
pipelines: exact, MinHash-LSH near-dup, SimHash, and n-gram Jaccard.

Scale design: every variant avoids the O(n²) all-pairs comparison — exact
dedup is one hash-shuffle; MinHash/SimHash block candidates into buckets so
only within-bucket pairs are scored; Jaccard joins on shared shingles so
disjoint documents never meet.
"""

from __future__ import annotations

import operator
from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..functions import (
    PORTABLE_MOD,
    content_hash,
    normalized_text,
    portable_hash31,
    portable_hash64,
)


def universal_hash_constants(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    """(a_i, b_i) pairs for the portable universal-hash family
    h_i(g) = (a_i*g + b_i) mod (2^31-1): plan-build-time constants from a
    seeded PRNG, embedded as literals on the Spark side and interpolated
    into the DuckDB oracle text — the same stream on both sides, so
    seeded MinHash signatures become cross-engine exact."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, PORTABLE_MOD), rng.randrange(0, PORTABLE_MOD))
        for _ in range(num_hashes)
    ]


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """X1: keep the smallest-id row per normalized-content hash.

    One shuffle on the 256-bit content hash; at 100 TB the hash is uniform so
    no skew, and ``min_by`` gets map-side partial aggregation (a window
    row_number would shuffle every duplicate row before discarding it).
    Equivalent SQL: group by hash, keep min(id).
    """
    cols = df.columns
    return (
        df.withColumn("__hash", content_hash(text_col))
        .groupBy("__hash")
        .agg(F.min_by(F.struct(*cols), F.col(id_col)).alias("__row"))
        .select("__row.*")
    )


def tokens(text):
    """Whitespace tokens of normalized text, as one array column."""
    text = F.col(text) if isinstance(text, str) else text
    return F.split(normalized_text(text), " ")


def shingles_from_tokens(toks, n: int = 3):
    """Distinct word n-gram shingles from a token-array column.

    ``toks`` MUST be a materialized column (AttributeReference), not an
    inline ``split(regexp_replace(...))`` expression: higher-order-function
    lambdas are interpreted (no codegen, no common-subexpression
    elimination), so an embedded tokenizer expression would be re-evaluated
    for every ``element_at`` of every gram — measured 30× slower at sf0.1.
    Callers pre-project ``tokens(text)`` into a column first.
    """
    toks = F.col(toks) if isinstance(toks, str) else toks
    k = F.size(toks) - (n - 1)
    grams = F.when(k <= 0, F.array(F.concat_ws(" ", toks))).otherwise(
        F.transform(
            F.sequence(F.lit(0), k - 1),
            lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(n)]),
        )
    )
    return F.array_distinct(grams)


def shingles(text):
    """Distinct word 3-gram shingles of a text column (JVM-side only).

    Convenience form for small inputs / tests. Hot paths pre-project
    :func:`tokens` into a column and use :func:`shingles_from_tokens` —
    see that docstring for why (interpreted-lambda recompute).
    """
    return shingles_from_tokens(tokens(text))


def minhash_signature(shingle_col):
    """32-hash MinHash signature as array<bigint>: min over shingles of
    xxhash64(xxhash64(shingle), 42 + i) — the string is hashed to a long
    once, then each salted function re-hashes the fixed-width long, the
    same scheme (and thus identical signatures; tested) as the bulk
    :func:`minhash_signatures`. Pure built-ins — no Python in the loop.

    Expression form (32 array traversals per row). For bulk
    signature computation prefer the bulk form, which hashes each shingle
    once and combines map-side.
    """
    col = F.col(shingle_col) if isinstance(shingle_col, str) else shingle_col
    return F.array(
        *[
            F.array_min(
                F.transform(col, lambda s: F.xxhash64(F.xxhash64(s), F.lit(42 + i)))
            )
            for i in range(32)
        ]
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    seed: int = 42,
    hash_family: str = "xx",
) -> DataFrame:
    """Bulk MinHash signatures as (__id, __sig array<bigint>).

    Explode shingles once, compute all ``num_hashes`` salted hashes per
    shingle, then groupBy-min: one shuffle on doc id with map-side partial
    mins, so each shingle is hashed exactly once (vs. ``num_hashes`` array
    traversals per document in the expression form). At 100 TB the combine
    step shrinks the shuffle to num_hashes longs per document.

    ``hash_family``: "xx" (default) re-hashes the shingle's xxhash64 with
    ``num_hashes`` salts — the fast JVM path. "md5" hashes the shingle
    once with the portable md5-derived hash and derives the salted
    functions as a universal family (a_i*g + b_i mod 2^31-1,
    plan-build-time constants from ``seed``) — every arithmetic step is
    reproducible in any md5-capable SQL engine, so md5-family signatures
    (and the LSH pairs built on them) sit under EXACT DuckDB oracles
    instead of rows-only checks. Same recall structure; one md5 per
    shingle instead of one xxhash64.

    Documents whose text yields zero tokens (empty / whitespace-only /
    all-punctuation) are filtered out BEFORE shingling: split of an empty
    normalized string yields [''], which would otherwise give every such
    doc the same single empty-string shingle and pair them all at
    est_jaccard 1.0.
    """
    # Parallelism floor for the shingle+hash stage — the dominant CPU
    # term: a corpus that arrives in fewer input splits than the cluster
    # has slots (the whole local fixture is ONE row group) would hash on
    # those few cores while the rest idle (measured 8-vs-32-core ratio
    # 0.78 at sf0.1). No-op at scale — see functions.floor_parallelism.
    from ..functions import floor_parallelism

    df = floor_parallelism(df, id_col)
    sh = (
        df.select(F.col(id_col).alias("__id"), tokens(text_col).alias("__toks"))
        .filter(F.size(F.filter("__toks", lambda t: t != F.lit(""))) > 0)
        .select("__id", F.explode(shingles_from_tokens("__toks", n)).alias("__gram"))
    )
    # Hash the variable-length shingle string ONCE, then derive the
    # num_hashes salted functions from the resulting fixed-width long:
    # 1 string hash + num_hashes cheap derivations per shingle instead of
    # num_hashes string hashes — the dominant CPU term at corpus scale.
    if hash_family == "md5":
        sh = sh.select("__id", portable_hash31("__gram").alias("__g"))
        mins = [
            F.min((F.lit(a) * F.col("__g") + F.lit(b)) % F.lit(PORTABLE_MOD)).alias(
                f"__h{i}"
            )
            for i, (a, b) in enumerate(universal_hash_constants(num_hashes, seed))
        ]
    else:
        sh = sh.select("__id", F.xxhash64("__gram").alias("__g"))
        mins = [
            F.min(F.xxhash64(F.col("__g"), F.lit(seed + i))).alias(f"__h{i}")
            for i in range(num_hashes)
        ]
    return (
        sh.groupBy("__id")
        .agg(*mins)
        .select("__id", F.array(*[f"__h{i}" for i in range(num_hashes)]).alias("__sig"))
    )


def band_join(
    new: DataFrame,
    old: DataFrame,
    cols: list,
    keys,
    band: tuple[str, str],
    first_band,
    score,
    pair: tuple[str, str] = ("id_a", "id_b"),
    ids=operator.lt,
    hint: str | None = "SHUFFLE_HASH",
) -> DataFrame:
    """The LSH band join every near-duplicate operator shares: candidate
    pairs of ``new`` × ``old``, each kept exactly once, in the lowest
    band where both sides agree.

    Both sides are banded the same way — ``cols`` (which must yield
    ``__id``) plus one row per band from ``posexplode(keys)``, named
    ``band`` = (band index, band key) — then aliased ``a`` (new) and
    ``b`` (old) and equi-joined on band index and band key, plus
    ``ids(a.__id, b.__id)`` unless ``ids`` is None: ``operator.lt`` for
    a self-join (each unordered pair once), ``operator.ne`` to drop
    self-pairs of a probe. Returns (``pair[0]`` = a.__id, ``pair[1]`` =
    b.__id, ``score``); ``first_band`` and ``score`` are expressions
    over the ``a.``/``b.`` columns, and the caller filters on the score.

    Why the first agreeing band: a pair agreeing on k of the bands
    collides in k buckets, and near-identical items agree on ALL of
    them, so a near-dup-dense corpus ships most true pairs once per
    band. A post-join dropDuplicates would shuffle that whole multiplied
    candidate stream through one more exchange — the dominant cost of
    the simhash pairs in a 100x scale smoke, ~4 rows per true pair.
    Instead the join keeps a pair only where ``a.<band index>`` equals
    ``first_band``, the lowest band index whose keys agree on both
    sides (decidable inside the join stage because both sides carry the
    whole signature the keys come from): one deterministic survivor per
    pair, no pair-dedup exchange at all, and the multiplied rows die
    before they are ever shuffled or scored. Two ``first_band`` forms
    exist: the first true position of ``zip_with(a.<keys>, b.<keys>,
    ==)`` over a key array both sides carry
    (:func:`first_agreeing_band`), and the lowest zero band of
    ``a.__fp XOR b.__fp`` for integer fingerprints
    (:func:`_fingerprint_pairs`).

    ``hint="SHUFFLE_HASH"`` on ``b`` (not broadcast) for the text and
    fingerprint joins: in a self-join both sides are the same expensive
    signature subplan, and identical shuffle exchanges are computed once
    (ReusedExchange); a broadcast would evaluate the pipeline twice and
    could never hold the full corpus signature set at 100 TB anyway."""
    a = new.select(*cols, F.posexplode(keys).alias(*band)).alias("a")
    b = old.select(*cols, F.posexplode(keys).alias(*band)).alias("b")
    on = (F.col(f"a.{band[0]}") == F.col(f"b.{band[0]}")) & (
        F.col(f"a.{band[1]}") == F.col(f"b.{band[1]}")
    )
    if ids is not None:
        on = on & ids(F.col("a.__id"), F.col("b.__id"))
    return (
        a.join(b.hint(hint) if hint else b, on)
        .filter(F.col(f"a.{band[0]}") == first_band)
        .select(
            F.col("a.__id").alias(pair[0]), F.col("b.__id").alias(pair[1]), score
        )
    )


def first_agreeing_band(arr: str):
    """:func:`band_join`'s ``first_band`` over a per-band key array
    ``arr`` carried on both sides: the 0-based first position where they
    agree."""
    return (
        F.array_position(
            F.zip_with(F.col(f"a.{arr}"), F.col(f"b.{arr}"), lambda x, y: x == y),
            True,
        )
        - 1
    )


def _fingerprint_pairs(
    new: DataFrame,
    old: DataFrame,
    bits: int,
    n_bands: int,
    max_hamming: int,
    pair: tuple[str, str] = ("id_a", "id_b"),
    ids=operator.lt,
) -> DataFrame:
    """Pairs of ``bits``-bit integer fingerprints (``__id``, ``__fp``)
    within ``max_hamming`` bits, through :func:`band_join` on
    ``n_bands`` contiguous equal bands. Both the first agreeing band
    (the lowest zero band of the XOR) and the Hamming distance (popcount
    of the same XOR, one JVM intrinsic) are computed inside the join
    stage. Returns (``pair``, hamming)."""
    if bits % n_bands:
        raise ValueError(
            f"bits={bits} must divide into max_hamming+1={n_bands} equal bands"
        )
    width = bits // n_bands
    mask = (1 << width) - 1
    bands = [
        F.shiftright(F.col("__fp"), q * width).bitwiseAND(F.lit(mask))
        for q in range(n_bands)
    ]
    xor = F.col("a.__fp").bitwiseXOR(F.col("b.__fp"))
    block = [
        F.shiftright(xor, q * width).bitwiseAND(F.lit(mask)) for q in range(n_bands)
    ]
    first_zero = F.when(block[0] == 0, 0)
    for q in range(1, n_bands - 1):
        first_zero = first_zero.when(block[q] == 0, q)
    first_zero = first_zero.otherwise(n_bands - 1)
    return band_join(
        new,
        old,
        ["__id", "__fp"],
        F.array(*bands),
        ("q_idx", "q_val"),
        first_zero,
        F.bit_count(xor).alias("hamming"),
        pair,
        ids,
    ).filter(F.col("hamming") <= max_hamming)


def _band_keys(sig_col, bands: int, rows_per_band: int, hash_family: str):
    """Per-band key expressions over a signature array column. "md5"
    keys on the band's comma-joined VALUE string (no hash collision can
    admit a pair the signatures don't justify — what makes the pair set
    exactly oracle-able); "xx" keys on the band's xxhash64 (the fast
    JVM default)."""
    sig_col = F.col(sig_col) if isinstance(sig_col, str) else sig_col
    if hash_family == "md5":
        return [
            F.array_join(
                F.slice(sig_col, b * rows_per_band + 1, rows_per_band).cast(
                    "array<string>"
                ),
                ",",
            )
            for b in range(bands)
        ]
    return [
        F.xxhash64(
            F.slice(sig_col, b * rows_per_band + 1, rows_per_band).cast("string")
        )
        for b in range(bands)
    ]


def minhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    min_jaccard: float = 0.7,
    hash_family: str = "xx",
) -> DataFrame:
    """X2: candidate near-duplicate pairs via MinHash + LSH banding.

    Pipeline: shingle -> minhash signature -> split into ``bands`` bands ->
    hash each band -> self-join on (band_idx, band_hash) -> estimate Jaccard
    as fraction of agreeing signature positions -> filter.

    The band join is the LSH trick: only documents agreeing on a full band
    collide, so the shuffle is O(n·bands), never O(n²); each pair is kept
    in its first agreeing band (:func:`band_join`). Returns
    (id_a, id_b, est_jaccard) with id_a < id_b.

    ``hash_family="md5"`` (see minhash_signatures) additionally keys the
    band join on the band's VALUE string instead of its xxhash64 — no
    hash collision can admit a pair the signatures don't justify, so the
    output is an exact function of (text, seed) that a DuckDB oracle
    reproduces verbatim.
    """
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, n, num_hashes, seed, hash_family)
    band_keys = _band_keys("__sig", bands, rows_per_band, hash_family)
    sig = sig.select("__id", "__sig", F.array(*band_keys).alias("__bhs"))
    return _minhash_band_join(sig, sig, num_hashes, min_jaccard)


def _minhash_band_join(
    new: DataFrame,
    old: DataFrame,
    num_hashes: int,
    min_jaccard: float,
    pair: tuple[str, str] = ("id_a", "id_b"),
    ids=operator.lt,
) -> DataFrame:
    """:func:`band_join` of two (__id, __sig, __bhs) relations, scored by
    the fraction of agreeing signature positions. Returns (``pair``,
    est_jaccard) at or above ``min_jaccard``."""
    # Measured note: an unrolled sum of num_hashes getItem comparisons
    # (to dodge the interpreted zip_with lambda) is ~2x SLOWER here —
    # 64 bounds-checked array accesses per row lose to one fused array
    # traversal, so the HOF form stays.
    est = F.size(
        F.filter(
            F.zip_with(F.col("a.__sig"), F.col("b.__sig"), lambda x, y: x == y),
            lambda v: v,
        )
    ) / F.lit(float(num_hashes))
    return band_join(
        new,
        old,
        ["__id", "__sig", "__bhs"],
        F.col("__bhs"),
        ("band_idx", "band_hash"),
        first_agreeing_band("__bhs"),
        F.round(est, 4).alias("est_jaccard"),
        pair,
        ids,
    ).filter(F.col("est_jaccard") >= min_jaccard)


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **kwargs,
) -> DataFrame:
    """X2 keep-one: drop every row that has a near-duplicate with a smaller
    id (single-link, one hop). Full transitive closure needs iterated
    connected components; one hop is the standard large-corpus compromise
    (each surviving doc is guaranteed not-near-dup of any smaller survivor
    within one link)."""
    pairs = minhash_near_dup_pairs(df, text_col, id_col, **kwargs)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def simhash(text):
    """X2 variant: 64-bit SimHash fingerprint of a text column as one
    bigint (token hash xxhash64 salted with 42).

    Per token: 64-bit hash; per bit: +1 if set else -1; sum over tokens;
    fingerprint bit = sign. Entirely higher-order functions (one aggregate
    over the token array, no shuffle, no UDF).
    """
    text = F.col(text) if isinstance(text, str) else text
    toks = F.split(normalized_text(text), " ")
    # Hash each token ONCE (transform evaluates its lambda once per
    # element), then expand bits from the bound hash variable ``h`` — an
    # xxhash64 embedded in the per-bit array would be re-evaluated 64
    # times per token (interpreted lambdas do no subexpression elimination).
    # Bit indices are static Python ints (F.shiftright requires an int
    # numBits, not a Column), so the per-bit array is built with a Python
    # loop — still one fully JVM-side expression per row.
    tok_hashes = F.transform(toks, lambda t: F.xxhash64(t, F.lit(42)))
    counts = F.aggregate(
        tok_hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    F.when(
                        F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1,
                        F.lit(1),
                    ).otherwise(F.lit(-1))
                    for i in range(64)
                ]
            ),
            lambda a, v: a + v,
        ),
    )
    # Bit masks as signed-64 literals (1 << 63 wraps to the sign bit).
    masks = [(1 << i) - (1 << 64) if i >= 63 else (1 << i) for i in range(64)]
    return F.aggregate(
        F.zip_with(
            counts,
            F.array(*[F.lit(m).cast("long") for m in masks]),
            lambda c, m: F.when(c > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc.bitwiseOR(v),
    )


def simhash_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xx",
) -> DataFrame:
    """Bulk 64-bit SimHash (token hashes salted with 42) as (__id, __fp):
    explode tokens, hash each once, then 64 conditional-sum aggregates
    (+1/-1 per bit) with map-side partial aggregation, and assemble the
    fingerprint from the per-bit signs.

    Same math as :func:`simhash` but whole-stage-codegen'd: the expression
    form's per-token 64-wide zip_with runs interpreted (higher-order
    functions have no codegen) — measured ~5× slower at sf0.1 — and this
    form's combine step shrinks the shuffle to 64 longs per document.

    ``hash_family="md5"`` swaps the token hash for the portable 60-bit
    md5-derived hash (functions.portable_hash64, salted with the seed):
    bits 60-63 of the fingerprint are then always 0 (the hash has no
    entropy there, so every bit-sum is -n), hamming semantics otherwise
    unchanged — and the whole fingerprint becomes reproducible in any
    md5-capable engine, which is what puts the seeded simhash query
    under an exact DuckDB oracle.
    """
    toks = df.select(F.col(id_col).alias("__id"), F.explode(tokens(text_col)).alias("__tok"))
    if hash_family == "md5":
        hashed = toks.select(
            "__id", portable_hash64("__tok", ":42").alias("__h")
        )
    else:
        hashed = toks.select("__id", F.xxhash64("__tok", F.lit(42)).alias("__h"))
    sums = [
        F.sum(
            F.when(F.shiftright(F.col("__h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"__b{i}")
        for i in range(64)
    ]
    # Bit masks as signed-64 literals (1 << 63 wraps to the sign bit).
    masks = [(1 << i) - (1 << 64) if i >= 63 else (1 << i) for i in range(64)]
    fp = reduce(
        lambda acc, i: acc.bitwiseOR(
            F.when(F.col(f"__b{i}") > 0, F.lit(masks[i]).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        ),
        range(64),
        F.lit(0).cast("long"),
    )
    return hashed.groupBy("__id").agg(*sums).select("__id", fp.alias("__fp"))


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 8,
    hash_family: str = "xx",
) -> DataFrame:
    """SimHash near-dup candidates: block by the 4 16-bit quarters of the
    fingerprint (pigeonhole: hamming<=3 guarantees one equal quarter; wider
    radii trade recall) then score exact Hamming distance within blocks.
    Each pair is kept only in its first matching quarter — the matching
    quarters are exactly the zero 16-bit blocks of fp_a XOR fp_b — so no
    pair-dedup exchange exists (:func:`band_join`)."""
    fp = simhash_fingerprints(df, text_col, id_col, hash_family=hash_family)
    return _fingerprint_pairs(fp, fp, 64, 4, max_hamming)


def fingerprint_near_dup_pairs(
    fps: DataFrame,
    id_col: str = "media_id",
    fp_col: str = "ahash",
    max_hamming: int = 3,
    bits: int = 16,
) -> DataFrame:
    """Near-dup pairs over PRECOMPUTED integer fingerprints (simhash,
    image average-hash, any <=62-bit perceptual hash) — the
    simhash_near_dup_pairs machinery generalized to arbitrary
    fingerprint relations: block the hash into ``max_hamming + 1``
    contiguous bit-bands (pigeonhole: two hashes within the radius agree
    on at least one whole band), equi-join per band, score exact Hamming
    inside the join stage, and keep each pair only in its FIRST
    agreeing band (the lowest zero band of the XOR — no pair-dedup
    exchange; see :func:`band_join`).
    NULL fingerprints (decode failures) are dropped before banding.

    Scale: one shuffle on (band_idx, band_val); never all-pairs. Returns
    (id_a, id_b, hamming) with id_a < id_b, hamming <= max_hamming."""
    fp = _fingerprints(fps, id_col, fp_col)
    return _fingerprint_pairs(fp, fp, bits, max_hamming + 1, max_hamming)


def _fingerprints(fps: DataFrame, id_col: str, fp_col: str) -> DataFrame:
    """(__id, __fp bigint) of the non-NULL fingerprints: a NULL (decode
    failure) never pairs."""
    return fps.select(
        F.col(id_col).alias("__id"), F.col(fp_col).cast("bigint").alias("__fp")
    ).filter(F.col("__fp").isNotNull())


def fingerprint_incremental_pairs(
    new_fps: DataFrame,
    index: DataFrame,
    id_col: str = "media_id",
    fp_col: str = "ahash",
    max_hamming: int = 3,
    bits: int = 16,
) -> DataFrame:
    """Cross-snapshot fingerprint probe — the incremental twin of
    :func:`fingerprint_near_dup_pairs` (minhash_incremental_pairs'
    contract applied to perceptual hashes): the existing corpus enters
    ONLY as its (id, fingerprint) index, the new batch is banded the
    same way, and each (new, old) pair within the Hamming radius
    surfaces exactly once via :func:`band_join`'s first agreeing band;
    NULL fingerprints on either side never pair. Old media
    bytes are never re-decoded — per batch the cost is the batch's
    banding plus an equi-join against the band-keyed index.

    Returns (new_id, old_id, hamming)."""
    return _fingerprint_pairs(
        _fingerprints(new_fps, id_col, fp_col),
        _fingerprints(index, id_col, fp_col),
        bits,
        max_hamming + 1,
        max_hamming,
        ("new_id", "old_id"),
        None,
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_jaccard: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact word 3-gram Jaccard similarity for pairs sharing >=1 shingle.

    Inverted-index join: explode shingles, self-join on shingle, count
    common, |A∪B| = |A|+|B|-common. Documents sharing nothing never pair, so
    cost is Σ (docs per shingle)².

    ``max_df`` caps the hottest posting lists: shingles appearing in more
    than ``max_df`` documents are dropped before the self-join (a single
    stop-phrase shingle shared by 1M docs would otherwise emit 10¹² pairs).
    Dropped shingles no longer count toward the intersection, so with the
    cap on the similarity is a lower-bound estimate — the standard trade at
    corpus scale. Implemented as a window count over the shingle key, which
    hash-partitions both join inputs by shingle so the self-join reuses the
    exchange instead of shuffling again.
    """
    # The gram expression goes straight into the generator (and, twice-
    # evaluated but row-level-cheap, into __size). Exploding a *named* gram
    # array column instead looks cleaner but is ~30× slower: the optimizer's
    # InferFiltersFromGenerate adds `size(arr) > 0` under the Generate, the
    # filter pushes below the token projection, and the whole tokenizer gets
    # re-inlined into an interpreted per-row filter. explode() of an
    # expression skips the inferred filter and already drops empty arrays.
    # __size is projected in its OWN select below the explode — bundling
    # size+explode in one select puts the size expression above the
    # Generate, re-building the gram array once per exploded row.
    sh_expr = shingles_from_tokens("__toks")
    exploded = (
        df.select(F.col(id_col).alias("__id"), tokens(text_col).alias("__toks"))
        .select("__id", "__toks", F.size(sh_expr).alias("__size"))
        .select("__id", "__size", F.explode(sh_expr).alias("__gram"))
        # join/shuffle on the 8-byte gram hash, not the gram string: at
        # corpus scale the posting-list self-join moves ~100×-the-corpus
        # rows, and 8-byte keys shrink the exchange + make the equality a
        # long compare. A 64-bit collision merging two posting lists is a
        # ~n²/2⁶⁴ event — far below the LSH false-positive floor.
        .select("__id", "__size", F.xxhash64("__gram").alias("__g"))
    )
    if max_df is not None:
        gram_df = F.count(F.lit(1)).over(Window.partitionBy("__g"))
        exploded = exploded.withColumn("__df", gram_df).filter(
            F.col("__df") <= max_df
        ).drop("__df")
    a, b = exploded.alias("a"), exploded.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.__g") == F.col("b.__g")) & (F.col("a.__id") < F.col("b.__id")),
        )
        .groupBy(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.__size").alias("size_a"),
            F.col("b.__size").alias("size_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common"))
    return (
        common.withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "jaccard")
    )


CC_MAX_ROUNDS = 20  # connected_components' round bound


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Distributed connected components over a pair list: returns
    (node, component) where component is the smallest node id in the
    component. Alternating large-star / small-star contraction (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    converges in O(log n) rounds, never materializing anything bigger
    than the edge list. A round runs two min aggregates (large-star's
    neighbor min, small-star's), two joins, two distincts and the
    convergence probe's aggregate: one action, which AQE splits into
    about 10 jobs (one per query stage).

    Used for full transitive closure of near-duplicate clusters, where the
    one-hop compromise in :func:`minhash_dedup` over- or under-merges
    chains. Each iteration is localCheckpoint'ed to cut lineage (swap for
    ``checkpoint`` with a checkpoint dir on a real cluster).

    Cost model (r8 profile): wall-time is LINEAR in the input edge list —
    each round is a bounded number of edge-sized shuffles — times the
    round count, which is 1 for clique-shaped components (every near-dup
    cluster whose members all pair with each other: the min-id is every
    node's direct neighbor, so large-star resolves it immediately) and
    O(log diameter) for chains. What LOOKS superlinear at corpus scale is
    the input itself: a k-member near-dup clique contributes ~k²/2 pairs,
    so doubling duplication depth quadruples the edge list before CC ever
    runs (measured: 10x replicas -> 109x pairs -> one 2.3s->11.1s star
    round). That quadratic mass is semantic, not wasteful — the closure of
    the VERIFIED near-dup relation needs the verified pairs — but exact
    collapse first (semantic_dedup's identity argument) removes the
    duplicate-class cliques that dominate it in web corpora.
    """
    # Materialize the deduped edge list BEFORE the loop: iteration 1
    # references ``edges`` several times (the symmetrized union, the
    # neighbor-min aggregate, the large-star join), and each reference
    # re-executes the caller's whole pair pipeline — the banded LSH
    # self-join — unless a barrier sits here. Exchange reuse only dedups
    # identical shuffle subtrees; the join/filter work above the last
    # exchange still runs once per reference (measured 2.3x on the
    # factor-10 smoke's minhash+CC chain). localCheckpoint also cuts the
    # O(log n) lineage like the in-loop checkpoints below.
    edges = (
        pairs.select(F.col(id_a).cast("long").alias("u"), F.col(id_b).cast("long").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _sym(e: DataFrame) -> DataFrame:
        return e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))

    def _min_nbr(e_sym: DataFrame) -> DataFrame:
        return e_sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )

    for _ in range(CC_MAX_ROUNDS):
        # large-star: every neighbor v > u links to u's component min
        e_sym = _sym(edges)
        mins = _min_nbr(e_sym)
        large = (
            e_sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        # small-star: canonicalize edges toward the smaller endpoint, then
        # link u and its smaller neighbors to the overall min
        canon = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        mins2 = canon.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            canon.join(mins2, "u")
            .select(F.col("v").alias("n"), F.col("m"))
            .unionByName(mins2.select(F.col("u").alias("n"), F.col("m")))
            .filter(F.col("n") != F.col("m"))
            .select(F.col("n").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # LAZY checkpoint: the probe's count() below is the round's ONE
        # Spark action — it computes this RDD (the probe's two union
        # branches share small's final distinct-exchange via exchange
        # reuse) and the checkpoint materializes as that job completes,
        # so lineage still truncates every round without the second
        # eager-checkpoint job the r12 loop paid per iteration.
        new_edges = small.localCheckpoint(eager=False)
        # converged only when the edge set is a VALID star forest. Two
        # invariants, both required (checking only the first split
        # components on multi-star merge graphs — e.g. edges
        # (0,3),(4,1),(2,3),(2,4) reduce after one round to
        # {(2,0),(2,1),(3,0),(4,1)}: no v appears as a u, yet node 2
        # still holds edges to TWO roots that the next large-star round
        # would merge into one component):
        #   (a) every edge points directly at a root — no v is also a u;
        #   (b) every node points at exactly ONE root — a node with
        #       edges to two distinct roots means those roots are in the
        #       same component and still need merging.
        # Both probes fold into ONE hash aggregation over the exploded
        # endpoints (guide §2.3/§2.4: the r12 semi-join + countDistinct
        # pair cost two extra shuffles per round): per node n,
        # rows-as-u carry the root r, rows-as-v carry NULL, so
        #   (a) violated ⇔ n has both r rows and NULL rows (0 < cr < ct)
        #   (b) violated ⇔ min(r) != max(r) (two distinct roots)
        # ONE reference to the lazily-checkpointed edges (not a 2-branch
        # union): both union legs used to race to compute and store the
        # same checkpoint blocks inside the probe job ("Block rdd_* already
        # exists" warnings); exploding each edge into its two endpoint
        # rows keeps the identical (n, r) multiset from a single scan.
        probe = (
            new_edges.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("u").alias("n"), F.col("v").alias("r")
                        ),
                        F.struct(
                            F.col("v").alias("n"),
                            F.lit(None).cast("long").alias("r"),
                        ),
                    )
                ).alias("__e")
            )
            .select(F.col("__e.n").alias("n"), F.col("__e.r").alias("r"))
            .groupBy("n")
            .agg(
                F.min("r").alias("mn"),
                F.max("r").alias("mx"),
                F.count("r").alias("cr"),
                F.count(F.lit(1)).alias("ct"),
            )
            .filter(
                (F.col("mn") != F.col("mx"))
                | ((F.col("cr") > 0) & (F.col("cr") < F.col("ct")))
            )
        )
        pending = probe.count()
        edges = new_edges
        if pending == 0:
            break
    else:
        # CC_MAX_ROUNDS exhausted without reaching a valid star forest: the
        # edge set still has chains or split roots, so downstream
        # keep-one would silently under-merge. This is a correctness
        # failure, not a degraded answer — refuse to return it.
        raise RuntimeError(
            f"connected_components: not converged after {CC_MAX_ROUNDS} rounds "
            f"({pending} forest-invariant violations remain); raise "
            f"CC_MAX_ROUNDS — rounds needed grow with component diameter"
        )
    return edges.select(F.col("u").alias("node"), F.col("v").alias("component"))


def minhash_dedup_cc(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **kwargs,
) -> DataFrame:
    """X2 keep-one with FULL transitive closure: connected components over
    the near-dup pair graph, keep the smallest id per component. The
    cluster-exact upgrade of :func:`minhash_dedup`."""
    pairs = minhash_near_dup_pairs(df, text_col, id_col, **kwargs)
    comp = connected_components(pairs)
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


# semantic_dedup's governed cell size (uniques per k-means cell) and the
# factor past which the fast path splits a cell again
SEMDEDUP_CELL_SIZE = 1024
SEMDEDUP_REBALANCE = 4


def semantic_dedup(
    emb: DataFrame,
    k: int | None = None,
    iters: int = 2,
    min_sim: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign: str = "fast",
) -> DataFrame:
    """SemDeDup-style semantic deduplication: collapse EXACT duplicate
    vectors to their smallest id, cluster the unique vectors, then drop
    every representative that has a WITHIN-CLUSTER neighbor with cosine
    >= ``min_sim`` and a smaller id (keep-first, the minhash_dedup
    contract applied to meaning instead of n-grams). Returns the
    surviving rows of ``emb``.

    The exact-collapse stage is both a correctness identity and THE
    scale lever. Identity: a non-representative always dies (its
    representative has a smaller id at similarity 1.0), and a
    representative's survival depends only on smaller-id
    representatives (similarity to any duplicate equals similarity to
    that duplicate's representative), so pair-dedup over representatives
    alone reproduces the keep-first contract exactly. Scale: web-scale
    corpora are ~30-50% exact copies, and without the collapse every
    duplicate CLASS hits the within-cell stage quadratically (a 10k-copy
    boilerplate vector alone is 5·10^7 pairs); after it, duplicate mass
    costs one linear hash-groupBy on the vector bytes — the exact_dedup
    shape — and never reaches the quadratic stage (measured: the 10x
    smoke's replicated corpus went 102.8s -> flat, see SCALE_SMOKE_r07.json
    in git history).

    Clustering is :func:`similarity.kmeans_exact` + the exact family's
    nearest-centroid pick (the ivf_topk_exact assignment): every
    routing decision is partitioning-independent and replayable in SQL,
    so the FULL result — which natural near-duplicates get caught, not
    just a planted floor — sits under an exact DuckDB oracle (collapse
    CTE + unrolled Lloyd CTEs + the same assignment/pair CTEs). An
    exact copy is dropped in the collapse by construction, so recall on
    exact duplicates is 1 whatever the data.

    Scale shape: the SemDeDup trade — pair cost is Σ_cells |cell|² over
    UNIQUE vectors, controlled by the cell count. With ``k=None`` (the
    default) the cell count is GOVERNED, not guessed: the collapse's
    unique count n is measured (the collapsed relation is checkpointed,
    so the count job and every downstream stage share one
    materialization) and ``k = ceil(n / SEMDEDUP_CELL_SIZE)``, which pins
    expected Σ|cell|² ≈ n·SEMDEDUP_CELL_SIZE — LINEAR in uniques at any
    corpus size, where any fixed k degrades quadratically (at 10^9
    uniques and k=16, one cell is ~6·10^7 vectors ⇒ ~2·10^15 pairs).
    An explicit ``k`` bypasses the count (callers whose oracle unrolls
    k-means CTEs must pin it). The join key is the cell id, so disjoint
    cells never meet, and the 100 TB layout co-partitions members by
    cell (write bucketed by cid, the persisted-IVF pattern). Cosine is
    computed inside the join stage; losers reduce to a distinct id set,
    survivors semi-join back — no window over the corpus anywhere.

    Assignment engines (``assign``): ``"fast"`` (DEFAULT — the
    production default is the scale-safe default) routes with the
    Arrow-matmul spherical k-means (kmeans_centroids + one narrow
    pandas-UDF matmul pass per vector — n·k FLOPS in numpy, no
    shuffle): measured 10x unique growth → ~4.4x cost (SCALE_SMOKE, in git history),
    linear-ish under the governed k. Cells only steer which candidates
    meet; exact-copy recall stays 1 via the collapse either way.
    ``"exact"`` clusters and routes with the decimal-exact Lloyd
    rounds — every routing decision replayable in SQL, the
    oracle-gated path (dedup_semantic_planted pins it) — but its
    assignment is an exploded O(n·k) decimal aggregate, i.e.
    O(n²/SEMDEDUP_CELL_SIZE) under the governed k (measured r8: 85s for only
    20k uniques at f10; the SCALE_SMOKE crossover line, in git history, records where
    it becomes untenable). Never default it at scale. Past ~10^4
    derived centroids the fast path's k×dim centroid broadcast itself
    becomes the ceiling. The fast path guards against skew: it
    second-level-splits final cells larger than SEMDEDUP_REBALANCE x
    SEMDEDUP_CELL_SIZE before the pair join.

    .. versionchanged:: round 9
       ``assign`` DEFAULTS to ``"fast"`` (was ``"exact"``). Exact-copy
       recall is unchanged (the collapse handles it, recall 1 either
       way), but near-duplicate survivor sets can differ from r8
       outputs because cells are carved differently; pipelines that
       relied on the SQL-replayable routing must pin
       ``assign="exact"`` explicitly (the oracle query does).
    """
    if assign not in ("fast", "exact"):
        raise ValueError(f"assign must be 'fast' or 'exact', got {assign!r}")
    from .similarity import (
        _as_double_array,
        kmeans_exact,
    )

    reps = (
        emb.select(
            F.col(id_col).alias("__vid"),
            _as_double_array(F.col(vec_col)).alias("__vec"),
        )
        .groupBy("__vec")
        .agg(F.min("__vid").alias("__vid"))
    )
    # ONE evaluation of the collapse for every consumer. Exchange reuse
    # does NOT cover it: the clustering branches and the seed/back-join
    # branches give the collapse aggregate different pruned projections
    # and pushed predicates, so the subtrees de-canonicalize and the
    # exact path re-planned the collapse (and its corpus scan) twice
    # (plan-verified: 2 hashpartitioning(__vec) exchanges, 4 full-width
    # scans). LAZY mark: the first consumer stage materializes, no
    # dedicated job — an EAGER checkpoint here measured ~10-20% slower
    # on the sf0.1 planted query (the extra-job trap; comment history).
    reps = reps.localCheckpoint(eager=False)
    if k is None:
        # Deriving k needs the unique count — the count job doubles as
        # the checkpoint materializer; downstream stages read the blocks
        n_unique = reps.count()
        k = max(1, -(-n_unique // SEMDEDUP_CELL_SIZE))  # ceil div
    rep_emb = reps.select(
        F.col("__vid").alias(id_col), F.col("__vec").alias(vec_col)
    )
    if assign == "fast":
        from .similarity import _cell_router, kmeans_centroids

        cn = kmeans_centroids(
            rep_emb, k=k, iters=iters, id_col=id_col, vec_col=vec_col
        )
        members = reps.select("__vid", "__vec").withColumn(
            "cell", F.element_at(_cell_router(cn, 1)("__vec"), 1)
        )
        # The n·k matmul assignment is re-consumed by the rebalance
        # size-probe, the sub-cluster fit, and BOTH sides of the pair
        # self-join — without a checkpoint the pandas-UDF pass runs 3-4
        # times (the collapse is checkpointed for the same reason).
        members = members.localCheckpoint(eager=True)
        # Skew guard: governed k bounds the EXPECTED cell size, but a
        # dominant semantic cluster can still pile into one cell and
        # re-quadraticize the pair join. Cells past SEMDEDUP_REBALANCE x
        # SEMDEDUP_CELL_SIZE get ONE second-level split — a single global
        # sub-clustering fit on the oversized cells' members (no
        # per-group models), keyed (cell, sub): near-identical vectors
        # still co-route (they are near each other under any
        # clustering of their region), so the candidate contract is
        # the same approximation as level 1 while the worst cell
        # shrinks to ~oversized_mass/k2. The size probe collects
        # <= k rows (the kmeans k-row-collect shape).
        counts = members.groupBy("cell").count().collect()
        big = sorted(
            r["cell"]
            for r in counts
            if r["count"] > SEMDEDUP_REBALANCE * SEMDEDUP_CELL_SIZE
        )
        if big:
            n_big = sum(r["count"] for r in counts if r["cell"] in set(big))
            k2 = max(2, -(-n_big // SEMDEDUP_CELL_SIZE))
            # The composite key below multiplies cell by 1e6; a
            # larger k2 would let sub-keys bleed into the next
            # cell's range and collide unrelated cells.
            assert k2 < 1_000_000 - 1, (
                f"rebalance k2={k2} would overflow the composite "
                "cell key; raise SEMDEDUP_CELL_SIZE"
            )
            sub = members.filter(F.col("cell").isin(big)).select(
                F.col("__vid").alias(id_col),
                F.col("__vec").alias(vec_col),
            )
            cn2 = kmeans_centroids(
                sub, k=k2, iters=iters, id_col=id_col, vec_col=vec_col
            )
            subcell = F.when(
                F.col("cell").isin(big),
                F.element_at(_cell_router(cn2, 1)("__vec"), 1),
            ).otherwise(F.lit(-1))
            # bigint arithmetic: with governed k = ceil(n/1024) a
            # cell id past ~2147 (> ~2.2M uniques — exactly the fast
            # path's regime) would overflow int32 under the 1e6
            # multiplier (ANSI mode throws; ANSI-off wraps silently
            # and collides unrelated cells).
            members = members.withColumn("__sub", subcell).select(
                "__vid",
                "__vec",
                (
                    F.col("cell").cast("bigint") * F.lit(1_000_000)
                    + F.col("__sub").cast("bigint")
                    + F.lit(1)
                ).alias("cell"),
            )
    else:
        from .similarity import _exploded, _keyed_corpus, _nearest, _sq_dists

        cents = kmeans_exact(
            rep_emb, k=k, iters=iters, id_col=id_col, vec_col=vec_col
        )
        cm = cents.select("cid", "pos", F.col("centroid").alias("c"))
        # the SAME _keyed_corpus subtree kmeans_exact(rep_emb) builds
        # internally — ReuseExchange serves the routing pass and the
        # vector back-join from the one collapsed-reps materialization
        base = _keyed_corpus(rep_emb, id_col, vec_col)
        members = (
            _nearest(_sq_dists(_exploded(base), cm, ["vid"]), ["vid"])
            .select("vid", F.col("cid").alias("cell"))
            .join(base, "vid")
            .select(
                F.col("vid").alias("__vid"), "cell", F.col("__vec")
            )
        )
    # Precompute each member's norm ONCE (n interpreted array folds) so the
    # quadratic pair stage evaluates only the dot — HOF lambdas run
    # interpreted with no CSE, and cosine_similarity's inline norms would
    # triple the per-pair cost (the README 30x trap, measured ~60s of the
    # f10 unique smoke). Float-identical to the inline form: same norm
    # expression per array, same dot / (na * nb) association.
    from ..functions import dot as _dot, norm as _norm

    members = members.withColumn("__nr", _norm(F.col("__vec")))
    a, b = members.alias("a"), members.alias("b")
    sim = F.round(
        _dot(F.col("a.__vec"), F.col("b.__vec"))
        / (F.col("a.__nr") * F.col("b.__nr")),
        6,
    )
    losers = (
        a.join(
            b.hint("SHUFFLE_HASH"),
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.__vid") < F.col("b.__vid")),
        )
        .filter(sim >= min_sim)
        .select(F.col("b.__vid").alias("__vid"))
        .distinct()
    )
    keep = (
        reps.select("__vid")
        .join(losers, "__vid", "left_anti")
        .select(F.col("__vid").alias(id_col))
    )
    return emb.join(keep, id_col, "left_semi")


EDIT_JOIN_CONF = "spark.etl_ipl.editDistance.joinStrategy"


def edit_distance_pairs(
    df: DataFrame,
    name_col: str,
    id_col: str,
    block_col: str | None = None,
    k: int = 2,
    join_strategy: str | None = None,
) -> DataFrame:
    """Exact edit-distance pairs (levenshtein <= k, k in {1, 2}) via
    DELETION-NEIGHBORHOOD blocking: if lev(a, b) <= k, deleting <= k chars
    from each side reaches a common string, so candidates = pairs sharing
    any (block, delete-<=k variant) key — exact recall with bounded block
    sizes at any corpus scale, never O(n^2).

    Perf shape (136s -> measured below at the 10x smoke, 150k names /
    1.6M true pairs): the self-join carries ONLY (hash, id, len) — 16-byte
    rows — and candidate pairs are deduped BEFORE names are re-attached,
    so a true pair that shares ~L variants costs ~L narrow join rows but
    exactly ONE verification; verification uses the THRESHOLD form of
    levenshtein (banded O(k·L) DP with early exit, not O(L^2)); a
    |len_a - len_b| <= k join predicate drops cross-length hash collisions
    for free. Variants come from exploded sequence generators + one
    codegen'd CASE (interpreted transform() lambdas were 3x slower).

    The self-join is SHUFFLE_HASH via the join's own ENSURE_REQUIREMENTS
    exchange, which both aliases canonicalize to one shuffle
    (ReusedExchange). Measured alternatives at the 100x smoke corpus
    (1.5M names, ~255M variant rows, local[32]): SMJ (MERGE hint) 279s
    at 48g / 225s at 24g — two external sorts of the variant relation,
    but it spills and never hard-fails; an explicit repartition(n,
    "__vh") to shrink the builds is a trap — REPARTITION_BY_NUM
    exchanges do NOT reuse across self-join aliases, so the variant
    explode runs and shuffles twice (389s). SHUFFLE_HASH wins at ~143s
    but sets a hard memory floor: an SHJ build cannot spill, the variant
    relation is ~L² rows per name (k=2), and a 32-thread executor holds
    32 concurrent per-task builds (rows/partitions x ~64B each) in the
    unified pool — the round-4 smoke's "needs 48g driver" was THIS join
    failing its build allocation ("Can't acquire 268435456 bytes to
    build hash relation") at shuffle.partitions=64, not a driver or
    checkpoint limit. Keeping the ~2x win means sizing memory for the
    builds; pass join_strategy="MERGE" if the fleet would rather degrade
    (spill) than fail. The strategy is also conf-gated for fleets that
    can't touch call sites: set ``spark.etl_ipl.editDistance.joinStrategy
    = MERGE`` (session conf) and every call with join_strategy=None picks
    it up; the explicit argument always wins. Measured at the factor-100
    smoke: MERGE completes at 24 g (spills, 225 s) where SHUFFLE_HASH
    needs 48 g (143 s) — see SCALE_SMOKE_r06.json in git history.

    Returns (id_a, id_b, dist) with id_a < id_b.
    """
    if k not in (1, 2):
        raise ValueError("edit_distance_pairs supports k = 1 or 2")
    if join_strategy is None:
        join_strategy = df.sparkSession.conf.get(EDIT_JOIN_CONF, "SHUFFLE_HASH")
    name, idc = F.col(name_col), F.col(id_col)
    block = F.col(block_col) if block_col else F.lit(0)
    base = df.select(
        idc.alias("__id"), name.alias("__name"), block.alias("__blk")
    )
    s1 = base.withColumn(
        "i", F.explode(F.sequence(F.lit(0), F.length("__name")))
    )
    if k == 2:
        # j ranges over second-deletion positions AFTER i; the i == len(name)
        # case must yield no extra j (an unguarded sequence(i+1, len) with
        # start > stop silently generates a DESCENDING range whose spurious
        # j values duplicate the single-deletion variant).
        s2 = s1.withColumn(
            "j",
            F.explode(
                F.when(F.col("i") == 0, F.array(F.lit(0))).otherwise(
                    F.concat(
                        F.array(F.lit(0)),
                        F.when(
                            F.col("i") < F.length("__name"),
                            F.sequence(F.col("i") + 1, F.length("__name")),
                        ).otherwise(F.array().cast("array<int>")),
                    )
                )
            ),
        )
    else:
        s2 = s1.withColumn("j", F.lit(0))
    variant = (
        F.when(F.col("i") == 0, F.col("__name"))
        .when(
            F.col("j") == 0,
            F.expr("concat(substring(__name, 1, i-1), substring(__name, i+1))"),
        )
        .otherwise(
            F.expr(
                "concat(substring(__name, 1, i-1),"
                " substring(__name, i+1, j-i-1), substring(__name, j+1))"
            )
        )
    )
    variants = s2.select(
        "__id",
        F.length("__name").alias("__ln"),
        F.xxhash64("__blk", variant).alias("__vh"),
    )
    a, b = variants.alias("a"), variants.alias("b")
    cand = (
        a.join(
            b.hint(join_strategy),
            (F.col("a.__vh") == F.col("b.__vh"))
            & (F.col("a.__id") < F.col("b.__id"))
            # lev(a,b) <= k forces |len(a)-len(b)| <= k: prune hash-collision
            # candidates across incompatible lengths before the pair-dedup
            & (F.abs(F.col("a.__ln") - F.col("b.__ln")) <= k),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )
    na = base.select(F.col("__id").alias("id_a"), F.col("__name").alias("__na"))
    nb = base.select(F.col("__id").alias("id_b"), F.col("__name").alias("__nb"))
    return (
        cand.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.levenshtein(F.col("__na"), F.col("__nb"), k).alias("dist"),
        )
        .filter(F.col("dist") >= 0)  # threshold form: -1 means "> k"
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 16,
    scope: str = "global",
) -> DataFrame:
    """C4-style span-level deduplication: split every document into
    NON-overlapping ``window``-token spans, keep only the globally FIRST
    occurrence of each exact span (ordered by (doc, span index) — the
    same "originals survive, later copies drop" contract as
    exact_dedup), and reassemble each document from its surviving spans.
    This is the finer-grained sibling of document dedup: a page that
    copies three paragraphs from an earlier page keeps its novel
    paragraphs and loses the copied ones, which whole-document hashing
    cannot express.

    Scale: one chunking map (no shuffle), one span-text-keyed window for
    first-occurrence ranking (partitioned by span text — the key is
    high-cardinality so no reducer hot-spots; a boilerplate span
    repeated 10^6 times bounds ONE partition's rows, the same exposure
    as exact_dedup's groupBy), and one doc-keyed aggregate to
    reassemble. Everything is strings/ints — the operator is exactly
    reproducible cross-engine with no float discipline needed.

    ``scope="document"`` restricts first-occurrence to WITHIN each
    document (partition by (doc, span text)): the self-repetition
    trimmer — a page whose template repeats its own header keeps one
    copy, but cross-document boilerplate is untouched. The Lee et al.
    intra-doc repeat removal next to the C4 global form.

    Returns (id_col, n_spans, n_kept, clean_text); a document whose
    every span was seen earlier comes back with n_kept = 0 and
    clean_text = ''.
    """
    from .curation import chunk_sliding

    if scope not in ("global", "document"):
        raise ValueError("scope must be 'global' or 'document'")
    ch = chunk_sliding(df, id_col, text_col, window=window, stride=window)
    part = (
        ["chunk_text"] if scope == "global" else [id_col, "chunk_text"]
    )
    w = Window.partitionBy(*part).orderBy(
        F.col(id_col).asc(), F.col("chunk_idx").asc()
    )
    ranked = ch.withColumn("__rn", F.row_number().over(w))
    return ranked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum((F.col("__rn") == 1).cast("int")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__rn") == 1,
                            F.struct("chunk_idx", "chunk_text"),
                        )
                    )
                ),
                lambda s: s["chunk_text"],
            ),
            " ",
        ).alias("clean_text"),
    )


def minhash_sig_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xx",
) -> DataFrame:
    """The persistable LSH index state for cross-snapshot dedup:
    (doc_id, sig array<bigint>) — minhash_signatures' 32-hash word
    3-gram signature (seed 42), one row per document of the EXISTING
    corpus. Signatures are the expensive part (tokenize + shingle + hash
    every byte of text); band keys are cheap arithmetic over the array,
    so the index stores signatures only and each search derives its own
    banding — the same signature table serves any (bands, threshold)
    choice later. Write it partitioned/bucketed however the fleet likes;
    the incremental probe below never re-reads the old TEXT."""
    return minhash_signatures(df, text_col, id_col, hash_family=hash_family).select(
        F.col("__id").alias(id_col), F.col("__sig").alias("sig")
    )


def minhash_incremental_pairs(
    new_docs: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_jaccard: float = 0.7,
    hash_family: str = "xx",
) -> DataFrame:
    """Cross-SNAPSHOT near-dup detection — the crawl N+1 shape: which
    documents of a NEW batch near-duplicate the EXISTING corpus, without
    ever rescanning the existing corpus text. The old side enters as the
    persisted signature index (:func:`minhash_sig_index`); only the new
    batch is tokenized/shingled/hashed (the index's signature: 32 hashes,
    seed 42). Both sides derive band keys (8 bands of 4 rows) from
    their signature arrays and meet on (band_idx, band_key) — the
    O(new·bands) LSH shuffle against an index pre-bucketable by band key
    at rest, never new × old.

    The same :func:`band_join` serves the cross-relation join (both
    sides carry the per-band key array, so a pair agreeing on k bands
    survives exactly once), and with
    ``hash_family="md5"`` every signature and band key is cross-engine
    exact, so the incremental pipeline sits under a full DuckDB oracle.

    Returns (new_id, old_id, est_jaccard) for pairs at or above
    ``min_jaccard``. New-batch-internal duplicates are NOT this
    operator's job — run the self-join pair dedup on the batch first,
    then union the survivors' signatures into the index."""
    new_sig = minhash_signatures(new_docs, text_col, id_col, hash_family=hash_family)
    old_sig = index.select(
        F.col(id_col).alias("__id"), F.col("sig").alias("__sig")
    )
    keys = F.array(*_band_keys("__sig", 8, 4, hash_family))
    return _minhash_band_join(
        new_sig.select("__id", "__sig", keys.alias("__bhs")),
        old_sig.select("__id", "__sig", keys.alias("__bhs")),
        32,
        min_jaccard,
        ("new_id", "old_id"),
        None,
    )
