"""Column-expression helpers (pure built-ins — JVM-side, codegen-friendly).

Everything here returns a ``Column`` built from ``pyspark.sql.functions``
higher-order functions, so vector math stays inside Tungsten instead of
round-tripping rows through Python.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def dot(a, b) -> Column:
    """Dot product of two array<numeric> columns via zip_with + aggregate."""
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a) -> Column:
    """L2 norm of an array<numeric> column."""
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_similarity(a, b) -> Column:
    """Cosine similarity of two array<numeric> columns. NULL-safe only in the
    sense of propagating nulls; zero vectors yield NULL (0/0)."""
    return dot(a, b) / (norm(a) * norm(b))


def l2_distance(a, b) -> Column:
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def token_count(text) -> Column:
    """Whitespace token count; empty/blank strings count 0."""
    text = F.col(text) if isinstance(text, str) else text
    trimmed = F.trim(text)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


BPE_PRETOKEN_PATTERN = r"'[A-Za-z]+|[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\s]"


def subword_token_count(text) -> Column:
    """BPE-style pre-tokenizer segment count (GPT-2-ish: contractions,
    letter runs, ≤3-digit number runs, single punctuation — the segments a
    byte-pair merge would start from). A cheap, deterministic proxy for
    "how many LLM tokens is this corpus" that runs as one JVM-side
    regexp_count — no tokenizer library, no UDF. The pattern is restricted
    to constructs Java regex and RE2 (DuckDB) interpret identically, so
    the count is oracle-checkable."""
    text = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(text, F.lit(BPE_PRETOKEN_PATTERN))


def normalized_text(text) -> Column:
    """Canonical text for exact dedup: lowercase, collapse whitespace runs
    to single spaces, THEN trim. Order matters: trim() strips only SPACES
    (same in DuckDB), so trimming first leaves a leading "\\t" behind as a
    stray " " — collapsing first guarantees any edge whitespace IS a space.
    Oracle twin: trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))."""
    text = F.col(text) if isinstance(text, str) else text
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def content_hash(text) -> Column:
    """Stable content hash for exact dedup (SURVEY §2.8 F7 / §2.11 X1):
    SHA-256 of the normalized text."""
    return F.sha2(normalized_text(text), 256)


#: 2^31 - 1 (Mersenne prime) — the shared modulus of the portable
#: universal-hash family: operands stay below 2^31, so a*h + b never
#: overflows signed-64 arithmetic in ANY SQL engine.
PORTABLE_MOD = 2_147_483_647


def portable_hash64(col, salt: str = "") -> Column:
    """Cross-engine 60-bit hash: the first 15 hex chars of
    md5(col || salt) read as a non-negative bigint. Unlike xxhash64
    (JVM-only), this is bit-reproducible in any engine with md5 —
    DuckDB twin: ('0x' || substr(md5(x || salt), 1, 15))::BIGINT —
    which is what lets seeded sketch pipelines (minhash, simhash,
    rolling fingerprints) carry EXACT oracles instead of rows-only
    checks. ~10× the cost of xxhash64 per call, so hot paths hash each
    string once and derive salted variants arithmetically
    (portable_hash31 + a*h+b mod PORTABLE_MOD)."""
    c = F.col(col) if isinstance(col, str) else col
    if salt:
        c = F.concat(c, F.lit(salt))
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def portable_hash31(col, salt: str = "") -> Column:
    """portable_hash64 reduced mod 2^31-1: small enough that universal-
    hash products a*h never leave bigint range. DuckDB twin:
    (('0x' || substr(md5(x || salt), 1, 15))::BIGINT % 2147483647)."""
    return F.pmod(portable_hash64(col, salt), F.lit(PORTABLE_MOD))


def sort_key_int(col) -> Column:
    """SO2: integer sort key from a string column, non-numeric -> 0
    (reference: compare_schema.py:66-70 casts version labels to int with a
    0 fallback so non-numeric names sort first deterministically)."""
    c = F.col(col) if isinstance(col, str) else col
    # try_cast: ANSI mode (Spark 4 default) makes a plain cast THROW on
    # malformed strings instead of yielding NULL.
    return F.coalesce(c.try_cast("int"), F.lit(0))


def stable_sum(col, digits: int = 2) -> Column:
    """Order-independent rounded sum of a double column.

    Double summation order varies with partitioning, so round(sum(double))
    can flip on a half-way boundary between runs (or vs. another engine).
    Casting each row to DECIMAL(38,10) first makes addition exact and
    associative; the final cast back to double is a single deterministic
    rounding. Oracle twin: round(CAST(sum(CAST(x AS DECIMAL(38,10))) AS
    DOUBLE), d).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c.cast("decimal(38,10)")).cast("double"), digits)


def stable_avg(col) -> Column:
    """Order-independent mean of a double column rounded to 4dp (see stable_sum);
    exact decimal sum divided by the non-null count in double — one
    deterministic division. Oracle twin: round(CAST(sum(CAST(x AS
    DECIMAL(38,10))) AS DOUBLE) / count(x), 4)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c.cast("decimal(38,10)")).cast("double") / F.count(c), 4)


def stable_avg_long(col, digits: int = 4) -> Column:
    """Order-independent rounded mean of an integral column. Spark's
    avg(long) accumulates in double (order-dependent); sum(long) is exact,
    so divide that in double instead. Oracle twin: round(CAST(sum(x) AS
    DOUBLE) / count(x), d)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c).cast("double") / F.count(c), digits)


def range_bucket(col, cuts) -> Column:
    """Bucket index of ``col`` under sorted boundary ``cuts`` — the
    data-derived range-bucket expression shared by every exact
    distributed rank/cumsum in this repo (layout._exact_ntile,
    curation.pack_token_shards, curation.negative_samples): a sum of
    codegen'd comparisons, so the bucketing rides inside the same
    projection as the rest of the row. NULLs land in bucket -1 when
    ``null_bucket`` semantics are needed, callers wrap it themselves
    (only the ntile path ranks NULLs)."""
    col = F.col(col) if isinstance(col, str) else col
    bucket = F.lit(0)
    for c in cuts:
        bucket = bucket + (col > F.lit(c)).cast("int")
    return bucket


def floor_parallelism(df: DataFrame, key) -> DataFrame:
    """Parallelism floor for a CPU-heavy narrow stage (guide §2.5 "one
    huge unsplittable file — repartition immediately after the read"):
    when the input arrives in fewer partitions than the cluster has
    slots (a couple of giant single-row-group files; the whole local
    fixture is one), the tokenize/hash/explode work that follows would
    run on those few cores while the rest idle. A deterministic
    key-hash repartition lifts the stage to defaultParallelism — but
    only when splits < slots, so at scale (splits >> slots) the branch
    never fires and the pipeline stays shuffle-free. Deterministic key
    (never round-robin): retried map tasks must reproduce the same
    row-to-partition assignment (SPARK-38388), and a keyed exchange
    skips round-robin's sort-before-repartition.

    Result-neutral by construction: every consumer in this repo
    aggregates by key afterwards, so row placement never reaches the
    answer."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        key = F.col(key) if isinstance(key, str) else key
        return df.repartition(par, key)
    return df
