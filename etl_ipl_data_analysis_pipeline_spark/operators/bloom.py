"""Bloom-filter join pruning (SURVEY §2 J-family extension): probe a
huge fact table against a compact bitset of a (filtered) dimension's
keys WITHOUT shuffling the fact side.

At 100 TB the classic shapes for "orders whose customer is in segment X"
are a shuffle join (moves the fact table) or a broadcast semi join
(ships every dim key to every executor). A Bloom filter is the third
shape: hash each dim key into ``num_hashes`` positions of a
``num_bits``-bit bitset, OR the bits into 64-bit words (``num_bits/64``
rows — a few KB regardless of dim cardinality), broadcast THAT, and
keep only fact rows whose every position is set. No false negatives by
construction; false positives are a tunable rate the consumer either
tolerates (pre-filter before an exact join: Spark's own runtime bloom
pushdown, SPARK-32268) or resolves with a second exact pass over the
already-pruned remnant.

Determinism is the whole design: positions are md5-derived (first 15
hex chars = 60 bits, exactly double-representable — the same domain
trick as operators/sketches.py KMV), so the filter — false positives
included — is a pure function of (keys, num_bits, num_hashes)
and any engine reproduces it bit-for-bit. The DuckDB oracle twins
mirror the position arithmetic as a distinct-position set membership:
packing positions into words is storage, not semantics, so the two
forms agree on every probe by construction.

Everything stays JVM-side column arithmetic: md5/conv/shift/OR are
codegen'd, the build is one hash aggregate over ``num_hashes``x the
dim keys, and each probe lookup is a broadcast hash join against the
word relation (never an exchange on the fact).

Sizing: the word table is num_bits/64 longs — 2^24 bits is a 2 MB
broadcast and holds ~1.7M keys at 1% fp (k=3). Past the broadcast
threshold (~2^31 bits) the same plan degrades gracefully: the word
relation is partitioned on word_idx, and the probe's per-hash joins
become shuffles of (row-key, position) pairs — still narrow, never the
fact payload. At that size prefer raising num_hashes over num_bits, or
partition the key domain into per-bucket blooms built independently.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def bloom_position(key: Column, i: int, num_bits: int) -> Column:
    """Position of hash ``i`` for ``key``: md5(key ':' i) read
    as a 60-bit int, mod num_bits. CAST-to-string rendering of integer
    keys is identical across engines, so the oracle reproduces this
    exactly with ('0x' || substr(md5(...), 1, 15))::BIGINT % num_bits."""
    h = F.conv(
        F.substring(F.md5(F.concat(key.cast("string"), F.lit(f":{i}"))), 1, 15), 16, 10
    )
    return h.cast("long") % num_bits


def bloom_build(
    df: DataFrame,
    key_col: str,
    num_bits: int = 4096,
    num_hashes: int = 3,
) -> DataFrame:
    """Build the word table ``(word_idx long, word long)`` from the keys
    of ``df``: every key sets ``num_hashes`` bits; bits pack into 64-bit
    words via bit_or. Output is <= num_bits/64 rows whatever the key
    count — the broadcastable artifact. One explode (num_hashes x keys)
    and one hash aggregate; map-side partial bit_or keeps the exchange
    at num_bits/64 rows per partition."""
    if num_bits % 64 != 0:
        raise ValueError("num_bits must be a multiple of 64")
    if num_hashes < 1:
        raise ValueError("num_hashes must be >= 1")
    key = F.col(key_col)
    positions = df.select(
        F.explode(
            F.array(
                *[bloom_position(key, i, num_bits) for i in range(num_hashes)]
            )
        ).alias("__pos")
    )
    return (
        positions.select(
            F.expr("__pos DIV 64").alias("word_idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(__pos % 64 AS INT))").alias(
                "__bit"
            ),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("__bit").alias("word"))
    )


def bloom_probe(
    df: DataFrame,
    key_col: str,
    bloom: DataFrame,
    num_bits: int = 4096,
    num_hashes: int = 3,
    out_col: str = "bloom_pass",
) -> DataFrame:
    """Append boolean ``out_col``: True iff every one of the key's
    ``num_hashes`` positions is set in ``bloom``. One broadcast hash
    join per hash function against the <= num_bits/64-row word relation
    — the fact side is never exchanged, so the probe composes with
    whatever partitioning the caller already has. A word index absent
    from the (sparse) word table means no bit in that word is set."""
    if num_hashes < 1:
        raise ValueError("num_hashes must be >= 1")
    key = F.col(key_col)
    out = df
    tests = []
    for i in range(num_hashes):
        pos = bloom_position(key, i, num_bits)
        # compute once per hash: position, then word lookup via broadcast join
        out = out.withColumn(f"__bp{i}", pos)
        lut = bloom.select(
            F.col("word_idx").alias(f"__bw{i}_idx"), F.col("word").alias(f"__bw{i}_w")
        )
        out = out.join(
            F.broadcast(lut),
            F.expr(f"__bp{i} DIV 64") == F.col(f"__bw{i}_idx"),
            "left",
        )
        tests.append(
            F.coalesce(
                F.expr(
                    f"shiftrightunsigned(__bw{i}_w, CAST(__bp{i} % 64 AS INT)) & 1"
                )
                == 1,
                F.lit(False),
            )
        )
    passed = tests[0]
    for t in tests[1:]:
        passed = passed & t
    drop = [c for i in range(num_hashes) for c in (f"__bp{i}", f"__bw{i}_idx", f"__bw{i}_w")]
    return out.withColumn(out_col, passed).drop(*drop)
