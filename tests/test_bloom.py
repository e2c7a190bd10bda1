"""Bloom-filter join pruning (operators/bloom.py): the no-false-negative
guarantee, bounded word-table size, deterministic false positives, and
the broadcast-only probe plan shape."""

from __future__ import annotations

import pyspark.sql.functions as F

from etl_ipl_data_analysis_pipeline_spark.operators import bloom


def _keys(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "k long")


def test_no_false_negatives(spark):
    # every inserted key must pass the probe — the defining bloom property
    keys = list(range(0, 400, 3))
    ks = _keys(spark, keys)
    bl = bloom.bloom_build(ks, "k", num_bits=1024, num_hashes=3)
    probed = bloom.bloom_probe(ks, "k", bl, num_bits=1024, num_hashes=3)
    assert probed.filter(~F.col("bloom_pass")).count() == 0


def test_word_table_bounded(spark):
    # the broadcast artifact is <= num_bits/64 rows whatever the key count
    ks = _keys(spark, range(5000))
    bl = bloom.bloom_build(ks, "k", num_bits=4096, num_hashes=3)
    assert bl.count() <= 4096 // 64


def test_false_positive_rate_and_determinism(spark):
    # disjoint probe keys: some deterministic false positives at a small
    # m, and the exact same set on a rebuild (pure function of inputs)
    ins = _keys(spark, range(0, 300))
    out = _keys(spark, range(10_000, 11_000))
    bl = bloom.bloom_build(ins, "k", num_bits=2048, num_hashes=3)
    hits1 = sorted(
        r.k
        for r in bloom.bloom_probe(out, "k", bl, num_bits=2048, num_hashes=3)
        .filter("bloom_pass")
        .collect()
    )
    # ~ (1-exp(-3*300/2048))^3 ~ 4.5% of 1000 — well under a quarter
    assert 0 < len(hits1) < 250
    bl2 = bloom.bloom_build(ins, "k", num_bits=2048, num_hashes=3)
    hits2 = sorted(
        r.k
        for r in bloom.bloom_probe(out, "k", bl2, num_bits=2048, num_hashes=3)
        .filter("bloom_pass")
        .collect()
    )
    assert hits1 == hits2


def test_probe_plan_is_broadcast_only(spark):
    # the fact side must never be exchanged by the probe: every word
    # lookup is a BroadcastHashJoin, nothing sort-merges
    ks = _keys(spark, range(200))
    fact = _keys(spark, range(2000))
    bl = bloom.bloom_build(ks, "k", num_bits=1024, num_hashes=3)
    probed = bloom.bloom_probe(fact, "k", bl, num_bits=1024, num_hashes=3)
    plan = probed._sc._jvm.PythonSQLUtils.explainString(
        probed._jdf.queryExecution(), "formatted"
    )
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_num_bits_must_be_word_aligned(spark):
    import pytest

    with pytest.raises(ValueError):
        bloom.bloom_build(_keys(spark, [1]), "k", num_bits=100)


def test_num_hashes_must_be_positive(spark):
    import pytest

    ks = _keys(spark, [1, 2])
    with pytest.raises(ValueError):
        bloom.bloom_build(ks, "k", num_bits=64, num_hashes=0)
    bl = bloom.bloom_build(ks, "k", num_bits=64, num_hashes=1)
    with pytest.raises(ValueError):
        bloom.bloom_probe(ks, "k", bl, num_bits=64, num_hashes=0)
