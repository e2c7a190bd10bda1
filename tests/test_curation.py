"""Curation operators: deterministic splits/samples, repetition signals,
PII redaction, decontamination, shard packing."""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
import pytest

from etl_ipl_data_analysis_pipeline_spark.operators import curation


def _md5_bucket(key: str, salt: str = "") -> str:
    return hashlib.md5((key + salt).encode()).hexdigest()[:8]


@pytest.fixture()
def ids(spark):
    return spark.createDataFrame([(i,) for i in range(2000)], "id bigint")


class TestHashSplit:
    def test_fractions_and_exclusivity(self, spark, ids):
        out = curation.hash_split(
            ids, "id", [("train", 0.8), ("val", 0.1), ("test", 0.1)]
        )
        counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(
            F.count(F.lit(1)).alias("n")).collect()}
        assert sum(counts.values()) == 2000  # total preserved, splits disjoint
        assert 0.75 <= counts["train"] / 2000 <= 0.85
        assert 0.06 <= counts["val"] / 2000 <= 0.14

    def test_stable_under_corpus_growth(self, spark, ids):
        """Adding rows never reassigns an existing row — membership is a
        pure function of (key, salt)."""
        small = curation.hash_split(
            ids.filter(F.col("id") < 500), "id", [("a", 0.5), ("b", 0.5)]
        )
        big = curation.hash_split(ids, "id", [("a", 0.5), ("b", 0.5)])
        joined = small.alias("s").join(
            big.alias("b"), F.col("s.id") == F.col("b.id")
        )
        assert joined.filter(F.col("s.split") != F.col("b.split")).count() == 0

    def test_matches_python_md5(self, spark, ids):
        thr = curation.hex_threshold(0.3)
        out = {r["id"]: r["split"] for r in curation.hash_split(
            ids.filter(F.col("id") < 100), "id", [("x", 0.3), ("y", 0.7)]
        ).collect()}
        for i in range(100):
            expect = "x" if _md5_bucket(str(i)) < thr else "y"
            assert out[i] == expect, i

    def test_salt_redraws(self, spark, ids):
        a = curation.hash_split(ids, "id", [("x", 0.5), ("y", 0.5)], salt="s1")
        b = curation.hash_split(ids, "id", [("x", 0.5), ("y", 0.5)], salt="s2")
        moved = (
            a.alias("a")
            .join(b.alias("b"), F.col("a.id") == F.col("b.id"))
            .filter(F.col("a.split") != F.col("b.split"))
            .count()
        )
        assert 700 < moved < 1300  # ~half move under an independent draw


class TestMixtureSample:
    def test_group_rates(self, spark):
        rows = [(i, "en" if i % 2 == 0 else "de") for i in range(4000)]
        df = spark.createDataFrame(rows, "id bigint, lang string")
        out = curation.mixture_sample(
            df, "id", "lang", {"en": 1.0, "de": 0.25}
        )
        n = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n")).collect()}
        assert n["en"] == 2000  # keep-all really keeps all (mod 2^-32)
        assert 400 <= n["de"] <= 600

    def test_default_applies_to_unlisted_groups(self, spark):
        df = spark.createDataFrame(
            [(i, "xx") for i in range(1000)], "id bigint, lang string"
        )
        assert curation.mixture_sample(df, "id", "lang", {}, default=0.0).count() == 0


class TestStratifiedSample:
    def test_exact_counts_and_determinism(self, spark):
        rows = [(i, f"g{i % 5}") for i in range(1000)]
        df = spark.createDataFrame(rows, "id bigint, g string")
        out = curation.stratified_sample(df, "g", "id", 17)
        counts = [r["n"] for r in out.groupBy("g").agg(
            F.count(F.lit(1)).alias("n")).collect()]
        assert counts == [17] * 5
        again = curation.stratified_sample(df, "g", "id", 17)
        assert sorted(r["id"] for r in out.collect()) == sorted(
            r["id"] for r in again.collect()
        )

    def test_small_group_returns_whole_group(self, spark):
        df = spark.createDataFrame([(1, "g"), (2, "g")], "id bigint, g string")
        assert curation.stratified_sample(df, "g", "id", 10).count() == 2


class TestRepetitionStats:
    def test_known_document(self, spark):
        text = "aa bb\ncc dd\naa bb\nee ff"  # 4 lines, one duplicated
        df = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
        row = curation.repetition_stats(df).collect()[0]
        assert row["n_lines"] == 4
        assert row["dup_line_frac"] == pytest.approx(0.25)
        # tokens: aa bb cc dd aa bb ee ff -> 8 tokens, 6 distinct
        assert row["n_tokens"] == 8
        assert row["dup_token_frac"] == pytest.approx(0.25)
        # bigrams: "aa bb" x2 of 7 total
        assert row["top_bigram_frac"] == pytest.approx(round(2 / 7, 4))

    def test_looping_text_scores_high(self, spark):
        df = spark.createDataFrame(
            [(1, "spam " * 50), (2, " ".join(f"w{i}" for i in range(50)))],
            "doc_id bigint, text string",
        )
        out = {r["doc_id"]: r for r in curation.repetition_stats(df).collect()}
        assert out[1]["top_bigram_frac"] == 1.0
        assert out[2]["top_bigram_frac"] < 0.1
        assert out[1]["dup_token_frac"] > 0.9

    def test_empty_and_single_token(self, spark):
        df = spark.createDataFrame(
            [(1, ""), (2, "   "), (3, "one")], "doc_id bigint, text string"
        )
        out = {r["doc_id"]: r for r in curation.repetition_stats(df).collect()}
        for i in (1, 2):
            assert out[i]["n_tokens"] == 0
            assert out[i]["top_bigram_frac"] == 0.0
        assert out[3]["n_tokens"] == 1
        assert out[3]["top_bigram_frac"] == 0.0  # no bigram from one token


class TestRedactPII:
    def test_redacts_and_counts(self, spark):
        df = spark.createDataFrame(
            [
                (1, "mail a.b+c@ex-a.co.uk or 192.168.1.254 tel +12345678901"),
                (2, "clean text without identifiers"),
            ],
            "doc_id bigint, text string",
        )
        out = {r["doc_id"]: r for r in curation.redact_pii(df).collect()}
        assert out[1]["n_emails"] == 1
        assert out[1]["n_ipv4"] == 1
        assert out[1]["n_phones"] == 1
        assert out[1]["clean_text"] == "mail <EMAIL> or <IP> tel <PHONE>"
        assert out[2]["clean_text"] == "clean text without identifiers"
        assert out[2]["n_emails"] == 0


class TestNgramOverlap:
    def test_planted_contamination(self, spark):
        bench = spark.createDataFrame(
            [(100, "the quick brown fox jumps over the lazy dog today")],
            "doc_id bigint, text string",
        )
        corpus = spark.createDataFrame(
            [
                # contains the bench 8-gram "quick brown fox jumps over the lazy dog"
                (1, "intro quick brown fox jumps over the lazy dog outro"),
                (2, "totally unrelated words about data pipelines and spark"),
            ],
            "doc_id bigint, text string",
        )
        out = {r["doc_id"]: r for r in curation.ngram_overlap(
            corpus, bench, n=8).collect()}
        assert out[1]["contaminated"] is True
        assert out[1]["n_shared"] >= 1
        assert out[2]["contaminated"] is False
        assert out[2]["n_shared"] == 0

    def test_short_docs_never_match(self, spark):
        bench = spark.createDataFrame([(1, "a b c")], "doc_id bigint, text string")
        corpus = spark.createDataFrame([(2, "a b c")], "doc_id bigint, text string")
        out = curation.ngram_overlap(corpus, bench, n=8).collect()
        assert out[0]["n_shared"] == 0  # 3 tokens < 8: no grams exist


class TestPackTokenShards:
    def test_matches_naive_cumsum(self, spark):
        rows = [(i, (i * 37) % 100 + 1) for i in range(500)]
        df = spark.createDataFrame(rows, "id bigint, w int")
        out = {
            r["id"]: (r["cum_tokens_before"], r["shard"])
            for r in curation.pack_token_shards(
                df, "id", "w", budget=512, num_ranges=8
            ).collect()
        }
        cum = 0
        for i, w in rows:  # already in id order
            assert out[i] == (cum, cum // 512), i
            cum += w

    def test_shards_are_contiguous_ranges(self, spark):
        df = spark.createDataFrame([(i, 10) for i in range(100)], "id bigint, w int")
        out = curation.pack_token_shards(df, "id", "w", budget=100).collect()
        by_shard: dict[int, list[int]] = {}
        for r in out:
            by_shard.setdefault(r["shard"], []).append(r["id"])
        ids_in_order = [i for s in sorted(by_shard) for i in sorted(by_shard[s])]
        assert ids_in_order == list(range(100))  # shard boundaries cut id order
        assert all(len(v) == 10 for v in by_shard.values())  # 10 docs x 10 tokens


def test_weighted_sample_rates(spark):
    """Survival rate tracks the per-row weight: weight-1.0 rows all
    survive, weight-0 rows never do, and a 0.5 weight lands near half."""
    import pyspark.sql.functions as F

    from etl_ipl_data_analysis_pipeline_spark.operators import curation

    df = spark.range(3000).select(
        F.col("id"),
        (F.when(F.col("id") % 3 == 0, 1.0)
          .when(F.col("id") % 3 == 1, 0.0)
          .otherwise(0.5)).alias("w"),
    )
    kept = curation.weighted_sample(df, "id", "w").groupBy("w").count().collect()
    by_w = {r["w"]: r["count"] for r in kept}
    assert by_w[1.0] == 1000
    assert 0.0 not in by_w
    assert 380 <= by_w[0.5] <= 620
    # determinism: same input -> identical kept set
    a = {r["id"] for r in curation.weighted_sample(df, "id", "w").collect()}
    b = {r["id"] for r in curation.weighted_sample(df, "id", "w").collect()}
    assert a == b


class TestWeightedGroupSplit:
    def _skewed(self, spark):
        # one whale source carrying ~55% of the weight + 40 small ones:
        # the unbalanced shape plain group-hashing gets wrong
        rows = [(i, "whale", 100) for i in range(550)]
        rows += [
            (1000 + g * 10 + i, f"minnow{g:02d}", 100)
            for g in range(40)
            for i in range(10)
        ]
        return spark.createDataFrame(rows, "doc_id bigint, source string, w int")

    def test_ratios_hold_under_skew(self, spark):
        df = self._skewed(spark)
        splits = [("train", 0.8), ("val", 0.1), ("test", 0.1)]
        out = curation.weighted_group_split(df, "source", "w", splits)
        by_split = {
            r["split"]: r["w"]
            for r in out.groupBy("split").agg(F.sum("w").alias("w")).collect()
        }
        total = sum(by_split.values())
        assert total == 950 * 100
        # each split's weight share misses its target by at most the one
        # group straddling its boundary (the whale: 55% of the weight)
        max_group = 550 * 100 / total
        for name, frac in splits:
            share = by_split.get(name, 0) / total
            assert abs(share - frac) <= max_group + 1e-9, (name, share)
        # and the whale must land in train: its cumulative start can't
        # reach the 80% cut when it alone is 55% of the line... unless it
        # sorts last; either way SOME split exceeds its target only by
        # group-boundary slack, which the loop above already bounds

    def test_groups_stay_disjoint(self, spark):
        df = self._skewed(spark)
        out = curation.weighted_group_split(
            df, "source", "w", [("a", 0.5), ("b", 0.5)]
        )
        n_split_per_group = (
            out.groupBy("source")
            .agg(F.countDistinct("split").alias("k"))
            .filter(F.col("k") > 1)
            .count()
        )
        assert n_split_per_group == 0

    def test_deterministic(self, spark):
        df = self._skewed(spark)
        splits = [("train", 0.8), ("val", 0.1), ("test", 0.1)]
        a = {
            (r["doc_id"], r["split"])
            for r in curation.weighted_group_split(df, "source", "w", splits).collect()
        }
        b = {
            (r["doc_id"], r["split"])
            for r in curation.weighted_group_split(df, "source", "w", splits).collect()
        }
        assert a == b

    def test_beats_plain_hash_on_skew(self, spark):
        # the motivating property: on the skewed fixture the weighted
        # assignment's worst split-share error is no worse than plain
        # group-hashing's (which ignores weight entirely)
        df = self._skewed(spark)
        splits = [("train", 0.8), ("val", 0.1), ("test", 0.1)]

        def worst_err(out):
            by_split = {
                r["split"]: r["w"]
                for r in out.groupBy("split").agg(F.sum("w").alias("w")).collect()
            }
            total = sum(by_split.values())
            return max(
                abs(by_split.get(name, 0) / total - frac) for name, frac in splits
            )

        weighted = worst_err(curation.weighted_group_split(df, "source", "w", splits))
        hashed = worst_err(curation.hash_split(df, "source", splits))
        assert weighted <= hashed + 1e-9


def test_weighted_group_split_distributed_cumsum_identical(spark):
    """The num_ranges>1 path (range-bucketed cumsum + broadcast offsets,
    the 10^6-group scale shape) must assign every group to the SAME
    split as the single-window path for integer weights, across bucket
    counts that put one, several, or all groups per bucket."""
    import random

    from etl_ipl_data_analysis_pipeline_spark.operators import curation

    rng = random.Random(7)
    rows = [
        (i, f"src{i % 37}", rng.randint(1, 500)) for i in range(400)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, w long")
    splits = [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    want = {
        (r["doc_id"], r["split"])
        for r in curation.weighted_group_split(df, "source", "w", splits).collect()
    }
    for nr in (2, 8, 64, 1024):
        got = {
            (r["doc_id"], r["split"])
            for r in curation.weighted_group_split(
                df, "source", "w", splits, num_ranges=nr
            ).collect()
        }
        assert got == want, f"divergence at num_ranges={nr}"


def test_negative_samples_no_self_and_k_per_anchor(spark):
    from etl_ipl_data_analysis_pipeline_spark.operators import curation

    df = spark.createDataFrame([(i,) for i in range(50)], "doc_id long")
    neg = curation.negative_samples(df, "doc_id", k=4)
    rows = neg.collect()
    assert len(rows) == 50 * 4
    assert all(r.anchor_id != r.neg_id for r in rows)
    per = {}
    for r in rows:
        per.setdefault(r.anchor_id, set()).add(r.j)
    assert all(v == {0, 1, 2, 3} for v in per.values())
    # deterministic: a rebuild yields the identical pair set
    again = curation.negative_samples(df, "doc_id", k=4).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_negative_samples_degenerate_corpora(spark):
    from etl_ipl_data_analysis_pipeline_spark.operators import curation

    one = spark.createDataFrame([(7,)], "doc_id long")
    assert curation.negative_samples(one, "doc_id", k=3).count() == 0
    two = spark.createDataFrame([(1,), (2,)], "doc_id long")
    rows = curation.negative_samples(two, "doc_id", k=3).collect()
    # with N=2 every draw must hit the single other row
    assert len(rows) == 6
    assert all((r.anchor_id, r.neg_id) in {(1, 2), (2, 1)} for r in rows)


def test_negative_samples_plan_has_no_cartesian(spark):
    from etl_ipl_data_analysis_pipeline_spark.operators import curation

    df = spark.createDataFrame([(i,) for i in range(100)], "doc_id long")
    neg = curation.negative_samples(df, "doc_id", k=3)
    plan = neg._sc._jvm.PythonSQLUtils.explainString(
        neg._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_negative_samples_stratified_stay_in_group(spark):
    from etl_ipl_data_analysis_pipeline_spark.operators import curation

    rows = [(i, "g%d" % (i % 3)) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, grp string")
    neg = curation.negative_samples(df, "doc_id", k=3, group_col="grp")
    got = neg.collect()
    assert len(got) == 60 * 3
    lookup = {i: "g%d" % (i % 3) for i in range(60)}
    for r in got:
        assert r.anchor_id != r.neg_id
        assert lookup[r.neg_id] == r.grp == lookup[r.anchor_id]
    # a singleton group yields no pairs, others are unaffected
    rows2 = [(1, "solo"), (2, "pair"), (3, "pair")]
    df2 = spark.createDataFrame(rows2, "doc_id long, grp string")
    got2 = curation.negative_samples(df2, "doc_id", k=2, group_col="grp").collect()
    assert all(r.grp == "pair" for r in got2) and len(got2) == 4


class TestChunkSliding:
    def _df(self, spark, texts):
        return spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )

    def test_every_token_covered_and_no_subsumed_chunk(self, spark):
        n_toks = 37
        df = self._df(spark, [" ".join(f"t{i}" for i in range(n_toks))])
        rows = curation.chunk_sliding(
            df, "doc_id", "text", window=16, stride=8
        ).collect()
        covered = set()
        spans = []
        for r in rows:
            assert r["chunk_text"].split(" ") == [
                f"t{i}"
                for i in range(r["start_tok"], r["start_tok"] + r["n_chunk_tokens"])
            ]
            spans.append((r["start_tok"], r["start_tok"] + r["n_chunk_tokens"]))
            covered |= set(range(r["start_tok"], r["start_tok"] + r["n_chunk_tokens"]))
        assert covered == set(range(n_toks))
        spans.sort()
        for (a0, a1), (b0, b1) in zip(spans, spans[1:]):
            assert not (b0 >= a0 and b1 <= a1)  # no chunk inside its predecessor
            assert b0 - a0 == 8  # starts step by exactly the stride

    def test_overlap_is_window_minus_stride(self, spark):
        df = self._df(spark, [" ".join(f"t{i}" for i in range(40))])
        rows = sorted(
            curation.chunk_sliding(df, "doc_id", "text", window=16, stride=8)
            .collect(),
            key=lambda r: r["start_tok"],
        )
        for a, b in zip(rows, rows[1:]):
            a_toks = set(a["chunk_text"].split(" "))
            b_toks = set(b["chunk_text"].split(" "))
            if b["n_chunk_tokens"] == 16:
                assert len(a_toks & b_toks) == 8

    def test_empty_and_short_docs(self, spark):
        df = self._df(spark, ["", "   ", "one two"])
        rows = curation.chunk_sliding(
            df, "doc_id", "text", window=16, stride=8
        ).collect()
        # empty / whitespace-only docs vanish; a short doc is one chunk
        assert [(r["doc_id"], r["chunk_idx"], r["chunk_text"]) for r in rows] == [
            (2, 0, "one two")
        ]

    def test_plan_is_shuffle_free(self, spark):
        df = self._df(spark, ["a b c"])
        plan = (
            curation.chunk_sliding(df, "doc_id", "text")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan  # pure map: chunking must not shuffle

    def test_rejects_bad_params(self, spark):
        df = self._df(spark, ["a"])
        with pytest.raises(ValueError):
            curation.chunk_sliding(df, "doc_id", "text", window=0)
        with pytest.raises(ValueError):
            curation.chunk_sliding(df, "doc_id", "text", stride=0)
        with pytest.raises(ValueError):
            curation.chunk_sliding(df, "doc_id", "text", window=4, stride=5)


class TestTemperatureMixtureSample:
    def _df(self, spark, sizes):
        rows = []
        base = 0
        for g, n in sizes.items():
            rows += [(base + i, g) for i in range(n)]
            base += 10000
        return spark.createDataFrame(rows, "id long, grp string")

    def test_upweights_rare_groups_and_hits_target(self, spark):
        sizes = {"big": 1600, "small": 100}
        df = self._df(spark, sizes)
        out = curation.temperature_mixture_sample(
            df, "grp", "id", alpha=0.5, target_frac=0.5
        )
        kept = {r["grp"]: r["n"] for r in out.groupBy("grp").agg(
            F.count(F.lit(1)).alias("n")).collect()}
        rates = {g: kept.get(g, 0) / n for g, n in sizes.items()}
        # temperature flattens the mix: the rare group keeps a strictly
        # higher fraction of itself than the dominant group
        assert rates["small"] > rates["big"]
        total_rate = sum(kept.values()) / sum(sizes.values())
        assert 0.4 <= total_rate <= 0.6  # overall keep tracks target_frac

    def test_alpha_one_is_proportional(self, spark):
        """alpha=1 keeps every group at the same rate (the mixture is
        already proportional), so thresholds equal target_frac."""
        df = self._df(spark, {"a": 800, "b": 200})
        out = curation.temperature_mixture_sample(
            df, "grp", "id", alpha=1.0, target_frac=0.5
        )
        kept = {r["grp"]: r["n"] for r in out.groupBy("grp").agg(
            F.count(F.lit(1)).alias("n")).collect()}
        for g, n in {"a": 800, "b": 200}.items():
            assert 0.4 <= kept[g] / n <= 0.6

    def test_deterministic_and_subset(self, spark):
        df = self._df(spark, {"a": 300, "b": 60})
        out1 = sorted(r["id"] for r in curation.temperature_mixture_sample(
            df, "grp", "id").collect())
        out2 = sorted(r["id"] for r in curation.temperature_mixture_sample(
            df, "grp", "id").collect())
        assert out1 == out2  # pure function of (key, counts)
        all_ids = {r["id"] for r in df.collect()}
        assert set(out1) <= all_ids

    def test_rejects_unsupported_alpha(self, spark):
        df = self._df(spark, {"a": 10})
        with pytest.raises(ValueError):
            curation.temperature_mixture_sample(df, "grp", "id", alpha=0.3)


class TestContainmentPairs:
    def test_scores_and_threshold(self, spark):
        corpus = spark.createDataFrame(
            [
                (1, "a b c d e f g h i j"),       # superset of the bench doc
                (2, "a b c d e f g h x y"),       # shares 1 of 3 bench grams
                (3, "unrelated words entirely here ok"),
            ],
            "doc_id long, text string",
        )
        bench = spark.createDataFrame(
            [(9, "a b c d e f g h i j")], "doc_id long, text string"
        )
        out = {
            (r["corpus_id"], r["bench_id"]): r
            for r in curation.containment_pairs(
                corpus, bench, n=8, min_containment=0.0
            ).collect()
        }
        assert out[(1, 9)]["containment"] == pytest.approx(1.0)
        assert out[(2, 9)]["containment"] == pytest.approx(round(1 / 3, 4))
        assert (3, 9) not in out  # no shared grams -> no pair row at all
        # thresholding drops the weak pair
        strict = curation.containment_pairs(corpus, bench, n=8, min_containment=0.5)
        assert {(r["corpus_id"], r["bench_id"]) for r in strict.collect()} == {(1, 9)}

    def test_multiplicity_does_not_inflate(self, spark):
        corpus = spark.createDataFrame(
            [(1, "a b c d e f g h " * 3)], "doc_id long, text string"
        )
        bench = spark.createDataFrame(
            [(9, "a b c d e f g h")], "doc_id long, text string"
        )
        row = curation.containment_pairs(
            corpus, bench, n=8, min_containment=0.0
        ).collect()[0]
        # the bench doc has ONE distinct 8-gram; repeating it in the
        # corpus doc must not push n_shared past the distinct count
        assert row["n_shared"] == 1 and row["containment"] == pytest.approx(1.0)


class TestDsir:
    @pytest.fixture()
    def corpus(self, spark):
        # target docs (0-9) speak "alpha beta"; background (10-29) speaks
        # "gamma delta"; probe 100 is pure target vocab, probe 101 pure
        # background vocab, probe 102 is empty
        rows = [(i, "alpha beta alpha beta alpha", True) for i in range(10)]
        rows += [(i, "gamma delta gamma delta gamma", False) for i in range(10, 30)]
        rows += [
            (100, "alpha beta alpha beta", False),
            (101, "gamma delta gamma delta", False),
            (102, "   ", False),
        ]
        return spark.createDataFrame(rows, "doc_id bigint, text string, tgt boolean")

    def test_target_like_doc_outranks_background(self, spark, corpus):
        w = {
            r["doc_id"]: r["weight"]
            for r in curation.dsir_importance(corpus, F.col("tgt")).collect()
        }
        # target-vocab probe must score strictly above the background probe:
        # its buckets are dense in the target distribution, sparse overall
        assert w[100] > w[101]
        # gramless doc scores 0 and is still present
        assert w[102] == 0
        assert len(w) == 33

    def test_weight_is_count_weighted(self, spark, corpus):
        out = curation.dsir_importance(corpus, F.col("tgt")).collect()
        by_id = {r["doc_id"]: r for r in out}
        # 4 tokens + 3 bigrams
        assert by_id[100]["n_grams"] == 7
        assert by_id[102]["n_grams"] == 0
        assert by_id[100]["is_target"] is False
        assert by_id[0]["is_target"] is True

    def test_topk_deterministic_and_bounded_plan(self, spark, corpus):
        top = curation.dsir_topk(corpus, F.col("tgt"), k=5)
        plan = top._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan  # never a global sort
        got = [r["doc_id"] for r in top.collect()]
        # the ten identical target docs share the max weight; ties broken
        # by ascending id, so the head is exactly the first five of them
        assert got == [0, 1, 2, 3, 4]
        again = [r["doc_id"] for r in curation.dsir_topk(corpus, F.col("tgt"), k=5).collect()]
        assert got == again


class TestBlocklistFilter:
    def test_token_level_not_substring(self, spark):
        df = spark.createDataFrame(
            [
                (1, "the scrape tool"),      # substring of blocked term: keep
                (2, "a rape case"),           # exact token: blocked
                (3, "rape rape rape"),        # over max_hits
                (4, ""),                      # empty doc: keep, 0 tokens
            ],
            "doc_id bigint, text string",
        )
        out = {
            r["doc_id"]: r
            for r in curation.blocklist_filter(
                df, ["rape"], max_hits=1
            ).collect()
        }
        assert out[1]["n_blocked"] == 0 and out[1]["keep"]
        assert out[2]["n_blocked"] == 1 and out[2]["keep"]  # at max_hits
        assert out[3]["n_blocked"] == 3 and not out[3]["keep"]
        assert out[4]["n_tokens"] == 0 and out[4]["keep"]


class TestMixtureEpochs:
    def test_matches_python_md5_replication(self, spark):
        rows = [(i, ["en", "de", "fr", "zh"][i % 4]) for i in range(400)]
        df = spark.createDataFrame(rows, "doc_id bigint, lang string")
        epochs = {"en": 2.5, "de": 1.0, "fr": 0.25, "zh": 0.0}
        out = curation.mixture_epochs(
            df, "lang", epochs, key_col="doc_id", default=1.0, salt="s"
        ).collect()
        got = {}
        for r in out:
            got.setdefault(r["doc_id"], []).append(r["epoch"])
        thr = {g: curation.hex_threshold(e - int(e)) for g, e in epochs.items()}
        for i, lang in rows:
            e = epochs[lang]
            n = int(e) + (1 if _md5_bucket(str(i), "s") < thr[lang] else 0)
            expect = list(range(n)) if n else None
            assert got.get(i, None) == expect, (i, lang)

    def test_expected_mass_and_determinism(self, spark):
        rows = [(i, "en") for i in range(2000)]
        df = spark.createDataFrame(rows, "doc_id bigint, lang string")
        out = curation.mixture_epochs(df, "lang", {"en": 2.5}, key_col="doc_id")
        n = out.count()
        assert 4700 <= n <= 5300  # ~2.5 x 2000
        assert out.count() == n  # stable on re-run
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # pure narrow map


class TestClusterSafeSplit:
    def test_near_dups_never_straddle_the_wall(self, spark):
        """The leakage property itself: members of one near-dup component
        always share a split."""
        from etl_ipl_data_analysis_pipeline_spark.operators import dedup

        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        rows = [(i, base + f" tail{i}") for i in range(10)]          # one near-dup cluster
        rows += [(100 + i, f"solo{i} " * 12) for i in range(20)]      # singletons
        d = spark.createDataFrame(rows, "doc_id bigint, text string")
        pairs = dedup.minhash_near_dup_pairs(
            d, min_jaccard=0.5, hash_family="md5"
        ).select("id_a", "id_b")
        cc = dedup.connected_components(pairs)
        rooted = (
            d.select("doc_id")
            .join(cc, d.doc_id == cc.node, "left")
            .select(
                "doc_id",
                F.coalesce(F.col("component"), F.col("doc_id")).alias("root"),
            )
        )
        out = curation.hash_split(
            rooted, "root", [("a", 0.5), ("b", 0.5)], salt="s"
        ).collect()
        by_root = {}
        for r in out:
            by_root.setdefault(r["root"], set()).add(r["split"])
        assert all(len(s) == 1 for s in by_root.values())
        # the planted cluster really is one component rooted at its min id
        clustered = [r for r in out if r["doc_id"] < 100]
        assert {r["root"] for r in clustered} == {0}
