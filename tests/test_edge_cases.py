"""Empty/degenerate-input behavior: every operator must degrade to an
empty or identity result, never throw — at 100 TB some partition, some
day, WILL be empty."""

import pyspark.sql.functions as F
import pytest

from etl_ipl_data_analysis_pipeline_spark.operators import dedup, joins, similarity
from etl_ipl_data_analysis_pipeline_spark.operators.profile import profile


@pytest.fixture(scope="module")
def empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string")


def test_exact_dedup_empty(spark, empty_docs):
    assert dedup.exact_dedup(empty_docs).count() == 0


def test_minhash_pairs_empty(spark, empty_docs):
    assert dedup.minhash_near_dup_pairs(empty_docs).count() == 0


def test_jaccard_pairs_empty(spark, empty_docs):
    assert dedup.jaccard_pairs(empty_docs, max_df=10).count() == 0


def test_connected_components_empty(spark):
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup.connected_components(pairs).count() == 0


def test_minhash_dedup_cc_no_pairs_keeps_all(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "one two three four five six")],
        "doc_id long, text string",
    )
    assert dedup.minhash_dedup_cc(docs, min_jaccard=0.9).count() == 2


def test_asof_join_empty_right_keeps_left_nulled(spark):
    left = spark.createDataFrame(
        [("A", "2024-01-01 10:00:00", 1.0)], "sym string, ts string, price double"
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame([], "sym string, ts timestamp, quote double")
    out = joins.asof_join(left, right, on="sym").collect()
    assert len(out) == 1 and out[0]["quote"] is None


def test_salted_join_empty_dim(spark):
    fact = spark.createDataFrame([(1, 2)], "k int, v int")
    dim = spark.createDataFrame([], "k int, name string")
    assert joins.salted_join(fact, dim, "k").count() == 0


def test_brute_force_topk_empty_corpus(spark):
    emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
    probes = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<double>")
    assert similarity.brute_force_topk(emb, probes, probe_id_col="vec_id").count() == 0


def test_profile_empty_table(spark):
    df = spark.createDataFrame([], "x int, s string")
    rows = {r["column"]: r for r in profile(df).collect()}
    assert rows["x"]["n_rows"] == 0 and rows["x"]["n_distinct"] == 0
    assert rows["x"]["min_value"] is None


def test_whitespace_only_corpus_dedups_together(spark):
    docs = spark.createDataFrame(
        [(1, "   "), (2, "\t\n"), (3, "")], "doc_id long, text string"
    )
    # all normalize to empty -> one content-hash group survives
    assert dedup.exact_dedup(docs).count() == 1


def test_upsert_empty_updates_is_identity(spark):
    from etl_ipl_data_analysis_pipeline_spark.operators import incremental as inc

    cur = spark.createDataFrame([(1, "a")], "k long, v string")
    empty = spark.createDataFrame([], "k long, v string")
    assert [tuple(r) for r in inc.upsert(cur, empty, ["k"]).collect()] == [(1, "a")]
    # empty current: everything inserts
    assert inc.upsert(empty, cur, ["k"]).count() == 1


def test_latest_per_key_empty(spark):
    from etl_ipl_data_analysis_pipeline_spark.streaming import cdc

    empty = spark.createDataFrame([], "k long, ts long, v string")
    assert cdc.latest_per_key(empty, ["k"], ["ts"]).count() == 0


def test_sketch_distinct_empty(spark):
    from etl_ipl_data_analysis_pipeline_spark.operators import sketches

    empty = spark.createDataFrame([], "day string, user_id long")
    state = sketches.sketch_distinct(empty, ["day"], "user_id")
    assert state.count() == 0
    # global merge of an empty summary: one row, estimate 0
    est = sketches.estimate_distinct(
        sketches.merge_sketch_rollup(state, [])
    ).collect()
    assert len(est) == 1 and (est[0]["est_distinct"] or 0) == 0


def test_kmeans_fewer_vectors_than_k(spark):
    from etl_ipl_data_analysis_pipeline_spark.operators import similarity as sim

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    cents = sim.kmeans_centroids(vecs, k=8, iters=2)
    assert 1 <= len(cents) <= 2


def test_kmeans_empty_corpus_model_shape(spark):
    """Empty corpus: a 0×0 model (the array schema carries no width)."""
    from etl_ipl_data_analysis_pipeline_spark.operators import similarity as sim

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert sim.kmeans_centroids(empty, k=4, iters=1).shape == (0, 0)


def test_mixture_keep_all_fraction_keeps_every_row(spark):
    """frac=1.0 groups keep ALL rows — including a bucket that hashes to
    ffffffff (planted): the keep-all threshold must sit ABOVE the whole
    hash space, not clamp to its max value."""
    import hashlib

    from etl_ipl_data_analysis_pipeline_spark.operators import curation

    assert curation.hex_threshold(1.0) == "g"
    # find a key whose md5 bucket starts with 'ffff' (top 1/65536 of the
    # space) so the near-boundary region is actually exercised
    key = next(
        i for i in range(200_000)
        if hashlib.md5(str(i).encode()).hexdigest()[:4] == "ffff"
    )
    rows = [(key, "en")] + [(i, "en") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    kept = curation.mixture_sample(df, "doc_id", "lang", {"en": 1.0}, default=0.0)
    assert kept.count() == df.count()


def test_dq_constraints_single_scan_and_counts(spark):
    """All agg-kind rules fold into one aggregate over one scan (adding a
    rule must not add a rescan), and violation counts are exact."""
    from etl_ipl_data_analysis_pipeline_spark.operators import quality

    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, "a", 50.0), (2, "b", None), (None, "z", 1.0)],
        "k long, status string, v double",
    )
    dim = spark.createDataFrame([(1,), (2,)], "k long")
    rep = {
        r["rule"]: (r["violations"], r["passed"])
        for r in quality.check_constraints(
            df,
            [
                quality.not_null("k"),
                quality.unique("k"),
                quality.accepted_values("status", ["a", "b"]),
                quality.in_range("v", 0, 10),
                quality.references("k", dim, "k"),
            ],
        ).collect()
    }
    assert rep["not_null(k)"] == (1, False)
    # count_distinct skips the NULL key: 4 rows - 2 distinct non-null = 2
    assert rep["unique(k)"] == (2, False)
    assert rep["accepted_values(status)"] == (1, False)
    # NULL v is not a range violation (between -> NULL -> otherwise 0)
    assert rep["in_range(v)"] == (1, False)
    assert rep["references(k)"] == (0, True)

    agg_only = quality.check_constraints(
        df, [quality.not_null("k"), quality.unique("k"), quality.in_range("v", 0, 10)]
    )
    plan = agg_only._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("LocalRelation") + plan.count("Scan ExistingRDD") <= 1


def test_triangle_stats_known_graphs(spark):
    """Degree-oriented counting on graphs with known censuses: K4 has 4
    triangles and 12 wedges; a 4-cycle has none; a star has none (all
    wedges, no closures). Hub orientation must not double- or
    zero-count."""
    from etl_ipl_data_analysis_pipeline_spark.operators import graphs

    def stats(edge_list):
        df = spark.createDataFrame(edge_list, "u long, v long")
        return graphs.triangle_stats(df).collect()[0]

    k4 = stats([(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)])
    assert (k4["n_edges"], k4["n_wedges"], k4["n_triangles"]) == (6, 12, 4)
    assert k4["clustering"] == 1.0

    cycle = stats([(1, 2), (2, 3), (3, 4), (1, 4)])
    assert cycle["n_triangles"] == 0

    star = stats([(1, 2), (1, 3), (1, 4), (1, 5)])
    assert (star["n_wedges"], star["n_triangles"]) == (6, 0)


def test_pagerank_mass_and_ordering(spark):
    """Rank mass stays ~1 across iterations (symmetric graph, no
    dangling leak) and the hub of a star strictly out-ranks its leaves."""
    from etl_ipl_data_analysis_pipeline_spark.operators import graphs

    star = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (1, 5)], "u long, v long"
    )
    ranks = {r["node"]: r["rank"] for r in graphs.pagerank(star, iters=4).collect()}
    assert abs(sum(ranks.values()) - 1.0) < 1e-6
    hub, leaves = ranks[1], [ranks[n] for n in (2, 3, 4, 5)]
    assert all(hub > l for l in leaves)
    assert len(set(leaves)) == 1  # symmetry: identical leaves tie exactly


def test_dq_constraints_empty_rules_and_quoted_labels(spark):
    """ADVICE r5: an empty rule set returns an empty report (not an
    IndexError), and rule labels ride as literals — a label containing
    quotes/backslashes can't corrupt the plan the way the old
    string-formatted stack() SQL could."""
    import pyspark.sql.functions as F

    from etl_ipl_data_analysis_pipeline_spark.operators import quality

    df = spark.createDataFrame([(1,)], "k long")
    empty = quality.check_constraints(df, [])
    assert empty.columns == ["rule", "violations", "passed"]
    assert empty.count() == 0

    weird = "not_null(o'brien\\\"col)"
    rep = quality.check_constraints(
        df, [{"rule": weird, "kind": "agg", "metric": F.lit(0)}]
    ).collect()
    assert rep[0]["rule"] == weird and rep[0]["passed"]


def test_kmv_stream_zero_batches_returns_empty_sketch(spark, tmp_path):
    """ADVICE r5: a source that yields no micro-batches must return an
    empty sketch with the state schema, not raise on the missing state
    path."""
    from etl_ipl_data_analysis_pipeline_spark.streaming import sketch_stream

    src = tmp_path / "empty_src"
    src.mkdir()
    stream = (
        spark.readStream.schema("event_type string, user_id long")
        .parquet(str(src))
    )
    got = sketch_stream.run_kmv_stream(
        stream, str(tmp_path / "state"), "user_id", keys=["event_type"]
    )
    assert got.count() == 0
    assert "event_type" in got.columns


def test_ngram_ops_short_and_empty_docs(spark):
    """Docs shorter than n yield no grams and never crash the counts or
    the novelty join; an empty-text doc scores novelty 0 with 0 grams."""
    from etl_ipl_data_analysis_pipeline_spark.operators import textstats

    df = spark.createDataFrame(
        [
            (1, "a b c d"),          # two 3-grams
            (2, "a b"),              # too short: none
            (3, ""),                 # empty
            (4, "a b c d"),          # duplicate of 1: grams reach df 2
        ],
        "doc_id long, text string",
    )
    counts = {
        r["gram"]: (r["n_occurrences"], r["n_docs"])
        for r in textstats.ngram_counts(df, n=3, min_count=2).collect()
    }
    assert counts == {"a b c": (2, 2), "b c d": (2, 2)}

    nov = {
        r["doc_id"]: (r["n_grams"], r["n_common"], r["novelty"])
        for r in textstats.gram_novelty(df, n=3, common_df=2).collect()
    }
    assert nov[1] == (2, 2, 0.0)   # both grams appear in 2 docs -> common
    assert nov[2] == (0, 0, 0.0)
    assert nov[3] == (0, 0, 0.0)
    assert nov[4] == nov[1]


def test_two_hop_reach_path_and_hub_cap(spark):
    from etl_ipl_data_analysis_pipeline_spark.operators import graphs

    # path 1-2-3-4-5: reach = {1:2, 2:3, 3:4, 4:3, 5:2}
    path = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "u long, v long"
    )
    got = {r.node: r.n_reach_2hop for r in graphs.two_hop_reach(path).collect()}
    assert got == {1: 2, 2: 3, 3: 4, 4: 3, 5: 2}

    # star: hub 0 with leaves 1..5 — every leaf sees the hub plus the
    # other 4 leaves; with max_degree=2 the hub is barred as the middle
    # hop, so leaves fall back to their 1-hop reach (the documented
    # lower-bound semantics) while the hub's own rows are unaffected
    star = spark.createDataFrame([(0, i) for i in range(1, 6)], "u long, v long")
    full = {r.node: r.n_reach_2hop for r in graphs.two_hop_reach(star).collect()}
    assert full[0] == 5 and all(full[i] == 5 for i in range(1, 6))
    capped = {
        r.node: r.n_reach_2hop
        for r in graphs.two_hop_reach(star, max_degree=2).collect()
    }
    assert capped[0] == 5 and all(capped[i] == 1 for i in range(1, 6))

    # self-loops are dropped, never counted as reach
    loopy = spark.createDataFrame([(1, 1), (1, 2)], "u long, v long")
    got = {r.node: r.n_reach_2hop for r in graphs.two_hop_reach(loopy).collect()}
    assert got == {1: 1, 2: 1}


class TestGroupedExactQuantiles:
    def test_matches_percentile_and_partitioning_independent(self, spark):
        import random

        from etl_ipl_data_analysis_pipeline_spark.operators.profile import (
            grouped_exact_quantiles,
        )

        rng = random.Random(5)
        rows = [(f"g{i % 3}", rng.uniform(0, 100)) for i in range(900)]
        df = spark.createDataFrame(rows, "g string, v double")
        out = {
            (r["g"], r["q"]): r["quantile"]
            for r in grouped_exact_quantiles(df, "g", "v", [0.5, 0.9]).collect()
        }
        # semantic sanity vs Spark's in-memory exact percentile (same
        # type-7 interpolation); 6dp floor-rounding on our side
        import pyspark.sql.functions as F

        ref = {
            (r["g"], q): r[f"p{int(q*100)}"]
            for r in df.groupBy("g").agg(
                F.expr("percentile(v, 0.5)").alias("p50"),
                F.expr("percentile(v, 0.9)").alias("p90"),
            ).collect()
            for q in (0.5, 0.9)
        }
        for k, got in out.items():
            assert abs(got - ref[k]) < 1e-5, k
        again = {
            (r["g"], r["q"]): r["quantile"]
            for r in grouped_exact_quantiles(
                df.repartition(13), "g", "v", [0.5, 0.9]
            ).collect()
        }
        assert out == again

    def test_single_row_group_and_nulls(self, spark):
        from etl_ipl_data_analysis_pipeline_spark.operators.profile import (
            grouped_exact_quantiles,
        )

        df = spark.createDataFrame(
            [("a", 7.0), ("a", None), ("b", 1.0), ("b", 3.0)],
            "g string, v double",
        )
        out = {
            (r["g"], r["q"]): (r["n"], r["quantile"])
            for r in grouped_exact_quantiles(df, "g", "v", [0.5]).collect()
        }
        assert out[("a", 0.5)] == (1, 7.0)   # null excluded, n=1 -> the value
        assert out[("b", 0.5)] == (2, 2.0)   # midpoint interpolation

    def test_shuffle_path_equals_broadcast_path(self, spark):
        """broadcast_groups=False (the high-cardinality shuffle-join
        fallback) must produce byte-identical rows to the default
        collect-offsets path: same positions arithmetic, different
        physical plumbing."""
        import random

        from etl_ipl_data_analysis_pipeline_spark.operators.profile import (
            grouped_exact_quantiles,
        )

        rng = random.Random(29)
        rows = [(f"g{i % 5}", rng.gauss(50, 20)) for i in range(700)]
        rows += [("g0", None), ("g5", 3.0)]  # null + singleton group
        df = spark.createDataFrame(rows, "g string, v double")
        qs = [0.05, 0.5, 0.95]
        bc = sorted(
            map(tuple, grouped_exact_quantiles(df, "g", "v", qs).collect())
        )
        sh = sorted(
            map(
                tuple,
                grouped_exact_quantiles(
                    df, "g", "v", qs, broadcast_groups=False
                ).collect(),
            )
        )
        assert bc == sh and len(bc) == 6 * 3

class TestGroupedValueCountQuantiles:
    def test_matches_rank_machinery_bit_for_bit(self, spark):
        """The histogram reduction must equal the rank-based operator on
        integer-domain data: same type-7 arithmetic over different
        physical plans."""
        import random

        from etl_ipl_data_analysis_pipeline_spark.operators.profile import (
            grouped_exact_quantiles,
            grouped_value_count_quantiles,
        )

        rng = random.Random(41)
        rows = [(f"g{i % 4}", rng.randint(0, 50)) for i in range(800)]
        df = spark.createDataFrame(rows, "g string, v int")
        qs = [0.05, 0.5, 0.9]
        vc = sorted(
            map(tuple, grouped_value_count_quantiles(df, "g", "v", qs).collect())
        )
        rk = sorted(
            map(tuple, grouped_exact_quantiles(df, "g", "v", qs).collect())
        )
        assert vc == rk and len(vc) == 4 * 3
        # partitioning independence
        again = sorted(
            map(
                tuple,
                grouped_value_count_quantiles(
                    df.repartition(13), "g", "v", qs
                ).collect(),
            )
        )
        assert vc == again

    def test_nulls_and_pre_counted_histogram(self, spark):
        import pyspark.sql.functions as F

        from etl_ipl_data_analysis_pipeline_spark.operators.profile import (
            grouped_value_count_quantiles,
        )

        df = spark.createDataFrame(
            [("a", 7), ("a", None), ("b", 1), ("b", 3), ("c", None)],
            "g string, v int",
        )
        out = {
            (r["g"], r["q"]): (r["n"], r["quantile"])
            for r in grouped_value_count_quantiles(df, "g", "v", [0.5]).collect()
        }
        # null values excluded; all-null group c absent entirely
        assert out == {("a", 0.5): (1, 7.0), ("b", 0.5): (2, 2.0)}
        # pre-counted histogram (null-value row included, as a caller
        # sharing the histogram with count(*) moments would build it)
        hist = df.groupBy("g", "v").agg(F.count(F.lit(1)).alias("c"))
        out2 = {
            (r["g"], r["q"]): (r["n"], r["quantile"])
            for r in grouped_value_count_quantiles(
                hist, "g", "v", [0.5], pre_counted_col="c"
            ).collect()
        }
        assert out2 == out

    def test_empty_qs_raises(self, spark):
        import pytest as _pt

        from etl_ipl_data_analysis_pipeline_spark.operators.profile import (
            grouped_value_count_quantiles,
        )

        df = spark.createDataFrame([("a", 1)], "g string, v int")
        with _pt.raises(ValueError):
            grouped_value_count_quantiles(df, "g", "v", [])


def test_value_count_quantiles_extra_partition_aggs(spark):
    """extra_partition_aggs must equal a separate groupBy over the same
    histogram — including groups with NULL values in the mix — while the
    quantile itself is unchanged by the extras."""
    import pyspark.sql.functions as F

    from etl_ipl_data_analysis_pipeline_spark.operators.profile import (
        grouped_value_count_quantiles,
    )

    rows = [("a", 1), ("a", 1), ("a", 3), ("a", None), ("b", 7), ("b", None)]
    df = spark.createDataFrame(rows, "g string, v int")
    hist = df.groupBy("g", "v").agg(F.count(F.lit(1)).alias("__c"))
    got = {
        r["g"]: (r["n"], r["quantile"], r["__nall"], r["__s1"], r["__mn"], r["__mx"])
        for r in grouped_value_count_quantiles(
            hist, "g", "v", [0.5], pre_counted_col="__c",
            extra_partition_aggs={
                "__nall": F.sum("__c"),
                "__s1": F.sum(F.col("__c") * F.col("__v").cast("bigint")),
                "__mn": F.min(F.col("__v").cast("bigint")),
                "__mx": F.max(F.col("__v").cast("bigint")),
            },
        ).collect()
    }
    # a: values 1,1,3 (+1 null) -> med 1.0, nall 4, s1 5; b: 7 (+1 null)
    assert got["a"] == (3, 1.0, 4, 5, 1, 3)
    assert got["b"] == (1, 7.0, 2, 7, 7, 7)
    # without extras: same quantiles, same schema as before
    plain = {
        (r["g"], r["q"]): (r["n"], r["quantile"])
        for r in grouped_value_count_quantiles(
            hist, "g", "v", [0.5], pre_counted_col="__c"
        ).collect()
    }
    assert plain[("a", 0.5)] == (3, 1.0) and plain[("b", 0.5)] == (1, 7.0)
