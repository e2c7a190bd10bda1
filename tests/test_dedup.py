"""Property tests for the dedup family (SURVEY §5, VERDICT r1 item 4):
planted near-duplicates are found, pair invariants hold, the jaccard
posting-list cap bounds blowup on a stop-phrase corpus."""

import pyspark.sql.functions as F

from etl_ipl_data_analysis_pipeline_spark.operators import dedup


def test_exact_dedup_keeps_min_id_per_content(spark, docs):
    out = dedup.exact_dedup(docs)
    ids = {r["doc_id"] for r in out.collect()}
    assert 0 in ids and 200 not in ids  # 200 is an exact copy of 0
    assert len(ids) == 25  # 26 docs - 1 exact dup


def test_exact_dedup_normalizes_whitespace_and_case(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other")],
        "doc_id long, text string",
    )
    assert {r["doc_id"] for r in dedup.exact_dedup(df).collect()} == {1, 3}


def test_minhash_pairs_invariants(spark, docs):
    pairs = dedup.minhash_near_dup_pairs(docs, min_jaccard=0.0).collect()
    assert all(r["id_a"] < r["id_b"] for r in pairs)  # canonical order, no self
    assert all(0.0 <= r["est_jaccard"] <= 1.0 for r in pairs)
    keys = [(r["id_a"], r["id_b"]) for r in pairs]
    assert len(keys) == len(set(keys))  # deduped


def test_minhash_finds_planted_near_dups(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_near_dup_pairs(docs, min_jaccard=0.5).collect()
    }
    planted = {(i, 100 + i) for i in range(5)} | {(0, 200)}
    assert planted <= pairs


def test_minhash_dedup_drops_only_near_dups(spark, docs):
    survivors = {r["doc_id"] for r in dedup.minhash_dedup(docs, min_jaccard=0.5).collect()}
    assert set(range(20)) <= survivors  # originals survive (smaller ids)
    assert survivors.isdisjoint({100, 101, 102, 103, 104, 200})


def test_simhash_deterministic_and_distinct(spark, docs):
    a = {r["doc_id"]: r["fp"] for r in docs.select("doc_id", dedup.simhash("text").alias("fp")).collect()}
    b = {r["doc_id"]: r["fp"] for r in docs.select("doc_id", dedup.simhash("text").alias("fp")).collect()}
    assert a == b  # seeded, stable
    assert len(set(a.values())) > 1  # not degenerate


def test_simhash_identical_docs_hamming_zero(spark, docs):
    pairs = dedup.simhash_near_dup_pairs(docs, max_hamming=16).collect()
    by_key = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert by_key.get((0, 200)) == 0  # exact copy
    assert all(0 <= h <= 16 for h in by_key.values())


def test_simhash_planted_near_dups_low_hamming(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.simhash_near_dup_pairs(docs, max_hamming=16).collect()
    }
    found = sum(1 for i in range(5) if (i, 100 + i) in pairs)
    assert found >= 4  # 1-token change moves few fingerprint bits


def test_jaccard_exact_value_on_known_pair(spark):
    # doc1: shingles {a b c, b c d}; doc2: {a b c, b c x} -> J = 1/3
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c x")], "doc_id long, text string"
    )
    rows = dedup.jaccard_pairs(df, min_jaccard=0.0).collect()
    assert len(rows) == 1
    assert abs(rows[0]["jaccard"] - 1 / 3) < 1e-4


def test_jaccard_max_df_caps_stop_phrase_blowup(spark):
    # 40 docs sharing one stop phrase; without the cap every pair collides.
    stop = "please subscribe to our newsletter today"
    df = spark.createDataFrame(
        [(i, f"unique{i} text{i} {stop}") for i in range(40)],
        "doc_id long, text string",
    )
    uncapped = dedup.jaccard_pairs(df, min_jaccard=0.0).count()
    capped = dedup.jaccard_pairs(df, min_jaccard=0.0, max_df=5).count()
    assert uncapped == 40 * 39 / 2  # full stop-phrase cross product
    assert capped == 0  # hot shingles dropped -> no surviving candidates


def test_minhash_estimates_track_exact_jaccard(spark, docs):
    est = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in dedup.minhash_near_dup_pairs(docs, num_hashes=64, min_jaccard=0.0).collect()
    }
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(docs, min_jaccard=0.0).collect()
    }
    common = set(est) & set(exact)
    assert common  # planted pairs overlap
    for k in common:
        assert abs(est[k] - exact[k]) < 0.25  # 64-perm estimator tolerance


def test_connected_components_chain_and_islands(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6)], "id_a long, id_b long"
    )
    comp = {r["node"]: r["component"] for r in dedup.connected_components(pairs).collect()}
    assert comp == {2: 1, 3: 1, 4: 1, 6: 5}


def test_connected_components_merges_via_shared_node(spark):
    # two pairs sharing node 3: {1,3} and {2,3} must merge into one component
    pairs = spark.createDataFrame([(1, 3), (2, 3)], "id_a long, id_b long")
    comp = {r["node"]: r["component"] for r in dedup.connected_components(pairs).collect()}
    assert comp == {2: 1, 3: 1}


def test_connected_components_multistar_merge_shapes(spark):
    # r12 regression: the old convergence probe ("no v appears as a u")
    # broke one round early on multi-star graphs where a node holds edges
    # to TWO roots that still need merging. Both shapes below falsified it.
    # Shape 1: (0,3),(4,1),(2,3),(2,4) — one component rooted at 0; after
    # round 1 the edge set was {(2,0),(2,1),(3,0),(4,1)} and the old probe
    # read converged, splitting {0,2,3} from {1,4}.
    pairs = spark.createDataFrame(
        [(0, 3), (4, 1), (2, 3), (2, 4)], "id_a long, id_b long"
    )
    comp = {r["node"]: r["component"] for r in dedup.connected_components(pairs).collect()}
    assert comp == {1: 0, 2: 0, 3: 0, 4: 0}
    # Shape 2 (node-drop variant): every non-root node must appear exactly
    # once with the true minimum as its component.
    pairs2 = spark.createDataFrame(
        [(10, 12), (11, 13), (14, 12), (14, 13), (0, 10)], "id_a long, id_b long"
    )
    comp2 = {r["node"]: r["component"] for r in dedup.connected_components(pairs2).collect()}
    assert comp2 == {10: 0, 11: 0, 12: 0, 13: 0, 14: 0}


def test_minhash_dedup_cc_collapses_transitive_cluster(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    drift1 = base.replace("tonight", "today")
    drift2 = drift1.replace("quick", "swift")  # near drift1, further from base
    docs = spark.createDataFrame(
        [(1, base), (2, drift1), (3, drift2), (10, "completely unrelated text about spark planning")],
        "doc_id long, text string",
    )
    out = dedup.minhash_dedup_cc(docs, min_jaccard=0.4)
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [1, 10]  # whole drift chain collapses to its min id


def test_minhash_expression_form_matches_bulk(spark):
    # the per-row expression form and the explode/groupBy bulk form hash
    # the same shingles with the same salts -> identical signatures
    import pyspark.sql.functions as F

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "an entirely different document about spark plans")],
        "doc_id long, text string",
    )
    expr_sigs = {
        r["doc_id"]: r["sig"]
        for r in docs.select(
            "doc_id",
            dedup.minhash_signature(dedup.shingles("text")).alias("sig"),
        ).collect()
    }
    bulk_sigs = {
        r["__id"]: r["__sig"]
        for r in dedup.minhash_signatures(docs).collect()
    }
    assert expr_sigs == bulk_sigs


def test_edit_distance_pairs_exact_recall(spark):
    """Deletion-neighborhood blocking must find EVERY pair within k and
    nothing else — compared against the brute-force cross join."""
    import pyspark.sql.functions as F

    from etl_ipl_data_analysis_pipeline_spark.operators import dedup

    names = [
        (1, "kitten"), (2, "sitten"), (3, "sittin"), (4, "sitting"),
        (5, "kitten"), (6, "mittens"), (7, "xyzzy"), (8, "kit"),
    ]
    df = spark.createDataFrame(names, "id long, name string")
    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in dedup.edit_distance_pairs(df, "name", "id", k=2).collect()
    }
    a, b = df.alias("a"), df.alias("b")
    brute = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.levenshtein(F.col("a.name"), F.col("b.name")).alias("dist"),
        )
        .filter(F.col("dist") <= 2)
        .collect()
    }
    assert got == brute and (1, 5, 0) in got and (1, 2, 1) in got


def test_edit_distance_pairs_blocking_excludes_cross_block(spark):
    from etl_ipl_data_analysis_pipeline_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, "abc", 1), (2, "abd", 2)], "id long, name string, blk int"
    )
    assert dedup.edit_distance_pairs(df, "name", "id", block_col="blk", k=2).count() == 0
    assert dedup.edit_distance_pairs(df, "name", "id", k=2).count() == 1


def test_edit_distance_pairs_k1(spark):
    from etl_ipl_data_analysis_pipeline_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, "abc"), (2, "abd"), (3, "abcde")], "id long, name string"
    )
    got = {(r["id_a"], r["id_b"]) for r in dedup.edit_distance_pairs(df, "name", "id", k=1).collect()}
    assert got == {(1, 2)}


def test_edit_distance_join_strategy_conf_gate(spark):
    """The degrade-over-fail mode is conf-gated: with
    spark.etl_ipl.editDistance.joinStrategy=MERGE every call that doesn't
    pass join_strategy explicitly plans a SortMergeJoin for the variant
    self-join (spillable, 24g-safe) instead of the ShuffledHashJoin
    default; results are identical either way."""
    from etl_ipl_data_analysis_pipeline_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, "kitten"), (2, "sitten"), (3, "xyzzy")], "id long, name string"
    )

    def physical(frame):
        return frame._jdf.queryExecution().executedPlan().toString()

    default_plan = physical(dedup.edit_distance_pairs(df, "name", "id", k=1))
    assert "ShuffledHashJoin" in default_plan

    spark.conf.set(dedup.EDIT_JOIN_CONF, "MERGE")
    try:
        merged = dedup.edit_distance_pairs(df, "name", "id", k=1)
        assert "SortMergeJoin" in physical(merged)
        assert {(r["id_a"], r["id_b"]) for r in merged.collect()} == {(1, 2)}
        # explicit argument still wins over the conf
        forced = dedup.edit_distance_pairs(
            df, "name", "id", k=1, join_strategy="SHUFFLE_HASH"
        )
        assert "ShuffledHashJoin" in physical(forced)
    finally:
        spark.conf.unset(dedup.EDIT_JOIN_CONF)


class TestRemoveDuplicateSpans:
    def test_c4_semantics(self, spark):
        df = spark.createDataFrame(
            [
                (1, "a b c d e f"),  # two novel spans
                (2, "a b c x y z"),  # copies doc1's first span, adds a novel one
                (3, "a b c d e f"),  # full copy: everything drops
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r
            for r in dedup.remove_duplicate_spans(df, window=3).collect()
        }
        assert (out[1]["n_spans"], out[1]["n_kept"]) == (2, 2)
        assert out[1]["clean_text"] == "a b c d e f"
        assert (out[2]["n_spans"], out[2]["n_kept"]) == (2, 1)
        assert out[2]["clean_text"] == "x y z"
        assert (out[3]["n_spans"], out[3]["n_kept"]) == (2, 0)
        assert out[3]["clean_text"] == ""

    def test_first_occurrence_is_doc_then_span_order(self, spark):
        # the duplicated span appears at index 1 of doc1 and index 0 of
        # doc2: doc1 (lower id) owns it even though doc2 sees it earlier
        # within its own text
        df = spark.createDataFrame(
            [(1, "n1 n1 n1 s s s"), (2, "s s s n2 n2 n2")],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r
            for r in dedup.remove_duplicate_spans(df, window=3).collect()
        }
        assert out[1]["clean_text"] == "n1 n1 n1 s s s"
        assert out[2]["clean_text"] == "n2 n2 n2"

    def test_within_document_repetition_collapses(self, spark):
        df = spark.createDataFrame(
            [(7, "x y z x y z x y z")], "doc_id long, text string"
        )
        row = dedup.remove_duplicate_spans(df, window=3).collect()[0]
        assert (row["n_spans"], row["n_kept"]) == (3, 1)
        assert row["clean_text"] == "x y z"


def test_md5_family_matches_xx_recall_on_planted_set(spark, docs):
    # the portable md5 universal-hash family (what the oracled queries run)
    # must find the same planted near-dups as the xxhash64 default, and its
    # recall-1 guarantee for exact copies holds whatever the constants
    mh = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_near_dup_pairs(
            docs, min_jaccard=0.5, hash_family="md5"
        ).collect()
    }
    assert {(i, 100 + i) for i in range(5)} | {(0, 200)} <= mh
    sh = dedup.simhash_near_dup_pairs(docs, max_hamming=0, hash_family="md5").collect()
    assert {(r["id_a"], r["id_b"]) for r in sh} >= {(0, 200)}  # exact copy: hamming 0
    fps = {
        r["doc_id"]: r["fp"]
        for r in dedup.simhash_fingerprints(docs, hash_family="md5")
        .select(F.col("__id").alias("doc_id"), F.col("__fp").alias("fp"))
        .collect()
    }
    assert fps[0] == fps[200]  # identical text -> identical fingerprint
    assert all(fp >> 60 == 0 for fp in fps.values())  # 60-bit hash: top bits 0


def test_semantic_dedup_drops_exact_embedding_copies(spark):
    import random

    rnd = random.Random(7)
    base = [(i, [rnd.gauss(0, 1) for _ in range(16)]) for i in range(12)]
    mirrors = [(100 + i, vec) for i, vec in base[:3]]  # exact copies, larger ids
    emb = spark.createDataFrame(base + mirrors, "vec_id long, embedding array<double>")
    survivors = {
        r["vec_id"]
        for r in dedup.semantic_dedup(emb, k=3, iters=2, min_sim=0.999).collect()
    }
    # recall 1 on exact copies (same cell by identical decimal distances),
    # no false drops among the random base vectors
    assert survivors == {i for i, _ in base}


def test_semantic_dedup_governed_k_matches_explicit(spark, monkeypatch):
    """k=None derives k = ceil(n_unique / SEMDEDUP_CELL_SIZE) from the
    post-collapse unique count: the governed run must produce exactly the
    explicit-k run's survivors (k is the ONLY thing derived — routing,
    scoring, keep-first are untouched)."""
    import random

    rnd = random.Random(11)
    base = [(i, [rnd.gauss(0, 1) for _ in range(16)]) for i in range(12)]
    mirrors = [(100 + i, vec) for i, vec in base[:4]]  # collapse -> 12 uniques
    emb = spark.createDataFrame(base + mirrors, "vec_id long, embedding array<double>")
    monkeypatch.setattr(dedup, "SEMDEDUP_CELL_SIZE", 4)
    governed = {
        r["vec_id"]
        for r in dedup.semantic_dedup(emb, iters=2, min_sim=0.999).collect()
    }  # 12 uniques / 4 per cell -> derived k = 3
    explicit = {
        r["vec_id"]
        for r in dedup.semantic_dedup(emb, k=3, iters=2, min_sim=0.999).collect()
    }
    assert governed == explicit == {i for i, _ in base}


def test_semantic_dedup_fast_assignment_keeps_contract(spark):
    """assign='fast' (Arrow-matmul spherical routing — the production
    path at scale) must still collapse exact copies with recall 1 and
    never drop a unique vector that has no >= min_sim neighbor: routing
    only decides WHICH candidates meet, the keep-first contract lives in
    the collapse + within-cell compare."""
    import random

    rnd = random.Random(13)
    base = [(i, [rnd.gauss(0, 1) for _ in range(16)]) for i in range(12)]
    mirrors = [(100 + i, vec) for i, vec in base[:4]]
    emb = spark.createDataFrame(base + mirrors, "vec_id long, embedding array<double>")
    survivors = {
        r["vec_id"]
        for r in dedup.semantic_dedup(
            emb, k=3, iters=2, min_sim=0.999, assign="fast"
        ).collect()
    }
    assert survivors == {i for i, _ in base}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        dedup.semantic_dedup(emb, k=3, assign="nope")


class TestMinhashIncremental:
    def test_modified_copies_found_fresh_docs_not(self, spark):
        from etl_ipl_data_analysis_pipeline_spark.operators import dedup

        old = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
                (2, "one two three four five six seven eight nine ten"),
            ],
            "doc_id bigint, text string",
        )
        index = dedup.minhash_sig_index(old, hash_family="md5")
        new = spark.createDataFrame(
            [
                # doc 1 with one extra token: high jaccard vs old doc 1
                (100, "alpha beta gamma delta epsilon zeta eta theta iota kappa marker"),
                # entirely fresh vocabulary: no pair
                (101, "xx yy zz ww vv uu tt ss rr qq"),
            ],
            "doc_id bigint, text string",
        )
        pairs = dedup.minhash_incremental_pairs(
            new, index, min_jaccard=0.5, hash_family="md5"
        ).collect()
        assert {(r["new_id"], r["old_id"]) for r in pairs} == {(100, 1)}
        assert all(r["est_jaccard"] >= 0.5 for r in pairs)

    def test_exact_copy_recall_one_any_family(self, spark):
        from etl_ipl_data_analysis_pipeline_spark.operators import dedup

        old = spark.createDataFrame(
            [(i, f"w{i} " * 3 + "shared common tail tokens here") for i in range(20)],
            "doc_id bigint, text string",
        )
        for fam in ("xx", "md5"):
            index = dedup.minhash_sig_index(old, hash_family=fam)
            new = old.filter(F.col("doc_id") < 5).select(
                (F.col("doc_id") + 1000).alias("doc_id"), "text"
            )
            pairs = dedup.minhash_incremental_pairs(
                new, index, min_jaccard=0.9, hash_family=fam
            ).collect()
            found = {(r["new_id"], r["old_id"]) for r in pairs}
            # an exact copy shares every signature position: est 1.0,
            # found whatever the family/seed
            assert {(1000 + i, i) for i in range(5)} <= found


class TestIntraDocSpanDedup:
    def test_scope_document_vs_global(self, spark):
        from etl_ipl_data_analysis_pipeline_spark.operators import dedup

        span_a = " ".join(f"a{i}" for i in range(16))
        span_b = " ".join(f"b{i}" for i in range(16))
        df = spark.createDataFrame(
            [
                (1, f"{span_a} {span_b} {span_a}"),  # repeats its own span
                (2, span_a),                          # cross-doc copy of span_a
            ],
            "doc_id bigint, text string",
        )
        intra = {
            r["doc_id"]: r
            for r in dedup.remove_duplicate_spans(
                df, window=16, scope="document"
            ).collect()
        }
        # doc 1 drops only its own repeat; doc 2 keeps everything
        assert intra[1]["n_spans"] == 3 and intra[1]["n_kept"] == 2
        assert intra[1]["clean_text"] == f"{span_a} {span_b}"
        assert intra[2]["n_kept"] == 1
        glob = {
            r["doc_id"]: r
            for r in dedup.remove_duplicate_spans(
                df, window=16, scope="global"
            ).collect()
        }
        # global scope additionally kills doc 2's copy of span_a
        assert glob[2]["n_kept"] == 0

    def test_bad_scope_raises(self, spark):
        from etl_ipl_data_analysis_pipeline_spark.operators import dedup

        df = spark.createDataFrame([(1, "x")], "doc_id bigint, text string")
        import pytest as _pt

        with _pt.raises(ValueError):
            dedup.remove_duplicate_spans(df, scope="nope")


def test_semantic_dedup_fast_rebalance_preserves_contract(spark, monkeypatch):
    """A skewed corpus (most uniques piled near one direction) triggers
    the fast path's second-level cell split; the contract is unchanged:
    exact copies still die via the collapse (recall 1, routing-free) and
    with a threshold no distinct pair can reach (cos < 0.999 for all
    noisy pairs here), every unique vector survives whichever cells the
    rebalance carves."""
    import random

    rnd = random.Random(17)
    base_dir = [1.0] * 8 + [0.0] * 8
    rows = []
    for i in range(90):  # dominant cluster, distinct vectors
        rows.append((i, [x + rnd.gauss(0, 0.15) for x in base_dir]))
    for i in range(90, 120):  # spread tail
        rows.append((i, [rnd.gauss(0, 1) for _ in range(16)]))
    mirrors = [(500 + i, list(v)) for i, v in rows[:10]]  # exact copies
    emb = spark.createDataFrame(
        rows + mirrors, "vec_id long, embedding array<double>"
    )
    monkeypatch.setattr(dedup, "SEMDEDUP_CELL_SIZE", 16)
    monkeypatch.setattr(dedup, "SEMDEDUP_REBALANCE", 2)
    survivors = {
        r["vec_id"]
        for r in dedup.semantic_dedup(
            emb, iters=2, min_sim=0.999, assign="fast"
        ).collect()
    }
    assert survivors == {i for i, _ in rows}
    # no cell past the split bound: same survivors (the split only
    # re-carves candidates)
    monkeypatch.setattr(dedup, "SEMDEDUP_REBALANCE", 10**9)
    survivors_off = {
        r["vec_id"]
        for r in dedup.semantic_dedup(
            emb, iters=2, min_sim=0.999, assign="fast"
        ).collect()
    }
    assert survivors_off == survivors
