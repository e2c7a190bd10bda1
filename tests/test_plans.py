"""Physical-plan assertions: the scale properties the operators claim
(pushdown, pruning, broadcast, bounded shuffles) hold in the actual
executed plans, not just in docstrings."""

import pyspark.sql.functions as F
import pytest

import __spark_entry__ as entry


def _executed(df) -> str:
    df.write.format("noop").mode("overwrite").save()  # finalize AQE plan
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def qs():
    return entry.queries()


def test_filter_and_projection_reach_parquet_scan(spark, sf_dir, qs):
    # q3 filters on c_mktsegment/o_orderdate: both must appear as pushed
    # filters, and the lineitem scan must not read unused columns
    plan = _executed(qs["q3_top_revenue"](spark, sf_dir))
    assert "PushedFilters: [" in plan
    assert "IsNotNull" in plan or "EqualTo" in plan
    scan_lines = [l for l in plan.split("\n") if "lineitem" in l and "ReadSchema" in l]
    if scan_lines:  # column pruning: no l_comment in the lineitem scan
        assert "l_comment" not in scan_lines[0]


def test_star_join_broadcasts_dimensions(spark, sf_dir, qs):
    plan = _executed(qs["q5_region_revenue"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan  # dims (region/nation/supplier) broadcast


def test_exact_dedup_is_single_shuffle(spark, sf_dir, qs):
    plan = _executed(qs["dedup_exact"](spark, sf_dir))
    # one Exchange for the groupBy on the content hash — no extra shuffles
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_min" in plan or "HashAggregate" in plan  # map-side combine


def test_q1_aggregate_has_partial_phase(spark, sf_dir, qs):
    plan = _executed(qs["q1_pricing_summary"](spark, sf_dir))
    assert "partial_" in plan  # map-side partial aggregation before the shuffle


@pytest.mark.parametrize(
    "query",
    [
        "dedup_minhash_pairs",
        "dedup_embedding_pairs_planted",
        "dedup_simhash_pairs",
        "multimodal_image_neardup",
    ],
)
def test_band_join_has_no_pair_dedup_exchange(spark, sf_dir, qs, query):
    # a pair agreeing on k bands used to ship k times into a
    # dropDuplicates aggregate; now it survives only in its first
    # agreeing band, decided INSIDE the join stage — so no aggregate or
    # exchange keyed on (id_a, id_b) may exist anywhere in the plan
    df = qs[query](spark, sf_dir)
    assert "Aggregate [id_a" not in _optimized(df), "pair-dedup aggregate reappeared"
    assert "hashpartitioning(id_a" not in _executed(df)


def test_topk_cosine_has_no_rank_window(spark, sf_dir, qs):
    # partial-aggregate top-k, not a row_number window over all scored rows
    plan = _optimized(qs["topk_cosine"](spark, sf_dir))
    assert "row_number" not in plan.lower()


def test_whole_stage_codegen_covers_relational_path(spark, sf_dir, qs):
    # AQE's lazy re-planning hides codegen markers from toString until the
    # exact QueryExecution object runs; switch it off for the inspection.
    # Codegen stages print as "*(N) Operator" in toString.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = qs["agg_filtered"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "*(1)" in plan and "*(2)" in plan  # both agg phases codegen'd


def test_k_anonymity_gate_broadcasts(spark, sf_dir, qs):
    plan = _executed(qs["k_anonymity_suppress"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan  # group gate is O(QI combos), broadcast


def test_label_centroids_single_shuffle(spark, sf_dir, qs):
    plan = _executed(qs["label_centroids"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_" in plan  # per-dimension partial agg before it


def test_q6_sql_pushes_all_predicates(spark, sf_dir, qs):
    plan = _executed(qs["q6_forecast_revenue_sql"](spark, sf_dir))
    # the range + quantity predicates reach the scan (the printed pushed-
    # filter list truncates, so check the leading entries + ReadSchema
    # pruning to the 4 referenced columns)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert "GreaterThanOrEqual(l_shipda" in plan
    scan = next(l for l in plan.split("\n") if "ReadSchema" in l)
    assert "l_comment" not in scan and "l_orderkey" not in scan


def test_mad_outliers_broadcasts_stats(spark, sf_dir, qs):
    plan = _executed(qs["mad_outliers"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan  # 5-row per-type stats broadcast back


def test_edit_distance_pair_dedup_precedes_verifier(spark, sf_dir, qs):
    # the distinct must aggregate narrow (id_a, id_b) pairs BEFORE names are
    # re-attached and levenshtein runs: no string column crosses the dedup
    # shuffle, and each unique candidate pair is verified exactly once
    plan = _optimized(qs["fuzzy_name_pairs"](spark, sf_dir))
    lines = plan.split("\n")
    agg_idx = [
        i for i, l in enumerate(lines) if "Aggregate [id_a" in l and "id_b" in l
    ]
    assert agg_idx, "pair-dedup Aggregate on (id_a, id_b) missing"
    for i in agg_idx:
        assert "c_name" not in lines[i] and "__na" not in lines[i]
    # levenshtein must appear only ABOVE the dedup (verification after)
    lev_idx = [i for i, l in enumerate(lines) if "levenshtein" in l]
    assert lev_idx and max(lev_idx) < min(agg_idx)


def test_merge_upsert_anti_join_broadcasts(spark, sf_dir, qs):
    plan = _executed(qs["merge_upsert_orders"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_orc_roundtrip_prunes_partitions(spark, sf_dir, qs):
    # the read-back scan must prune to the single o_orderstatus=O
    # directory: the partition filter appears as PartitionFilters, and
    # the partition column never reaches the data scan's ReadSchema
    plan = _executed(qs["orc_partitioned_roundtrip"](spark, sf_dir))
    orc_lines = [l for l in plan.split("\n") if "FileScan orc" in l]
    assert orc_lines, "ORC read-back scan missing from plan"
    assert "PartitionFilters: [" in orc_lines[0]
    assert "o_orderstatus" in orc_lines[0].split("PartitionFilters")[1]


def test_csv_roundtrip_is_lossless(spark, sf_dir):
    # row-identical transit: parquet -> csv -> read-back must preserve
    # every cell including doubles (shortest-round-trip formatting)
    from etl_ipl_data_analysis_pipeline_spark.plans import load
    from etl_ipl_data_analysis_pipeline_spark.plans.pipeline_q import _scratch_dir

    c = load(spark, sf_dir, "customer")
    path = _scratch_dir(sf_dir, "csv_losstest")
    c.write.mode("overwrite").option("header", True).csv(path)
    back = spark.read.schema(c.schema).option("header", True).csv(path)
    assert back.schema == c.schema
    a = {tuple(r) for r in c.collect()}
    b = {tuple(r) for r in back.collect()}
    assert a == b


def test_winsorize_counts_bracket_five_percent(spark, sf_dir, qs):
    # exact p05/p95 clamping: per group, at most 5% of rows fall strictly
    # below p05 (interpolated bound sits at-or-above the 5th of 100 rows),
    # and clamp counts are never zero for a continuous value column
    rows = qs["winsorize_events"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_clamped_lo <= 0.05 * r.n + 1
        assert r.n_clamped_hi <= 0.05 * r.n + 1
        assert r.n_clamped_lo > 0 and r.n_clamped_hi > 0


def test_bow_dedup_drops_planted_mirrors_only(spark, sf_dir, qs):
    from etl_ipl_data_analysis_pipeline_spark.plans import load

    kept = qs["dedup_bow_fingerprint"](spark, sf_dir).collect()
    originals = {
        r.doc_id for r in load(spark, sf_dir, "documents").select("doc_id").collect()
    }
    kept_ids = {r.doc_id for r in kept}
    # every original survives (it has the lower doc_id of its pair)...
    assert kept_ids == originals
    # ...and every planted word-reversed mirror (doc_id + 100000) is gone
    assert not {i for i in kept_ids if i >= 100000}


def test_planted_id_offset_clears_fixture_domain(spark, sf_dir):
    # dedup_bow_fingerprint and dedup_embedding_pairs_planted both plant
    # duplicates at id + 100000; if a regenerated fixture ever carries ids
    # >= 100000 the planted rows collide with real ones and the "originals
    # survive, mirrors dropped" property silently degrades (both engines
    # would still agree, so the hash gate can't catch it — only this can)
    from etl_ipl_data_analysis_pipeline_spark.plans import load

    max_doc = load(spark, sf_dir, "documents").agg(F.max("doc_id")).first()[0]
    max_vec = load(spark, sf_dir, "embeddings").agg(F.max("vec_id")).first()[0]
    assert max_doc < 100000, "planted doc offset collides with fixture ids"
    assert max_vec < 100000, "planted vec offset collides with fixture ids"


def test_winsorize_scale_shape(spark, sf_dir, qs):
    """Round 7 swapped winsorize's bounds onto the distributed quantile
    machinery: the plan gains bucketed-window exchanges but must keep
    the scale invariants — every exchange hash-partitioned (never a
    single-partition funnel), the duplicated quantile subtrees deduped
    at runtime (ReusedExchange), and no whole-group percentile
    aggregate anywhere."""
    df = qs["winsorize_events"](spark, sf_dir)
    df.collect()  # ReusedExchange only materializes in the executed AQE plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan
    assert "percentile" not in plan
    assert "ReusedExchange" in plan, plan[:2000]


def test_aqe_splits_skewed_join_partitions(spark, sf_dir):
    """AQE skew-join must kick in for a hot-key shuffle join once the
    skew thresholds are crossed — the runtime remedy the salted_join
    operator complements (salting is for when a co-partitioned consumer
    pins the partitioning and AQE can't split). Thresholds are forced
    tiny so the sf0.01 fixture exhibits 'skew' the way a hot key does at
    fleet scale."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = (
            spark.read.parquet(f"{sf_dir}/lineitem.parquet")
            .select(
                # collapse 90% of keys onto one hot value: the classic skew
                F.when(F.col("l_partkey") % 10 < 9, F.lit(7)).otherwise(
                    F.col("l_partkey")
                ).alias("k"),
                "l_extendedprice",
            )
            # AQE splits a skewed reduce partition at MAPPER-BLOCK
            # granularity — a single-file scan is one mapper, whose one
            # block per reducer is unsplittable, so give the join shuffle
            # many upstream mappers first
            .repartition(16)
        )
        o = spark.read.parquet(f"{sf_dir}/part.parquet").select(
            F.col("p_partkey").alias("k"), "p_name"
        )
        joined = li.join(o, "k")
        # collect() (not the noop-write helper): the write spawns its own
        # QueryExecution, leaving THIS DataFrame's AQE plan un-finalized
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_sessionize_plans_single_user_exchange(spark, sf_dir, qs):
    # the lag flag, the running sum, and the final per-session aggregate
    # all key on user_id — one hash exchange total, as the docstring claims
    plan = _executed(qs["sessionize_events"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "user_id" in plan.split("Exchange hashpartitioning")[1][:60]


def test_q2_scans_lineitem_once(spark, sf_dir, qs):
    # the correlated MIN decorrelates to a window over the broadcast-pruned
    # frame — NOT a rescanning aggregate-join-back: exactly one lineitem scan
    plan = _executed(qs["q2_min_cost_supplier"](spark, sf_dir))
    assert sum("lineitem" in l and "FileScan" in l for l in plan.split("\n")) == 1


def test_pagerank_contribution_sums_are_decimal(spark, sf_dir, qs):
    # the order-independence of the iteration rests on decimal sums; a
    # raw-double sum would silently reintroduce partitioning dependence
    plan = _optimized(qs["pagerank_copurchase"](spark, sf_dir))
    assert "sum(cast(" in plan and "decimal(38,18)" in plan


def test_zorder_ranks_have_no_global_window(spark, sf_dir, qs):
    # the r5 verdict's one scale-killer: zorder_ranks used ntile over a
    # no-partition window, funneling the base table through one reducer
    # per layout column. Now ranks are exact distributed ntiles: every
    # window that touches the BASE TABLE (the row_numbers) must be
    # partitioned by the range bucket, and any single-partition exchange
    # may only feed the bounded per-bucket offsets relation (__zc counts)
    plan = _executed(qs["zorder_key_stats"](spark, sf_dir))
    assert "ntile" not in plan
    lines = plan.split("\n")
    for line in lines:
        if "row_number() windowspecdefinition" in line:
            assert "__zb" in line, f"unpartitioned base-table window: {line}"
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" in line:
            above = [l for l in lines[:i] if "windowspecdefinition" in l]
            assert above and "__zc" in above[-1], (
                "single-partition exchange outside the bounded offsets branch"
            )


def test_weighted_split_distributed_cumsum_plan(spark, sf_dir, qs):
    # the num_ranges>1 path: the per-group running weight windows on the
    # hash-prefix bucket (never a global order), and the only
    # single-partition exchange feeds the bounded per-bucket offsets
    # relation (__bw sums over <= num_ranges rows)
    plan = _executed(qs["split_group_weighted"](spark, sf_dir))
    lines = plan.split("\n")
    for line in lines:
        if "windowspecdefinition" in line and "sum(__w#" in line:
            assert "__b" in line, f"group cumsum window lost its bucket: {line}"
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" in line:
            above = [l for l in lines[:i] if "windowspecdefinition" in l]
            assert above and "__bw" in above[-1], (
                "single-partition exchange outside the bounded offsets branch"
            )


def test_kmeans_exact_broadcasts_centroids(spark, sf_dir, qs):
    # every distance join carries the k*dim centroid relation broadcast
    # (never shuffling the exploded corpus onto it), distance sums have a
    # map-side partial phase, and nothing goes cartesian
    plan = _executed(qs["kmeans_clusters_exact"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan
    assert "Exchange SinglePartition" not in plan


def test_no_unbounded_global_windows_in_rank_cumsum_family(spark, sf_dir, qs):
    # the r6 verdict's three remaining scale-killers: feature_binning_decile
    # (global ntile over documents), pareto_part_classes (global cum-sum over
    # one-row-per-part) and revenue_gini (global row_number over
    # one-row-per-customer) each ran a no-partition window over a relation
    # that GROWS with the input. All three now use the layout.py distributed
    # machinery: every window that touches the scaling relation (row_number
    # ranks, __zv running sums) must be partitioned by the range bucket
    # __zb, and any single-partition exchange may only feed the bounded
    # per-bucket offsets relation (__zc sums over <= num_ranges+1 rows)
    # surprisal_tertile_mixture (r7) joined the family: tertiles over the
    # corpus-scaling scored relation through the same _exact_ntile
    for name in (
        "feature_binning_decile",
        "pareto_part_classes",
        "revenue_gini",
        "surprisal_tertile_mixture",
    ):
        plan = _executed(qs[name](spark, sf_dir))
        assert "ntile" not in plan, name
        lines = plan.split("\n")
        for line in lines:
            if "row_number() windowspecdefinition" in line or (
                "windowspecdefinition" in line and "sum(__zv#" in line
            ):
                assert "__zb" in line, f"{name}: unpartitioned scaling window: {line}"
        for i, line in enumerate(lines):
            if "Exchange SinglePartition" in line:
                # bounded by construction: a map-side-combined scalar
                # aggregate ships ONE row per task through the exchange
                if i + 1 < len(lines) and "partial_" in lines[i + 1]:
                    continue
                above = [l for l in lines[:i] if "windowspecdefinition" in l]
                assert above and "__zc" in above[-1], (
                    f"{name}: single-partition exchange outside the bounded "
                    "offsets branch"
                )


def test_blocklist_filter_zero_shuffles(spark, sf_dir):
    """The blocklist filter must stay a pure narrow map: the IN-literal
    higher-order filter adds no Exchange, no join, no UDF."""
    from etl_ipl_data_analysis_pipeline_spark.operators import curation
    from etl_ipl_data_analysis_pipeline_spark.plans import load

    out = curation.blocklist_filter(
        load(spark, sf_dir, "documents"), ["slow", "crash"], max_hits=1
    )
    plan = _executed(out)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_no_buffering_percentile_in_grouped_stats(spark, sf_dir, qs):
    """The whole-group-buffering percentile() aggregate was eliminated in
    round 7 (grouped_exact_quantiles everywhere); pin every quantile-
    consuming query so it can't silently return. approxQuantile supplies
    only plan-build-time bucket cuts and never appears in the plan."""
    for name in (
        "agg_stats",
        "mad_outliers",
        "winsorize_events",
        "quality_median_gate",
        "agg_percentiles",
        "value_quantiles_by_type",
    ):
        plan = _executed(qs[name](spark, sf_dir))
        assert "percentile" not in plan, name


def test_nb_confusion_vocab_reuses_class_term_aggregate(spark, sf_dir, qs):
    # nb_classify derives the vocab count from the (class x term)
    # aggregate behind a vacuously-true __ncw >= 1 filter whose only job
    # is to fence Catalyst's RemoveRedundantAggregates (r13 rewrite:
    # 16 -> 12 scans), and since r14 the (doc, term, multiplicity)
    # relation is checkpoint-pinned so its three consumers (probe,
    # model, vocab) share ONE tokenize pass — the per-branch inferred
    # isnotnull() pushdowns otherwise break subtree reuse and re-plan
    # the corpus scan per consumer. The executed plan must show only
    # the three cheap column-pruned documents scans (class counts,
    # corpus count, final confusion join); the text column is read
    # solely inside the checkpointed lineage. A regression (optimizer
    # seeing through the fence, or the checkpoint dropped) restores
    # corpus-sized scans with identical values — pin the count so it
    # is loud.
    plan = _executed(qs["nb_lang_confusion"](spark, sf_dir))
    n = sum("documents" in l and "FileScan" in l for l in plan.split("\n"))
    assert n <= 3, f"nb_lang_confusion documents scans grew to {n}"
    assert "text" not in plan or "ReadSchema" not in plan or all(
        "text" not in l for l in plan.split("\n") if "ReadSchema" in l
    ), "nb_lang_confusion: a documents scan reads text outside the checkpoint"


def test_bm25_dfreq_reuses_tf_aggregate(spark, sf_dir, qs):
    # bm25_top_docs/bm25_batch_topk derive the document-frequency count
    # from the (doc, term) tf aggregate behind a vacuously-true fence
    # referencing BOTH aggregate outputs (__tf >= 1 AND __dl non-null);
    # without it column pruning re-plans the dfreq branch as a bare
    # distinct over a SECOND corpus scan+tokenize (the r14 find). Two
    # documents scans remain by contract: the hits pass and the
    # full-corpus dl stats pass. AQE's stage printing repeats reused
    # subtrees, so inspect the non-adaptive plan (reuse canonicalization
    # is the same machinery either way — runtime stage reuse fires iff
    # ReuseExchange fires here).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _executed(qs["bm25_top_docs_query"](spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    n = sum("documents" in l and "FileScan" in l for l in plan.split("\n"))
    assert n <= 2, f"bm25_top_docs_query documents scans grew to {n}"


def test_exact_vector_family_shares_one_corpus_exchange(spark, sf_dir, qs):
    # _keyed_corpus carries the posexplode-inferred non-empty/non-null
    # vector filter EXPLICITLY so the back-join consumers canonicalize
    # to the same subtree as the exploded ones — one full-width
    # embeddings scan serves every Lloyd round, assignment pass and
    # vector back-join. Allowed besides it: the pruned probe scans
    # (vec_id < 3) and the id-only seed scan. AQE's stage printing
    # repeats reused subtrees, so inspect the non-adaptive plan.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _executed(qs["hybrid_rrf_topk"](spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    full = [
        l
        for l in plan.split("\n")
        if "embeddings" in l
        and "ReadSchema" in l
        and "embedding:array" in l
        and "LessThan" not in l
    ]
    assert len(full) <= 1, (
        f"exact vector family re-plans the corpus scan: {len(full)} "
        "full-width embeddings scans in hybrid_rrf_topk"
    )
