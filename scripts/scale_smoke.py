"""10x scale smoke: replicate the sf0.1 documents/embeddings fixtures with
shifted ids (~50k docs) and run the heaviest operator families, printing
one JSON line of wall-times. Verifies the scale story empirically — the
shapes that must stay near-linear (bucketed self-joins, partial-agg
signatures, iterative CC) actually do.

Usage: python scripts/scale_smoke.py [replication_factor]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F


def main() -> int:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .appName("scale-smoke")
        .config("spark.sql.shuffle.partitions", "64")
        # 48g floor: the f100 SHUFFLE_HASH edit-distance join dies at 24g
        # with cannotAcquireMemoryToBuildLongHashedRelation (r10 rerun)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    from etl_ipl_data_analysis_pipeline_spark.functions import token_count
    from etl_ipl_data_analysis_pipeline_spark.operators import (
        curation,
        dedup,
        graphs,
        layout,
        similarity,
        textstats,
    )
    from etl_ipl_data_analysis_pipeline_spark.plans import load

    base = load(spark, sf_dir, "documents")
    n_base = base.count()
    # shift ids per replica; perturb text so replicas aren't pure exact dups
    docs = None
    for r in range(factor):
        rep = base.select(
            (F.col("doc_id") + F.lit(r * 10_000_000)).alias("doc_id"),
            F.concat(F.col("text"), F.lit(f" replica{r}")).alias("text"),
        )
        docs = rep if docs is None else docs.unionByName(rep)
    docs = docs.repartition(64).localCheckpoint(eager=True)  # materialize once

    emb = load(spark, sf_dir, "embeddings")
    embs = None
    for r in range(factor):
        rep = emb.select(
            (F.col("vec_id") + F.lit(r * 10_000_000)).alias("vec_id"), "embedding"
        )
        embs = rep if embs is None else embs.unionByName(rep)
    embs = embs.repartition(64).localCheckpoint(eager=True)

    # UNIQUE-growth twin of embs (VERDICT r7 item 2): each replica's
    # vectors are elementwise sign-flipped by a per-replica ±1 pattern
    # (bits 0-6 of r spread over the dims), so replicas are (a) all
    # DISTINCT — the exact-collapse keeps every one, n_unique grows with
    # factor — and (b) far apart in cosine (one differing bit flips ~1/7
    # of the coordinate mass: cosine ~0.7 « 0.99), so no spurious
    # near-dup mass is planted either.
    dim = len(emb.select("embedding").first()[0])
    embu = None
    for r in range(factor):
        pat = F.array(
            *[F.lit(1.0 - 2.0 * ((r >> (i % 7)) & 1)) for i in range(dim)]
        )
        rep = emb.select(
            (F.col("vec_id") + F.lit(r * 10_000_000)).alias("vec_id"),
            F.zip_with("embedding", pat, lambda x, p: x * p).alias("embedding"),
        )
        embu = rep if embu is None else embu.unionByName(rep)
    embu = embu.repartition(64).localCheckpoint(eager=True)

    def t(fn, name="op"):
        # progress to stderr, flushed: when a memory-starved run dies the
        # partial trace says WHICH op killed it — a silent empty stdout
        # cost round 4 the root cause of the 24g failure
        print(f"scale_smoke[{factor}x]: {name} ...", file=sys.stderr, flush=True)
        t0 = time.time()
        fn().write.format("noop").mode("overwrite").save()
        dt = round(time.time() - t0, 2)
        print(f"scale_smoke[{factor}x]: {name} {dt}s", file=sys.stderr, flush=True)
        return dt

    timings = {
        "n_docs": n_base * factor,
        "exact_dedup": t(lambda: dedup.exact_dedup(docs), "exact_dedup"),
        "minhash_pairs": t(
            lambda: dedup.minhash_near_dup_pairs(docs, min_jaccard=0.5),
            "minhash_pairs",
        ),
        # the UNCAPPED posting-list diagnostic grows ~factor^2 by design —
        # meaningful at 10x (shows what max_df prevents), pointless past it
        "jaccard_pairs": (
            t(
                lambda: dedup.jaccard_pairs(docs, min_jaccard=0.5, max_df=100_000),
                "jaccard_pairs",
            )
            if factor <= 10
            else None
        ),
        # replication makes every gram's posting list ~factor× longer, so the
        # uncapped self-join grows ~factor² — the capped run shows max_df
        # bounding exactly that blowup (lower-bound similarity semantics)
        "jaccard_pairs_capped": t(
            lambda: dedup.jaccard_pairs(docs, min_jaccard=0.5, max_df=3 * factor),
            "jaccard_pairs_capped",
        ),
        "simhash_pairs": t(
            lambda: dedup.simhash_near_dup_pairs(docs, max_hamming=8),
            "simhash_pairs",
        ),
        "embedding_pairs": t(
            lambda: similarity.embedding_near_dup_pairs(embs, min_sim=0.9),
            "embedding_pairs",
        ),
        # round-6: the d^2/2 cell fanout is codegen CPU and the (i, j)
        # groupBy partial-aggregates map-side, so shuffle volume is
        # partitions x 2080 cells at ANY row count — wall-time must
        # scale with rows scanned, not rows x cells shuffled
        "dim_covariance": t(
            lambda: similarity.embedding_dim_covariance(embs, "embedding"),
            "dim_covariance",
        ),
        # round-7 d-sweep (VERDICT r6 item 5): at d=256 the cell count is
        # 16x the d=64 run (32,896 vs 2,080) — wall-time may grow with the
        # d^2 codegen CPU but must NOT blow up with rows x cells shuffle
        # (the partial agg keeps shuffle at partitions x cells)
        "dim_covariance_d256": t(
            lambda: similarity.embedding_dim_covariance(
                embs.select(
                    F.flatten(
                        F.array(
                            F.col("embedding"),
                            F.transform(F.col("embedding"), lambda x: x * 0.5 + 1.0),
                            F.transform(F.col("embedding"), lambda x: x * -1.0),
                            F.transform(F.col("embedding"), lambda x: x * 2.0 - 3.0),
                        )
                    ).alias("embedding")
                ),
                "embedding",
            ),
            "dim_covariance_d256",
        ),
        # round-7: SemDeDup — replicas carry IDENTICAL embedding values
        # under shifted ids, so every vector sits in a factor-sized
        # exact-dup cluster inside one k-means cell: the within-cell
        # self-join must stay sum-of-cell^2 bounded and drop exactly the
        # (factor-1)/factor non-minimal ids
        # r9: runs the operator DEFAULT (now assign="fast" — the
        # scale-safe Arrow path is the production default per VERDICT r8
        # item 1); the replicated corpus keeps n_unique constant so this
        # line measures collapse + constant-size downstream.
        "semantic_dedup": t(
            lambda: dedup.semantic_dedup(embs, k=16, iters=2, min_sim=0.99),
            "semantic_dedup",
        ),
        # round-8: SemDeDup under UNIQUE-vector growth (VERDICT r7 item
        # 2) — the replicated-corpus entry above keeps n_unique CONSTANT
        # (the collapse kills every replica), so it never measures the
        # within-cell Σ|cell|² term. Here n_unique = factor x base and
        # k=None derives k = ceil(n/1024), pinning expected Σ|cell|² ≈
        # n·1024: wall-time must stay ~linear in uniques.
        # EXACT/FAST CROSSOVER (r9, VERDICT r8 item 1): the two entries
        # below run the same governed dedup under both engines. Measured
        # history — f1 uniques (~2k): exact ≈ fast (both sub-10s, k=2 is
        # tiny); f10 uniques (~20k, k=20): fast 34.7s vs exact 52.8-85s —
        # exact's O(n·k)=O(n²/target_cell) decimal assignment already
        # dominates; f100 uniques (~200k, k≈196): fast 152.4s, exact
        # extrapolates to hours (n·k is 100x f10's) and is SKIPPED by the
        # guard below — that guard IS the recorded "untenable" boundary.
        "semantic_dedup_unique_n": factor * emb.count(),
        "semantic_dedup_unique": t(
            lambda: dedup.semantic_dedup(
                embu, iters=2, min_sim=0.99, assign="fast"
            ),
            "semantic_dedup_unique",
        ),
        "semantic_dedup_unique_exact": (
            t(
                lambda: dedup.semantic_dedup(
                    embu, iters=2, min_sim=0.99, assign="exact"
                ),
                "semantic_dedup_unique_exact",
            )
            if factor <= 10
            else None
        ),
        # round-7: the portable md5 universal-hash family (what the
        # oracled queries run) next to the xxhash64 default above —
        # records the md5-per-shingle premium at volume
        "minhash_pairs_md5": t(
            lambda: dedup.minhash_near_dup_pairs(
                docs, min_jaccard=0.5, hash_family="md5"
            ),
            "minhash_pairs_md5",
        ),
        # round-6: exact-gated Lloyd k-means — O(n*k) per round, broadcast
        # centroids, must stay ~linear in corpus size
        "kmeans_exact": t(
            lambda: similarity.kmeans_exact(embs, k=4, iters=2),
            "kmeans_exact",
        ),
        # round-7: DSIR importance weights — one explode + (doc,bucket)
        # partial agg + O(B) broadcast score table; must stay ~linear
        "dsir_weights": t(
            lambda: curation.dsir_importance(
                docs, F.col("doc_id") % 3 == 0
            ),
            "dsir_weights",
        ),
        # round-7: int8 quantization — d-cell min/max broadcast back,
        # per-vector partial agg collapses in place; ~linear
        "quantize_int8": t(
            lambda: similarity.embedding_quantize_int8(embs),
            "quantize_int8",
        ),
        # round-7: PQ build+code+ADC search — m exact kmeans chains plus
        # broadcast distance tables; O(m * n * k) compute, ~linear
        "pq_topk": t(
            lambda: similarity.pq_topk_exact(
                embs,
                embs.filter(F.col("vec_id") < 3).select(
                    F.col("vec_id").alias("query_id"), "embedding"
                ),
                k=5,
            ),
            "pq_topk",
        ),
        # round-7: token blocklist — zero-shuffle narrow map, the floor
        # of what any corpus pass can cost
        "blocklist": t(
            lambda: curation.blocklist_filter(
                docs, ["slow", "crash"], max_hits=1
            ),
            "blocklist",
        ),
        # round-3 curation family: each must stay ~linear in corpus size
        "hash_split": t(
            lambda: curation.hash_split(
                docs, "doc_id", [("train", 0.8), ("val", 0.1), ("test", 0.1)]
            ),
            "hash_split",
        ),
        "repetition_stats": t(lambda: curation.repetition_stats(docs), "repetition_stats"),
        # round-6: corpus 3-gram LM counts — two-phase distinct-count agg
        # must stay ~linear in corpus size (gram keys are ~uniform)
        "ngram_counts": t(
            lambda: textstats.ngram_counts(docs, n=3, min_count=3),
            "ngram_counts",
        ),
        # benchmark gram set stays FIXED while the corpus scales — the
        # realistic decontamination shape (eval suites don't grow 10x)
        "decontaminate": t(
            lambda: curation.ngram_overlap(
                docs, base.filter(F.col("source") == "src0"), n=8
            ),
            "decontaminate",
        ),
        "pack_token_shards": t(
            lambda: curation.pack_token_shards(
                docs.select("doc_id", token_count("text").alias("n_tokens")),
                "doc_id",
                "n_tokens",
                budget=4096,
                num_ranges=64,
            ),
            "pack_token_shards",
        ),
        # round-6: deterministic negative sampling — distributed
        # positions + md5 draws + one narrow position join; must stay
        # ~linear (outputs 3x n_docs pairs, AQE reuses the position
        # pipeline's exchanges across its two references)
        "negative_samples": t(
            lambda: curation.negative_samples(
                docs.select("doc_id"), "doc_id", k=3, num_ranges=64
            ),
            "negative_samples",
        ),
        # round-6: RAG chunking is a pure map (no shuffle — plan-asserted
        # in tests), so its wall-time must track the corpus scan; output
        # rows ~= n_docs x n_tokens/stride
        "chunk_sliding": t(
            lambda: curation.chunk_sliding(
                docs, "doc_id", "text", window=16, stride=8
            ),
            "chunk_sliding",
        ),
        # round-6: BM25 keeps only query-term hits past the explode, so
        # the (doc, term) shuffle is hits-sized, not corpus-sized; stats
        # and df are 1-row / |q|-row broadcasts
        "bm25_top_docs": t(
            lambda: textstats.bm25_top_docs(
                docs, ["vector", "stream", "spark"], k=10
            ),
            "bm25_top_docs",
        ),
        # round-7: LM surprisal filter — one bigram explode feeds both the
        # count aggregate and the scoring probe (AQE exchange reuse), so
        # wall-time must track ~2 gram-keyed shuffles over the corpus;
        # everything integer (floor-log2 bit_length identity)
        "lm_surprisal": t(
            lambda: textstats.lm_surprisal(docs, keep_max_avg=4.4),
            "lm_surprisal",
        ),
    }
    # fuzzy edit-distance blocking: replicate customers with pairwise-
    # distant suffixes (aaa/bbb/... are >2 apart) so the TRUE pair set is
    # exactly factor x the base — runtime must scale ~linearly with it
    cust = load(spark, sf_dir, "customer")
    custs = None
    for r in range(factor):
        rep = cust.select(
            (F.col("c_custkey") + F.lit(r * 10_000_000)).alias("c_custkey"),
            "c_nationkey",
            F.concat(F.col("c_name"), F.lit(chr(97 + r) * 3)).alias("c_name"),
        )
        custs = rep if custs is None else custs.unionByName(rep)
    custs = custs.repartition(64).localCheckpoint(eager=True)
    # SPARK_GRAFT_EDIT_JOIN=MERGE records the degrade-over-fail mode (24g
    # spill path) instead of the SHUFFLE_HASH default (fast, 48g floor)
    edit_join = os.environ.get("SPARK_GRAFT_EDIT_JOIN")
    timings["edit_join_strategy"] = edit_join or "SHUFFLE_HASH"
    timings["edit_distance_pairs"] = t(
        lambda: dedup.edit_distance_pairs(
            custs,
            "c_name",
            "c_custkey",
            block_col="c_nationkey",
            k=2,
            join_strategy=edit_join,
        ),
        "edit_distance_pairs",
    )

    # round-6: Z-order layout write at scale — the full sink path (exact
    # distributed ntile ranks, Morton key, range-partitioned sorted write)
    # must stay ~linear now that no single-reducer window remains
    ev = load(spark, sf_dir, "events").select("event_id", "value", "user_id")
    evs = None
    for r in range(factor):
        rep = ev.select(
            (F.col("event_id") + F.lit(r * 100_000_000)).alias("event_id"),
            "value",
            (F.col("user_id") + F.lit(r * 10_000_000)).alias("user_id"),
        )
        evs = rep if evs is None else evs.unionByName(rep)
    evs = evs.repartition(64).localCheckpoint(eager=True)

    # round-7: exact grouped quantiles over a HOT-group relation — the
    # replicated events keep ~5 event-type-sized groups (here: value
    # buckets stand in), i.e. each group is ~20% of the table, exactly
    # the shape percentile() cannot hold in one executor; runtime must
    # stay ~linear with rows, not group size
    from etl_ipl_data_analysis_pipeline_spark.operators.profile import (
        grouped_exact_quantiles,
    )

    timings["grouped_quantiles"] = t(
        lambda: grouped_exact_quantiles(
            evs.withColumn("g", (F.col("event_id") % 5).cast("string")),
            "g",
            "value",
            [0.5, 0.95, 0.99],
        ),
        "grouped_quantiles",
    )
    timings["n_events"] = evs.count()
    import shutil
    import tempfile

    zdir = tempfile.mkdtemp(prefix="zorder_smoke_")
    try:
        print(f"scale_smoke[{factor}x]: zorder_write ...", file=sys.stderr, flush=True)
        t0 = time.time()
        layout.zorder_write(
            evs, f"{zdir}/out", ["value", "user_id"], "event_id",
            bits=8, num_files=64, num_ranges=64,
        )
        timings["zorder_write"] = round(time.time() - t0, 2)
        print(
            f"scale_smoke[{factor}x]: zorder_write {timings['zorder_write']}s",
            file=sys.stderr, flush=True,
        )
    finally:
        shutil.rmtree(zdir, ignore_errors=True)

    # r10 (VERDICT r9 item 2): partition-value SKEW on the partitioned
    # write path. The replicated docs get a 90%-'en' lang column — the
    # hot-partition shape that the plain repartition(partition_cols)
    # write serializes into ONE task. Record the default one-file-per-dir
    # write next to the salted (files_per_partition=8) and the
    # maxRecordsPerFile-capped variants: the salted write must beat the
    # default on a hot value (8 tasks share the 90% partition) while
    # balanced inputs keep the one-file-per-dir property.
    from etl_ipl_data_analysis_pipeline_spark import io as gio

    skew_docs = docs.select(
        "doc_id",
        "text",
        F.when(F.col("doc_id") % 10 < 9, "en")
        .otherwise(F.concat(F.lit("l"), (F.col("doc_id") % 7).cast("string")))
        .alias("lang"),
    )
    wdir = tempfile.mkdtemp(prefix="skew_write_smoke_")
    try:
        for tag, kw in (
            ("skew_write_default", {}),
            ("skew_write_salted", {"files_per_partition": 8}),
            ("skew_write_capped", {"max_records_per_file": n_base * factor // 16}),
        ):
            print(f"scale_smoke[{factor}x]: {tag} ...", file=sys.stderr, flush=True)
            t0 = time.time()
            gio.write_parquet(
                skew_docs, f"{wdir}/{tag}", partition_by=["lang"], **kw
            )
            timings[tag] = round(time.time() - t0, 2)
            timings[tag + "_hot_files"] = sum(
                1
                for rel, _, _ in gio._list_data_files(spark, f"{wdir}/{tag}")
                if rel == "lang=en"
            )
            print(
                f"scale_smoke[{factor}x]: {tag} {timings[tag]}s "
                f"(hot files={timings[tag + '_hot_files']})",
                file=sys.stderr, flush=True,
            )
    finally:
        shutil.rmtree(wdir, ignore_errors=True)

    # r10 (VERDICT r9 item 4): compact_table cost must scale with the
    # DELTA (small-file) bytes, not the table. Same sliver delta (the
    # base corpus written as 32 sliver files per dir) appended to a
    # 1x-sized table vs the factor-sized table: compaction reads and
    # rewrites only the slivers, so the two timings must be ~equal even
    # though the tables differ by `factor` in size.
    cdir = tempfile.mkdtemp(prefix="compact_smoke_")
    try:
        for tag, big in (("compact_delta_1x", base), ("compact_delta_fx", docs)):
            tbl = f"{cdir}/{tag}"
            big.select("doc_id", "text").write.mode("overwrite").parquet(tbl)
            # initial compaction consolidates the table to ~target-sized
            # files (>= the small threshold, so they are never touched
            # again) — this pass IS table-sized and is recorded separately
            t0 = time.time()
            gio.compact_table(spark, tbl, target_file_mb=4)
            timings[tag + "_initial"] = round(time.time() - t0, 2)
            # the delta: 1x of docs appended as 32 deliberate slivers
            base.select(
                (F.col("doc_id") + F.lit(900_000_000)).alias("doc_id"), "text"
            ).repartition(32).write.mode("append").parquet(tbl)
            print(f"scale_smoke[{factor}x]: {tag} ...", file=sys.stderr, flush=True)
            t0 = time.time()
            st = gio.compact_table(spark, tbl, target_file_mb=4)
            timings[tag] = round(time.time() - t0, 2)
            timings[tag + "_bytes_rewritten"] = st["bytes_rewritten"]
            print(
                f"scale_smoke[{factor}x]: {tag} {timings[tag]}s "
                f"({st['files_before']}->{st['files_after']} files, "
                f"{st['bytes_rewritten']}B rewritten)",
                file=sys.stderr, flush=True,
            )
    finally:
        shutil.rmtree(cdir, ignore_errors=True)

    # round-6: triangle census at scale — replicas shift BOTH endpoints,
    # so the graph is factor disjoint copies: edges/wedges/triangles must
    # come out exactly factor x the base (proves the degree-oriented
    # wedge join's linear scaling AND its correctness at volume)
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    lis = None
    for r in range(factor):
        rep = li.select(
            (F.col("l_orderkey") + F.lit(r * 100_000_000)).alias("l_orderkey"),
            (F.col("l_partkey") + F.lit(r * 100_000_000)).alias("l_partkey"),
        )
        lis = rep if lis is None else lis.unionByName(rep)
    lis = lis.repartition(64).localCheckpoint(eager=True)
    print(f"scale_smoke[{factor}x]: triangle_stats ...", file=sys.stderr, flush=True)
    t0 = time.time()
    items = lis.distinct()
    ia, ib = items.alias("a"), items.alias("b")
    gedges = (
        ia.join(
            ib,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
        .select("u", "v")
    )
    tri_row = graphs.triangle_stats(gedges).collect()[0]
    timings["triangle_stats"] = round(time.time() - t0, 2)
    timings["n_graph_edges"] = tri_row["n_edges"]
    timings["n_triangles"] = tri_row["n_triangles"]
    print(
        f"scale_smoke[{factor}x]: triangle_stats {timings['triangle_stats']}s "
        f"(edges={tri_row['n_edges']}, triangles={tri_row['n_triangles']})",
        file=sys.stderr, flush=True,
    )

    # round-6: 2-hop reach over the same disjoint graph copies — the
    # sum(deg^2) wedge join must scale linearly in the factor, and the
    # total reach-row count exactly factor x the base (disjoint copies
    # can't reach each other)
    print(f"scale_smoke[{factor}x]: two_hop_reach ...", file=sys.stderr, flush=True)
    t0 = time.time()
    reach = graphs.two_hop_reach(gedges)
    n_reach_nodes = reach.count()
    timings["two_hop_reach"] = round(time.time() - t0, 2)
    timings["n_reach_nodes"] = n_reach_nodes
    print(
        f"scale_smoke[{factor}x]: two_hop_reach {timings['two_hop_reach']}s "
        f"(nodes={n_reach_nodes})",
        file=sys.stderr, flush=True,
    )

    # round-6: bloom join pruning at scale — the word table stays
    # <= num_bits/64 rows (2 MB broadcast at 2^24 bits) however many keys
    # go in; probing the events fact side is three broadcast hash joins,
    # zero fact exchanges, so it must track the linear scan time
    from etl_ipl_data_analysis_pipeline_spark.operators import bloom

    print(f"scale_smoke[{factor}x]: bloom_probe ...", file=sys.stderr, flush=True)
    t0 = time.time()
    # build over a ~20% key subset so the probe actually PRUNES: passes
    # must track subset-membership + the (deterministic) fp rate, not N
    bl = bloom.bloom_build(
        custs.filter(F.col("c_nationkey") < 5).select("c_custkey"),
        "c_custkey",
        num_bits=1 << 24,
        num_hashes=3,
    )
    n_pass = (
        bloom.bloom_probe(evs, "user_id", bl, num_bits=1 << 24, num_hashes=3)
        .filter("bloom_pass")
        .count()
    )
    timings["bloom_probe"] = round(time.time() - t0, 2)
    timings["n_bloom_pass"] = n_pass
    print(
        f"scale_smoke[{factor}x]: bloom_probe {timings['bloom_probe']}s "
        f"(passes={n_pass})",
        file=sys.stderr, flush=True,
    )

    # round-8 split (VERDICT r7 item 3): the r7 entry timed pair GENERATION
    # and CC together, and the replica corpus makes the pair list grow
    # ~factor^2 (each base doc's replicas form a near-clique: 100 replicas
    # -> ~100^2/2 pairs vs 10^2/2 at f10) — so the combined number looked
    # superlinear while CC itself is linear in its edge input and converges
    # in ONE star round on clique-shaped components (profiled r8: f10 =
    # 250k pairs, f100 = 27.3M pairs = 109x; star round 2.3s -> 11.1s).
    # Materialize the pair list first so each stage's slope is its own.
    print(f"scale_smoke[{factor}x]: cc_pair_gen ...", file=sys.stderr, flush=True)
    t0 = time.time()
    pairs = (
        dedup.minhash_near_dup_pairs(docs, min_jaccard=0.5)
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    n_pairs = pairs.count()
    t1 = time.time()
    timings["cc_pair_gen"] = round(t1 - t0, 2)
    timings["n_input_pairs"] = n_pairs
    print(f"scale_smoke[{factor}x]: connected_components ...", file=sys.stderr, flush=True)
    comp = dedup.connected_components(pairs)
    n_comp = comp.count()
    timings["connected_components"] = round(time.time() - t1, 2)
    timings["n_component_edges"] = n_comp
    print(json.dumps({"metric": "scale_smoke", "factor": factor, "timings": timings}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
