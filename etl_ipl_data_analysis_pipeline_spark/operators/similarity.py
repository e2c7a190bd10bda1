"""Vector similarity search and embedding statistics (SURVEY.md §2.11 X3,
§2.3 J10).

Top-k search, one output contract (query_id, vec_id, sim):
- ``brute_force_topk`` — exact, O(probes × corpus); correctness baseline.
- ``ivf_topk`` / ``lsh_topk`` — the fast approximate tiers: inverted-file
  routing by an Arrow-matmul model, random-hyperplane LSH buckets; the
  persisted IVF index (``ivf_build_index``/``ivf_search_index``).
- The exact family, every step replayable by a DuckDB oracle:
  ``kmeans_exact``, ``ivf_topk_exact``, product quantization
  (``pq_model_exact``, ``pq_topk_exact``) and the persisted IVF and PQ
  indexes built, appended, compacted and searched from disk
  (``ivf_*_index_exact``, ``pq_*_index``).

The exact family applies ONE distance rule, written once: a vector's
squared L2 distance to a centroid is the sum of its 12dp fixed-point
squared terms (:func:`_sq_dists`), and a vector's nearest centroids are
picked by (dist, cid) (:func:`_nearest`).

Also here: embedding statistics (dimension covariance, JL projection,
standardization, uint8 quantization, norm outliers) and embedding
near-duplicate pairs. Vector scoring is higher-order functions
(JVM-side); the fast tiers' index builds use Arrow-vectorized pandas UDFs
(numpy matmul) where the expression form would re-evaluate per element —
see each docstring.
"""

from __future__ import annotations

import operator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..functions import cosine_similarity


def _as_double_array(col):
    return F.transform(col, lambda x: x.cast("double"))


def _keyed_corpus(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """The exact vector family's ONE corpus materialization point: a
    (vid, __vec) projection hash-partitioned by the vector id.

    Every Lloyd round, assignment pass and back-join in kmeans_exact /
    ivf_topk_exact (and their consumers) re-references the corpus, and
    with nothing pinning a common partitioning each reference planned
    its own parquet scan + explode + per-operator exchange — 22 corpus
    scans in hybrid_rrf_topk's r13 plan. Building every reference over
    this IDENTICAL subtree lets ReuseExchange collapse them to ONE scan
    + ONE shuffle, and the vid-keyed partitioning satisfies every
    downstream groupBy(vid, ·), Window(vid) and join(vid) distribution
    requirement (subset rule), so those exchanges vanish outright
    (guide §2.4/§6). Values are partitioning-independent by the
    family's fixed-point construction, so results are unchanged. The
    partition count is left to the session/AQE — scale-adaptive, not a
    local constant.

    The non-empty/non-null filter is carried EXPLICITLY because the
    posexplode consumers acquire it by constraint inference while the
    vector back-join consumers do not, and that asymmetry alone
    de-canonicalizes the subtree — the back-join re-planned its own
    full corpus scan + shuffle (plan-verified). It is value-neutral
    for every legitimate consumer: a vid with an empty or NULL vector
    emits no explode rows, so it can never appear on the probe side of
    a back-join. Consumers that need the UNFILTERED id universe (e.g.
    kmeans seed selection) must read the raw input, not this relation."""
    return (
        df.select(
            F.col(id_col).alias("vid"),
            _as_double_array(F.col(vec_col)).alias("__vec"),
        )
        .filter((F.size("__vec") > 0) & F.col("__vec").isNotNull())
        .repartition(F.col("vid"))
    )


def _exploded(base: DataFrame) -> DataFrame:
    """(vid, pos, v) long form of a _keyed_corpus relation — 1-based
    positions, partitioning inherited (explode is narrow)."""
    return base.select(
        "vid", F.posexplode("__vec").alias("pos0", "v")
    ).select("vid", (F.col("pos0") + 1).alias("pos"), "v")


def _sq_dists(
    ex: DataFrame, cents: DataFrame, key: list[str], on: str | list[str] = "pos"
) -> DataFrame:
    """The exact family's distance: (*key, cid, dist) for every long-form
    vector ``ex`` (*key, *on, v) against every long-form centroid
    ``cents`` (cid, *on, c), joined on ``on`` (pos; subspace and pos for
    PQ).

    Determinism discipline, term by term: the squared-distance TERMS
    (v-c)^2 are single IEEE double ops identical in any engine; each term
    is quantized to 12dp fixed point as ``floor(t*1e12 + 0.5)`` (the same
    half-up rounding a DECIMAL(38,12) cast performs on the non-negative
    squares, but the result is a BIGINT); and the per-(vector, centroid)
    SUM is exact integer addition — reduction order can't flip an
    argmin, and the aggregate stays on the long-backed codegen fast path
    instead of boxed BigDecimal (measured ~5x on the sf0.1 dist pass;
    overflow would need a squared L2 distance over ~9.2e6 per pair,
    orders of magnitude past any normalized-embedding regime). Every
    oracle replays it as ``sum(CAST(floor((v - c) * (v - c) * 1e12 +
    0.5) AS BIGINT))``.

    Shape: the centroid relation is BROADCAST (k×dim rows, tiny at any
    corpus size), so ``ex``'s partitioning carries through the join, and
    over a _keyed_corpus the per-(vector, centroid) aggregate runs
    without an exchange."""
    term = F.col("v") - F.col("c")
    return (
        ex.join(F.broadcast(cents), on)
        .groupBy(*key, "cid")
        .agg(F.sum(F.floor(term * term * F.lit(1e12) + F.lit(0.5))).alias("dist"))
    )


def _nearest(dists: DataFrame, key: list[str], n: int = 1) -> DataFrame:
    """Each ``key``'s ``n`` nearest rows of a :func:`_sq_dists`
    relation, ranked by (dist, cid): an exact distance tie goes to the
    lower centroid id, in every engine."""
    w = Window.partitionBy(*key).orderBy("dist", "cid")
    return dists.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= n)


def topk_per_query(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k of a (query_id, vec_id, sim) relation without reducer
    skew.

    A row_number window partitioned by query_id shuffles the ENTIRE scored
    corpus to #probes reducers — with 5 probes at 100 TB that is 5 reducers
    holding everything. Instead: phase 1 takes the top-k within each
    (query_id, input-partition) group, so the shuffle spreads over
    #probes × #partitions keys and each group emits at most k structs;
    phase 2 merges the ≤ #partitions × k survivors per query — a trivially
    small aggregation.

    Ordering matches row_number(sim DESC, vec_id ASC): structs sort
    lexicographically, so a negated id field makes descending sort break
    sim ties by ascending vec_id.
    """
    t = F.struct(
        F.col("sim").alias("sim"),
        (-F.col("vec_id")).alias("__negid"),
        F.col("vec_id").alias("vec_id"),
    )
    local = (
        scored.groupBy("query_id", F.spark_partition_id().alias("__pid"))
        .agg(F.slice(F.sort_array(F.collect_list(t), asc=False), 1, k).alias("__top"))
        .select("query_id", F.explode("__top").alias("__t"))
    )
    return (
        local.groupBy("query_id")
        .agg(F.slice(F.sort_array(F.collect_list("__t"), asc=False), 1, k).alias("__top"))
        .select("query_id", F.explode("__top").alias("__t"))
        .select("query_id", F.col("__t.vec_id").alias("vec_id"), F.col("__t.sim").alias("sim"))
    )


def embedding_dim_covariance_jl(
    df: DataFrame,
    jl_k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """:func:`embedding_dim_covariance` over a Johnson-Lindenstrauss
    projection of the vectors — the high-d scale path (see the d-sweep
    guidance in embedding_dim_covariance's docstring): project to
    ``jl_k`` dims with the deterministic md5 sign matrix (d*jl_k work,
    exact-gated), reassemble the long-form projection into ordered
    arrays (jl_k elements per vector — bounded collect_list, not a
    corpus buffer), and run the exact covariance at jl_k²/2 cells
    instead of d²/2. The whole composition stays inside the exact
    cross-engine gate: both stages' arithmetic is exactly-summed 12dp
    fixed-point on engine-recomputable inputs.

    The answer is the covariance OF THE PROJECTION — a diagnostics
    proxy whose distortion the JL lemma bounds — which is exactly what
    a dead-dimension / redundancy health check needs at d >= ~256,
    where the exact matrix's d²/2 per-row cell fanout dominates
    (measured: 783s at d=256 vs 48s at d=64 per 500k rows)."""
    proj = jl_project_signs(df, k=jl_k, id_col=id_col, vec_col=vec_col)
    arr = proj.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("j", "proj"))),
            lambda s: s["proj"],
        ).alias(vec_col)
    )
    return embedding_dim_covariance(arr, vec_col)


RRF_K = 60  # Cormack et al.'s constant


def rrf_fuse(
    sparse: DataFrame,
    dense: DataFrame,
    k: int = 5,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rnk",
) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval lists — the standard
    hybrid-retrieval combiner (Cormack et al., SIGIR'09): each candidate
    scores sum(1 / (RRF_K + rank)) over the lists that retrieved it, so
    agreement between lexical (BM25) and dense (ANN) rankers dominates
    either ranker's absolute scores, and no score calibration between
    incomparable scales is needed.

    Inputs are (query, id, rank) relations (rank 1-based, as
    bm25_batch_topk and the top-k searchers emit). The fusion is pure
    rank arithmetic: 1/(RRF_K + r) is one IEEE division of exact
    integers and the two-list sum is a single commutative add, so the
    result is bit-identical across engines and the whole hybrid sits
    under the exact oracle gate of its two inputs for free.

    Scale: a full-outer equi-join of two k-row-per-query relations and a
    rank window over <= 2k candidates per query — bounded by the input
    list length, never by the corpus. Returns (query, id, rrf_score,
    rnk) with rrf_score floor-rounded at 8dp, top-``k`` per query."""
    sp = sparse.select(
        F.col(query_col), F.col(id_col), F.col(rank_col).alias("__rs")
    )
    dn = dense.select(
        F.col(query_col), F.col(id_col), F.col(rank_col).alias("__rd")
    )
    fused = sp.join(dn, [query_col, id_col], "full_outer")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(RRF_K) + F.col("__rs")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("__rd")), F.lit(0.0))
    w = Window.partitionBy(query_col).orderBy(
        F.desc("__rrf"), F.asc(id_col)
    )
    return (
        fused.withColumn("__rrf", rrf)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            query_col,
            id_col,
            (F.floor(F.col("__rrf") * F.lit(1e8) + F.lit(0.5)) / F.lit(1e8)).alias(
                "rrf_score"
            ),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def brute_force_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k cosine: broadcast the (small) probe set against the corpus.

    One pass over the corpus, no corpus shuffle: cross-join against broadcast
    probes, per-probe top-k via row_number. At 100 TB this is the *exact*
    fallback; use ivf_topk when the probe set or corpus is large.

    Norms are hoisted to member columns (one interpreted array fold per
    ROW instead of two per PAIR — HOF lambdas run interpreted with no
    CSE, the semantic_dedup lesson) and the pair stage evaluates only
    the dot. Float-identical to inline cosine_similarity: same norm
    expression per array, same dot / (np * nc) association.
    """
    from ..functions import dot as _dot, norm as _norm

    p = probes.select(
        F.col(probe_id_col).alias("query_id"),
        _as_double_array(F.col(vec_col)).alias("__pvec"),
    ).withColumn("__pn", _norm(F.col("__pvec")))
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        _as_double_array(F.col(vec_col)).alias("__cvec"),
    ).withColumn("__cn", _norm(F.col("__cvec")))
    sim = _dot(F.col("__pvec"), F.col("__cvec")) / (
        F.col("__pn") * F.col("__cn")
    )
    scored = (
        c.crossJoin(F.broadcast(p))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("sim", F.round(sim, 6))
    )
    return topk_per_query(scored, k)


def ivf_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "query_id",
    iters: int = 2,
) -> DataFrame:
    """Approximate top-k via an inverted file (IVF) index over 16
    k-means cells, searching the 4 nearest cells per probe.

    Build: spherical k-means centroids (:func:`kmeans_centroids`, a real
    Lloyd refinement — not a raw sample), then assign every corpus vector
    to its nearest centroid with one Arrow-vectorized matmul pass. Search:
    route each probe to its 4 nearest centroids (same UDF,
    argsort) and score only those cells. Corpus work drops by
    ~16/4. An earlier version assigned via
    crossJoin(centroids) + per-vector row_number window — that shuffles
    16× the corpus; the matmul pass is narrow (no shuffle at all).

    The cell id is also the partitioning key, so each cell's vectors
    co-locate — at 100 TB write the corpus bucketed by cell id
    (io.write_bucketed) and searches never touch irrelevant partitions.
    """
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        _as_double_array(F.col(vec_col)).alias("__cvec"),
    )
    cents = kmeans_centroids(corpus, 16, iters, id_col, vec_col)
    cn = _normalize_rows(cents)
    nearest_cells = _cell_router(cn, 4, pin_single_eval=True)

    assigned = c.withColumn("cell", F.element_at(nearest_cells("__cvec"), 1))
    p = probes.select(
        F.col(probe_id_col).alias("query_id"),
        _as_double_array(F.col(vec_col)).alias("__pvec"),
    )
    routed = p.select(
        "query_id", "__pvec", F.explode(nearest_cells("__pvec")).alias("cell")
    )
    scored = (
        assigned.join(F.broadcast(routed), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("sim", F.round(cosine_similarity(F.col("__pvec"), F.col("__cvec")), 6))
    )
    return topk_per_query(scored, k)


def random_hyperplane_bucket(vec_col):
    """Cosine-LSH bucket id of a 64-dim vector: sign pattern of <v, h_j>
    for 16 deterministic pseudo-random hyperplanes (seed 42).

    The plane weights are generated ONCE at plan-build time with a seeded
    PRNG and embedded as literals — an earlier version derived each weight
    from xxhash64 inside the zip_with lambda, which re-hashed dim×n_planes
    constants per ROW (higher-order functions run interpreted, nothing is
    hoisted), measured ~10× slower at sf0.1. Same reproducibility: the
    weights are a pure function of (plane, index)."""
    import random

    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    bits = []
    for j in range(16):
        rng = random.Random(42 * 100003 + j)
        weights = F.array(*[F.lit(rng.uniform(-0.5, 0.5)) for _ in range(64)])
        dot_j = F.aggregate(
            F.zip_with(v, weights, lambda x, w: x * w),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(dot_j > 0, F.shiftleft(F.lit(1).cast("long"), j)).otherwise(F.lit(0).cast("long")))
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def lsh_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: only corpus vectors in the probe's LSH bucket are
    scored. Bucket id is an equi-join key, so the plan is a plain hash join —
    the O(n²) pair space never materializes."""
    # same PRNG stream as random_hyperplane_bucket (n_tables=1 → table 0
    # uses seed 42 directly), but one Arrow matmul instead of n_planes
    # interpreted aggregate passes per row
    bucket_udf = multi_table_buckets_udf(n_planes, 1)
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        _as_double_array(F.col(vec_col)).alias("__cvec"),
    ).withColumn("bucket", F.element_at(bucket_udf("__cvec"), 1))
    p = probes.select(
        F.col(probe_id_col).alias("query_id"),
        _as_double_array(F.col(vec_col)).alias("__pvec"),
    ).withColumn("bucket", F.element_at(bucket_udf("__pvec"), 1))
    scored = (
        c.join(F.broadcast(p), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("sim", F.round(cosine_similarity(F.col("__pvec"), F.col("__cvec")), 6))
    )
    return topk_per_query(scored, k)


def _plane_matrix(n_planes: int, dim: int, seed: int):
    """dim × n_planes hyperplane weights — same PRNG stream as
    random_hyperplane_bucket, so both implementations bucket identically.
    Each plane is one PRNG stream, so the matrix for a smaller ``dim`` is
    the leading rows of the matrix for a larger one."""
    import random

    import numpy as np

    cols = []
    for j in range(n_planes):
        rng = random.Random(seed * 100003 + j)
        cols.append([rng.uniform(-0.5, 0.5) for _ in range(dim)])
    return np.array(cols).T


def multi_table_buckets_udf(n_planes: int, n_tables: int):
    """Arrow-vectorized bucket assignment: ONE numpy matmul computes all
    n_tables × n_planes hyperplane dots per batch, vs n_tables × n_planes
    interpreted aggregate-over-zip_with passes per row in the expression
    form (higher-order functions have no codegen). For 8 tables × 12 planes
    the matmul path is the difference between touching each vector element
    96 times in the interpreter and once in BLAS. Table t uses seed
    42 + 7919·t; the weight matrix is sized from the batch's vector
    width, so the caller never states the dimension."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType

    powers = 2 ** np.arange(n_planes, dtype=np.int64)
    mats = {}  # dim -> dim × (n_tables · n_planes), built once per worker

    def _buckets(vs):
        x = np.stack(vs.to_numpy())  # batch × dim
        dim = x.shape[1]
        if dim not in mats:
            mats[dim] = np.concatenate(
                [_plane_matrix(n_planes, dim, 42 + 7919 * t) for t in range(n_tables)],
                axis=1,
            )
        bits = (x @ mats[dim]) > 0  # batch × (T·P)
        ids = (bits.reshape(len(x), n_tables, n_planes) * powers).sum(axis=2)
        return pd.Series(list(ids))

    # no type hints: the module's postponed annotations would leave them as
    # unresolvable strings for pandas_udf's signature inference.
    # Non-deterministic marking pins ONE evaluation per branch (guide
    # §4.4): the bucket feeds LSH equi-join keys, and the join-key
    # isnotnull pushdown otherwise duplicates the ArrowEvalPython node —
    # measured 4 -> 2 Arrow nodes / ~1.25x on embedding_near_dup_pairs.
    # The function is a pure function of the vector, so values are
    # unchanged; no consumer joins it against a partitioned table (no
    # dynamic-partition-pruning dependency, unlike the IVF cell router).
    return F.pandas_udf(_buckets, ArrayType(LongType())).asNondeterministic()


def lsh_topk_exact(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "query_id",
) -> DataFrame:
    """lsh_topk's cross-engine EXACT twin (the kmeans_exact treatment):
    same hyperplanes (:func:`_plane_matrix`, plan-time literals), but the
    sign of each hyperplane dot is decided on a fixed-point 12dp bigint sum of
    the per-element double products, so bucket ids are independent of
    summation order and reproducible verbatim in any engine that can
    replay the literal weight table — which puts the seeded LSH search
    under an exact DuckDB oracle instead of a rows-only check.

    Shape: posexplode the vectors once, join the broadcast dim×n_planes
    weight relation, two map-side-combined aggregations (per (vec,
    plane) dot, then per vec bucket) — O(n·planes) rows shuffled, no
    UDF, no numpy. The matmul path (:func:`lsh_topk`) stays the
    throughput default; this is the auditable one.

    The weight relation covers positions 1..64; a shorter vector joins
    its leading rows, which are exactly the narrower matrix
    (:func:`_plane_matrix`), so it buckets as :func:`lsh_topk` does.
    """
    spark = corpus.sparkSession
    mat = _plane_matrix(n_planes, 64, 42)
    wdf = spark.createDataFrame(
        [
            (i + 1, j, float(mat[i, j]))
            for i in range(64)
            for j in range(n_planes)
        ],
        "pos int, plane int, w double",
    )

    def buckets(df, out_id):
        ex = df.select(
            F.col(out_id), F.posexplode(_as_double_array(F.col("__vec")))
        ).select(out_id, (F.col("pos") + 1).alias("pos"), F.col("col").alias("v"))
        dots = (
            ex.join(F.broadcast(wdf), "pos")
            .groupBy(out_id, "plane")
            .agg(
                F.sum(
                    F.floor(F.col("v") * F.col("w") * F.lit(1e12) + F.lit(0.5))
                ).alias("dot")
            )
        )
        # disjoint bits: OR == integer addition (and sum gets a map-side
        # partial phase that bitwise-OR aggregation wouldn't)
        bit = F.expr("shiftleft(CAST(1 AS BIGINT), plane)")
        return dots.groupBy(out_id).agg(
            F.sum(
                F.when(F.col("dot") > 0, bit).otherwise(F.lit(0).cast("long"))
            ).alias("bucket")
        )

    c = corpus.select(
        F.col(id_col).alias("vec_id"), _as_double_array(F.col(vec_col)).alias("__vec")
    )
    p = probes.select(
        F.col(probe_id_col).alias("query_id"),
        _as_double_array(F.col(vec_col)).alias("__vec"),
    )
    cb = c.join(buckets(c.select("vec_id", "__vec"), "vec_id"), "vec_id")
    pb = p.join(buckets(p.select("query_id", "__vec"), "query_id"), "query_id")
    scored = (
        cb.withColumnRenamed("__vec", "__cvec")
        .join(F.broadcast(pb.withColumnRenamed("__vec", "__pvec")), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "sim", F.round(cosine_similarity(F.col("__pvec"), F.col("__cvec")), 6)
        )
    )
    return topk_per_query(scored, k)


def embedding_near_dup_pairs(
    df: DataFrame,
    min_sim: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (X2 embedding variant):
    multi-table LSH self-join, then exact cosine filter. Returns
    (id_a, id_b, sim), a<b.

    A single 10-plane table has ~20% recall at sim 0.9; OR-ing 8
    independent tables (different seeds) raises it to 1-(1-p)^T — ~93% at
    sim 0.95 with 12 planes × 8 tables, while random pairs still collide at
    only ~T/2^n_planes ≈ 0.2%, keeping the self-join far from O(n²).

    A true near-dup pair collides in MOST of the 8 buckets
    (high-sim vectors agree in nearly every table); each pair survives
    only in its first agreeing table (:func:`dedup.band_join`), decided
    inside the join stage before the cosine: one cosine per pair, no
    pair-dedup exchange at all."""
    c = embedding_sig_index(df, id_col, vec_col)
    return _embedding_band_join(c, c, id_col, min_sim)


def _embedding_band_join(
    new: DataFrame,
    old: DataFrame,
    id_col: str,
    min_sim: float,
    pair: tuple[str, str] = ("id_a", "id_b"),
    ids=operator.lt,
) -> DataFrame:
    """:func:`dedup.band_join` of two :func:`embedding_sig_index`
    relations on (table, bucket), first agreeing table decided from the
    __bkts arrays, then one exact cosine per surviving pair from the
    hoisted norms. No join hint. Returns (``pair``, sim) with sim >=
    ``min_sim``."""
    from ..functions import dot
    from .dedup import band_join, first_agreeing_band

    first_table = first_agreeing_band("__bkts")
    sim = dot(F.col("a.__vec"), F.col("b.__vec")) / (
        F.col("a.__norm") * F.col("b.__norm")
    )
    return band_join(
        new,
        old,
        [F.col(id_col).alias("__id"), "__vec", "__norm", "__bkts"],
        F.col("__bkts"),
        ("tbl", "bucket"),
        first_table,
        F.round(sim, 6).alias("sim"),
        pair,
        ids,
        hint=None,
    ).filter(F.col("sim") >= min_sim)


def embedding_sig_index(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector hyperplane-LSH STATE, one row per id: (id, __vec,
    __norm, __bkts) — the vector as doubles, its norm computed once,
    and its bucket ids in 8 tables of 12 hyperplanes. This is the embedding twin of
    dedup.minhash_sig_index: PERSIST it (O(corpus) rows, unexploded)
    and later batches pair against it via
    :func:`embedding_incremental_pairs` without re-bucketing old
    vectors. Norms are hoisted here so every downstream cosine is one
    interpreted HOF traversal (the hoist-hof-folds discipline), and the
    same relation feeds :func:`embedding_near_dup_pairs`' self-join —
    stream state and batch pipeline share one signature definition by
    construction."""
    from ..functions import norm

    bucket_udf = multi_table_buckets_udf(12, 8)
    return df.select(
        F.col(id_col),
        _as_double_array(F.col(vec_col)).alias("__vec"),
    ).select(
        id_col,
        "__vec",
        norm(F.col("__vec")).alias("__norm"),
        bucket_udf("__vec").alias("__bkts"),
    )


def embedding_incremental_pairs(
    new_df: DataFrame,
    index: DataFrame,
    min_sim: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """NEW-vs-INDEXED embedding near-dup pairs: bucket only the incoming
    batch (the index rows carry their build-time __bkts verbatim), join
    on (table, bucket), decide each pair in its first agreeing table
    (:func:`dedup.band_join`, as in the batch self-join), then one exact
    cosine per surviving pair. Returns (new_id, old_id, sim)
    with sim >= min_sim. Same hyperplanes, same first-agree rule and
    the same float associations as :func:`embedding_near_dup_pairs`, so
    intra-batch pairs + these cross-batch pairs accumulate to EXACTLY
    the single-shot batch pair set whatever the batch boundaries — the
    batch-boundary-independence contract the minhash stream established
    (dedup.minhash_incremental_pairs), applied to vectors. Per batch:
    O(batch) bucketing + a join sized by the batch's true collisions,
    never O(history) re-hashing. Contract: new ids are disjoint from
    indexed ids (the ledger's dedup job, as for minhash)."""
    new_sigs = embedding_sig_index(new_df, id_col, vec_col)
    return _embedding_band_join(
        new_sigs, index, id_col, min_sim, ("new_id", "old_id"), operator.ne
    )


def _normalize_rows(x):
    import numpy as np

    norms = np.linalg.norm(x, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return x / norms


def kmeans_centroids(
    corpus: DataFrame,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Spherical k-means centroids as a k×dim numpy array (driver-side
    model, like MLlib's): hash-ordered deterministic init, then ``iters``
    Lloyd rounds — assign every vector to its nearest centroid with one
    Arrow-vectorized matmul pass (no cross-join, no per-vector window),
    recompute each centroid as the mean of its members (grouped-agg pandas
    UDF), collect k×dim back. Per round: one narrow pass + one shuffle of
    (cell, vec) with map-side batching — the canonical distributed k-means
    cost, O(n·k) compute and O(n) shuffle.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, DoubleType, IntegerType

    c = corpus.select(
        F.col(id_col).alias("vec_id"), _as_double_array(F.col(vec_col)).alias("__vec")
    )
    init = (
        c.orderBy(F.xxhash64(F.col("vec_id") + F.lit(42)))
        .limit(k)
        .orderBy("vec_id")
        .collect()
    )
    if not init:
        # Empty corpus: a 0×0 model (Spark array schemas carry no fixed
        # width to probe). It MUST NOT be used for assignment — only for
        # "index is empty" branches.
        return np.zeros((0, 0))
    k = min(k, len(init))  # corpus smaller than k: one centroid per vector
    cents = _normalize_rows(np.array([r["__vec"] for r in init]))

    def assign_udf(cmat):
        cn = _normalize_rows(cmat)

        def _assign(vs):
            x = _normalize_rows(np.stack(vs.to_numpy()))
            return pd.Series((x @ cn.T).argmax(axis=1).astype("int32"))

        return F.pandas_udf(_assign, IntegerType())

    def _mean_vec(vs):
        import numpy as np  # noqa: F811  (ships by value to executors)

        return np.stack(vs.to_numpy()).mean(axis=0).tolist()

    mean_vec = F.pandas_udf(_mean_vec, ArrayType(DoubleType()), F.PandasUDFType.GROUPED_AGG)

    for _ in range(iters):
        assigned = c.withColumn("cell", assign_udf(cents)("__vec"))
        new = {
            r["cell"]: np.array(r["c"])
            for r in assigned.groupBy("cell").agg(mean_vec("__vec").alias("c")).collect()
        }
        cents = _normalize_rows(
            np.stack([new.get(i, cents[i]) for i in range(k)])  # empty cell: keep old
        )
    return cents


def kmeans_exact(
    emb: DataFrame,
    k: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fixed-iteration Lloyd k-means whose every step is cross-engine
    EXACT — the PageRank treatment (graphs.pagerank) applied to
    clustering, where kmeans_centroids above is the fast rows-only
    model-building twin.

    Determinism discipline, step by step: init = the k lowest-id vectors
    (cid by id order); assignment is the family's one distance rule
    (:func:`_sq_dists`, :func:`_nearest`); the centroid update sums
    coordinates in DECIMAL(38,10) and performs ONE double division.
    The oracle twin unrolls the same ``iters`` rounds as chained CTEs.

    Scale shape: the corpus is projected to (vid, vec) and
    hash-partitioned by id ONCE (_keyed_corpus — the identical subtree
    every round references, so ReuseExchange collapses all corpus
    passes to one scan + one shuffle); the exploded (id, pos, v)
    relation joins a BROADCAST k*dim centroid relation (tiny at any
    corpus size), and because explode/broadcast-join preserve the
    vid partitioning, the per-(vector, centroid) aggregate, the argmin
    window and the assignment back-join all run WITHOUT further
    exchanges — O(n*k) compute per round, no per-round shuffle, no
    collect anywhere (the centroid state stays a DataFrame).

    Returns (cid, pos, n, centroid): long-form centroids after ``iters``
    updates with member counts — scalar columns for the driver canon.
    """
    if iters < 1:
        raise ValueError("kmeans_exact needs at least one iteration")
    base = _keyed_corpus(emb, id_col, vec_col)
    ex = _exploded(base)
    # seeds come from the RAW input, not the filtered keyed corpus: the
    # first k ids must be the same universe as before the filter existed
    # (an empty-vector id among them contributes no centroid rows either
    # way, but its presence shifts which ids the limit admits)
    seeds = emb.select(F.col(id_col).alias("vid")).orderBy("vid").limit(k)
    cents = ex.join(F.broadcast(seeds), "vid").select(
        (
            F.row_number().over(Window.partitionBy("pos").orderBy("vid")) - 1
        ).alias("cid"),
        "pos",
        F.col("v").alias("c"),
    )
    updated = None
    for _ in range(iters):
        assign = _nearest(_sq_dists(ex, cents, ["vid"]), ["vid"]).select("vid", "cid")
        updated = assign.join(ex, "vid").groupBy("cid", "pos").agg(
            (
                F.sum(F.col("v").cast("decimal(38,10)")).cast("double")
                / F.count(F.lit(1))
            ).alias("c"),
            F.count(F.lit(1)).alias("n"),
        )
        cents = updated.select("cid", "pos", "c")
    return updated.select(
        "cid",
        "pos",
        "n",
        (F.floor(F.col("c") * 1e6 + F.lit(0.5)) / 1e6).alias("centroid"),
    )


IVF_CENTROIDS = 16  # ivf_topk_exact's k-means cells


def ivf_topk_exact(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "query_id",
) -> DataFrame:
    """ivf_topk's cross-engine EXACT twin: centroids from
    :func:`kmeans_exact` (decimal-summed Lloyd rounds, 6dp-floored
    coordinates), corpus assignment and probe routing by the family's
    distance rule (:func:`_sq_dists`, :func:`_nearest`) — every routing
    decision is partitioning-independent and replayable in SQL, so the
    full seeded build-and-search pipeline sits under an
    exact DuckDB oracle (chained-CTE Lloyd rounds + the same assignment
    and scoring CTEs). The Arrow-matmul :func:`ivf_topk` stays the
    throughput default. Probes must be drawn from the corpus (routing
    reuses the corpus distance relation keyed by id); a probe id absent
    from the corpus is silently unrouted.

    Shape: exploded (id, pos, v) joins a BROADCAST k×dim centroid
    relation, distance terms combine map-side to n·k rows, argmin
    windows partition by vector id — O(n·k) compute, no collect.
    """
    cents = kmeans_exact(corpus, k=IVF_CENTROIDS, iters=iters, id_col=id_col, vec_col=vec_col)
    cm = cents.select("cid", "pos", F.col("centroid").alias("c"))
    # the SAME _keyed_corpus subtree kmeans_exact builds internally —
    # ReuseExchange serves the assignment pass and the vector back-join
    # from the one corpus materialization (guide §2.4/§6)
    base = _keyed_corpus(corpus, id_col, vec_col)
    dists = _sq_dists(_exploded(base), cm, ["vid"])
    assigned = (
        _nearest(dists, ["vid"])
        .select("vid", F.col("cid").alias("cell"))
        .join(base.select("vid", F.col("__vec").alias("__cvec")), "vid")
        .select(F.col("vid").alias("vec_id"), "cell", "__cvec")
    )
    probe_ids = probes.select(
        F.col(probe_id_col).alias("query_id"),
        _as_double_array(F.col(vec_col)).alias("__pvec"),
    )
    # route AFTER restricting the dist relation to the probe ids: the
    # shared `ranked` relation used to rank ALL n vids' dist rows and
    # keep only the probes' top-nprobe — joining the (broadcast-sized)
    # probe set below the window confines the rank to #probes × k rows
    # (guide §2.3; per-vid ranking is unchanged by the join, so
    # rn <= nprobe selects exactly the same cells)
    routed = (
        _nearest(
            dists.join(
                probe_ids.select(F.col("query_id").alias("vid"), "__pvec"), "vid"
            ),
            ["vid"],
            nprobe,
        ).select(F.col("vid").alias("query_id"), F.col("cid").alias("cell"), "__pvec")
    )
    scored = (
        assigned.join(F.broadcast(routed), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "sim", F.round(cosine_similarity(F.col("__pvec"), F.col("__cvec")), 6)
        )
    )
    return topk_per_query(scored, k)


def _cell_router(cn, nprobe: int, pin_single_eval: bool = False):
    """Arrow UDF routing each vector to its ``nprobe`` nearest centroids
    of the normalized k×dim matrix ``cn`` (ships by value).

    ``pin_single_eval`` marks the UDF non-deterministic (guide §4.4):
    when the router's output feeds the cell equi-join key, the
    optimizer's join-key isnotnull pushdown duplicates the
    ArrowEvalPython node per corpus branch — every vector pays the
    matmul twice (plan-verified on hybrid_rrf_fast: 5 Arrow nodes, two
    of them re-evaluations; 2 after). The function is pure, so pinning
    one evaluation changes nothing about the values. NOT the default:
    ivf_search_index's partition-pruned scan needs a deterministic
    probe-side key to plan its dynamicpruningexpression."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, IntegerType

    def _nearest_cells(vs):
        x = _normalize_rows(np.stack(vs.to_numpy()))
        order = np.argsort(-(x @ cn.T), axis=1)[:, :nprobe].astype("int32")
        return pd.Series(list(order))

    udf = F.pandas_udf(_nearest_cells, ArrayType(IntegerType()))
    return udf.asNondeterministic() if pin_single_eval else udf


def ivf_build_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist an IVF index of 16 cells (2 Lloyd rounds, seed 42): the production ANN lifecycle, where the
    k-means build is paid ONCE and amortized over every later search.

    Layout on disk:
    - ``path/centroids``: (cell int, centroid array<double>) — k rows,
      the driver-side model round-tripped through parquet.
    - ``path/vectors``:   (vec_id, embedding) PARTITIONED BY cell — each
      inverted list is its own partition directory, so a search that
      routes to nprobe cells prunes every other partition at the SCAN
      (dynamic partition pruning from the broadcast cell join; at 100 TB
      this is the difference between reading nprobe/k of the corpus and
      all of it).

    Determinism: the seeded k-means model and md5-free argmax assignment
    make the whole index a pure function of the corpus — the
    persisted searcher below returns row-identical results to the
    in-memory ivf_topk, which the tests assert.
    """
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        _as_double_array(F.col(vec_col)).alias("embedding"),
    )
    cents = kmeans_centroids(corpus, 16, 2, id_col, vec_col)
    cn = _normalize_rows(cents)
    spark = corpus.sparkSession
    cent_df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(cents)],
        "cell int, centroid array<double>",
    )
    cent_df.coalesce(1).write.mode("overwrite").parquet(path + "/centroids")
    assigned = c.withColumn("cell", F.element_at(_cell_router(cn, 1)("embedding"), 1))
    # cell-keyed write distribution: one file per inverted-list directory
    # (otherwise every task writes a sliver into ~every cell dir)
    (
        assigned.repartition(F.col("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path + "/vectors")
    )


def ivf_search_index(
    spark,
    path: str,
    probes: DataFrame,
    k: int = 5,
    probe_id_col: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search a persisted IVF index (ivf_build_index): load the k-row
    centroid model (bounded driver collect, like the in-memory path),
    route each probe to its 4 nearest cells, and score ONLY those cells'
    partitions — the broadcast join on the partition column lets Spark
    prune the unrouted inverted lists at the scan. Same output contract
    as ivf_topk: (query_id, vec_id, sim) top-k per query, self excluded."""
    import numpy as np

    cent_rows = spark.read.parquet(path + "/centroids").orderBy("cell").collect()
    cn = _normalize_rows(np.array([r["centroid"] for r in cent_rows]))
    p = probes.select(
        F.col(probe_id_col).alias("query_id"),
        _as_double_array(F.col(vec_col)).alias("__pvec"),
    )
    routed = p.select(
        "query_id", "__pvec", F.explode(_cell_router(cn, 4)("__pvec")).alias("cell")
    )
    vectors = spark.read.parquet(path + "/vectors").select(
        "vec_id", F.col("embedding").alias("__cvec"), "cell"
    )
    scored = (
        vectors.join(F.broadcast(routed), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "sim", F.round(cosine_similarity(F.col("__pvec"), F.col("__cvec")), 6)
        )
    )
    return topk_per_query(scored, k)


def embedding_dim_covariance(
    df: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Dimension-wise covariance AND correlation of an embedding column —
    the whitening / redundant-dimension / collapsed-representation
    diagnostic an embedding pipeline runs before indexing (highly
    correlated dimensions mean wasted index bits; near-zero variance
    means a dead dimension).

    Exact-gate discipline: per-row products x_i*x_j are one IEEE double
    multiply (float32 inputs widen exactly), floor-quantized to 12dp
    fixed-point BIGINTs (far below float32's ~7 significant digits, so
    the quantization is noise-free in practice but makes the value an
    integer BOTH engines compute identically), then summed with exact
    integer addition: partitioning- and order-independent. Because the
    sums run over the CORPUS (unbounded n, unlike the dim-bounded
    distance sums), each term splits into (div 2^20, mod 2^20) halves
    whose two long sums recombine into the exact integer — see the
    in-code note. cov = (SP - S_i*S_j/n)/n in mirrored double
    arithmetic, floor-rounded 8dp; corr divides by IEEE-exact sqrts of
    the (rounded) diagonal variances, floor-rounded 6dp, NULL when
    either variance is 0.

    Scale: the d^2/2 cell explosion is CPU inside whole-stage codegen,
    NOT shuffle — the (i, j) groupBy partial-aggregates map-side, so
    shuffle volume is partitions x d(d+1)/2 cells regardless of row
    count, the same volume a hand-written per-partition Gram-matrix
    mapInPandas would ship (that Arrow path is the right swap for
    d >= ~256, at the cost of leaving the exact gate: float partial
    sums are partitioning-dependent). The diagonal join-back is a
    d-row broadcast. The token array is materialized before the HOF
    lambdas (interpreted, no CSE — the measured 30x trap).

    d-sweep guidance (SCALE_SMOKE r7/r8 in git history, 500k rows): d=64 -> 2,080
    cells/vector, 48s; d=256 -> 32,896 cells, 783s — linear in rows,
    quadratic in d. Past d ~256 prefer either (a) the Arrow Gram-matrix
    mapInPandas (exact gate lost), or (b) :func:`embedding_dim_covariance_jl`
    below — JL-project to k dims first (d*k work) and run this operator
    at k²/2 cells, STAYING inside the exact gate (the md5 sign matrix is
    engine-recomputable); at d=1024, k=64 that is ~240x fewer cells for
    a diagnostics-grade answer (covariance of the projection, distortion
    bounded by the JL lemma).

    Fixed-dimensionality contract: all (non-empty) vectors must share
    one length d — ragged input would mix inconsistent populations in
    the centering term and is rejected with a runtime error (see the
    ragged guard below) rather than silently mis-estimated.

    Returns (i, j, n, cov, corr) for 0 <= i <= j < d.
    """
    v = F.col(vec_col)
    # empty/NULL vectors are dropped: sequence(0, size-1) with size <= 0
    # would otherwise infer a NEGATIVE step (Spark yields [0, -1]) and
    # feed element_at an invalid 0 index
    base = (
        df.select(v.alias("__v"))
        .withColumn("__d", F.size("__v"))
        .filter(F.col("__d") > 0)
    )
    cells = base.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(0), F.col("__d") - 1),
                    lambda i: F.transform(
                        F.sequence(i, F.col("__d") - 1),
                        lambda j: F.struct(
                            i.alias("i"),
                            j.alias("j"),
                            (
                                F.element_at("__v", i + 1).cast("double")
                                * F.element_at("__v", j + 1).cast("double")
                            ).alias("p"),
                        ),
                    ),
                )
            )
        ).alias("__c")
    ).select(
        F.col("__c.i").alias("i"),
        F.col("__c.j").alias("j"),
        F.floor(F.col("__c.p") * F.lit(1e12) + F.lit(0.5)).alias("__p"),
    )

    # Exact corpus-sized sums of 12dp fixed-point terms WITHOUT boxed
    # decimals: a single BIGINT sum of floor(t*1e12+0.5) could overflow
    # at n ~ 1e5-1e9 rows (terms carry up to ~1e13 each), so each term
    # splits into (t div 2^20, t % 2^20) — truncating div/mod satisfy
    # q*2^20 + r == t for either sign — and the two LONG sums (both
    # codegen fast-path, both exactly associative) recombine into the
    # exact integer in DECIMAL arithmetic at the d² group rows. Headroom:
    # the lo sum is < n*2^20 and the hi sum < n*|t|max*1e12/2^20, good
    # past 1e11 rows; the oracle's HUGEINT sum equals the recombined
    # integer, and both engines then take the identical
    # cast-to-double / 1e12 path.
    def _split_sum(col: str, hi: str, lo: str):
        return [
            F.sum(F.expr(f"{col} div 1048576")).alias(hi),
            F.sum(F.expr(f"{col} % 1048576")).alias(lo),
        ]

    def _split_dbl(hi: str, lo: str):
        return (
            (
                F.col(hi).cast("decimal(38,0)") * F.lit(1048576) + F.col(lo)
            ).cast("double")
            / F.lit(1e12)
        )

    sums = base.select(
        F.posexplode("__v").alias("i", "__x")
    ).select(
        "i",
        F.floor(F.col("__x").cast("double") * F.lit(1e12) + F.lit(0.5)).alias("__x12"),
    ).groupBy("i").agg(*_split_sum("__x12", "__shi", "__slo")).select(
        "i", _split_dbl("__shi", "__slo").alias("__s")
    )
    sp = cells.groupBy("i", "j").agg(
        F.count(F.lit(1)).alias("n"), *_split_sum("__p", "__phi", "__plo")
    ).select("i", "j", "n", _split_dbl("__phi", "__plo").alias("__sp"))
    cov = (
        F.col("__sp") - F.col("__si") * F.col("__sj") / F.col("n")
    ) / F.col("n")
    m = (
        sp.join(F.broadcast(sums.select("i", F.col("__s").alias("__si"))), "i")
        .join(
            F.broadcast(sums.select(F.col("i").alias("j"), F.col("__s").alias("__sj"))),
            "j",
        )
        .select(
            "i",
            "j",
            "n",
            (F.floor(cov * F.lit(1e8) + F.lit(0.5)) / F.lit(1e8)).alias("cov"),
        )
    )
    # ONE evaluation of the corpus for the whole diagnostic: the final
    # output re-derives this d²-row relation four times (itself, the two
    # diagonal broadcasts, the ragged guard), and column pruning gives
    # each copy a different projection of the sp aggregate, so the
    # subtrees never canonicalize equal and every copy re-planned BOTH
    # corpus passes (cells + per-dim sums — 5 full-width scans,
    # plan-verified). The relation is dimension-bounded (d(d+1)/2 rows
    # at ANY corpus size), so pin it physically: every consumer reads
    # these few-row blocks, and the two corpus-sized shuffle-map stages
    # run once by RDD identity (guide §2.4/§6).
    m = m.localCheckpoint(eager=False)
    diag = m.filter(F.col("i") == F.col("j")).select(
        F.col("i").alias("__k"), F.col("cov").alias("__var")
    )
    # Fixed-dimensionality contract, enforced loudly: with ragged vectors
    # the per-dim sums __si/__sj aggregate every vector HAVING dimension i
    # while the cell count n covers only vectors having both i and j, so
    # cov would silently mix inconsistent populations (neither the full
    # nor the pairwise-complete estimate). Ragged input shows up as
    # differing diagonal cell counts — a 1-row aggregate over the ALREADY
    # COMPUTED d-row diagonal, no extra pass over the data — and the
    # guard is folded guard-first into the output's n (coalesce + left
    # operand placement so Catalyst can neither prune nor short-circuit
    # it; the loud-guard pattern from zorder_ranks).
    ragged = m.filter(F.col("i") == F.col("j")).agg(
        F.count_distinct(F.col("n")).alias("__nd")
    )
    ragged_guard = F.coalesce(
        F.assert_true(
            F.col("__nd") <= 1,
            F.lit(
                "embedding_dim_covariance: ragged vector lengths — fixed "
                "dimensionality is required (filter to the modal size first)"
            ),
        ).cast("bigint"),
        F.lit(0),
    )
    corr = F.when(
        (F.col("__vi") > 0) & (F.col("__vj") > 0),
        F.floor(
            F.col("cov") / (F.sqrt(F.col("__vi")) * F.sqrt(F.col("__vj")))
            * F.lit(1e6)
            + F.lit(0.5)
        )
        / F.lit(1e6),
    )
    return (
        m.join(
            F.broadcast(diag.select(F.col("__k").alias("i"), F.col("__var").alias("__vi"))),
            "i",
        )
        .join(
            F.broadcast(diag.select(F.col("__k").alias("j"), F.col("__var").alias("__vj"))),
            "j",
        )
        .crossJoin(F.broadcast(ragged))
        .select("i", "j", (ragged_guard + F.col("n")).alias("n"), "cov", corr.alias("corr"))
    )


def embedding_standardize(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension standardization (whitening's diagonal case): every
    embedding component becomes z = (x - mean_i) / std_i — the transform
    the covariance diagnostic feeds, applied before indexing so no
    dimension dominates distances by raw scale. Zero-variance (dead)
    dimensions return NULL rather than dividing by zero.

    Exact-gate discipline matches embedding_dim_covariance: component
    sums and squared sums are 12dp floor-quantized then DECIMAL-summed
    (order-independent), mean/variance are mirrored double arithmetic
    with the variance floor-rounded 8dp, std is IEEE-exact sqrt, and
    the output z floor-rounded 6dp.

    Scale: one posexplode (narrow), one d-cell aggregate (map-side
    combined: shuffle is partitions x d cells), one d-row broadcast
    join back — the vectors themselves are never shuffled.

    Returns (id_col, i, z) — one row per (vector, dimension).
    """
    base = df.select(F.col(id_col), F.posexplode(vec_col).alias("i", "__x"))
    x12 = (
        F.floor(F.col("__x").cast("double") * F.lit(1e12) + F.lit(0.5)) / F.lit(1e12)
    ).cast("decimal(20,12)")
    sq12 = (
        F.floor(
            F.col("__x").cast("double") * F.col("__x").cast("double") * F.lit(1e12)
            + F.lit(0.5)
        )
        / F.lit(1e12)
    ).cast("decimal(20,12)")
    dims = base.groupBy("i").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(x12).alias("__s"),
        F.sum(sq12).alias("__sq"),
    )
    mean = F.col("__s").cast("double") / F.col("__n")
    var = (
        F.floor(
            (
                F.col("__sq").cast("double")
                - F.col("__s").cast("double") * F.col("__s").cast("double") / F.col("__n")
            )
            / F.col("__n")
            * F.lit(1e8)
            + F.lit(0.5)
        )
        / F.lit(1e8)
    )
    stats = dims.select(
        "i", mean.alias("__mean"), var.alias("__var")
    )
    z = F.when(
        F.col("__var") > 0,
        F.floor(
            (F.col("__x").cast("double") - F.col("__mean"))
            / F.sqrt(F.col("__var"))
            * F.lit(1e6)
            + F.lit(0.5)
        )
        / F.lit(1e6),
    )
    return base.join(F.broadcast(stats), "i").select(
        id_col, "i", z.alias("z")
    )


def embedding_quantize_uint8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar UNSIGNED-8-bit quantization of an embedding column with
    per-vector reconstruction-error stats — the storage/bandwidth step an
    ANN index at 100 TB runs before anything else (4x smaller vectors, 4x
    more of the index resident in memory). Per-dimension affine codes:

        q = floor((x - min_i) / (max_i - min_i) * 255 + 0.5)   in [0, 255]
        x_hat = min_i + q / 255 * (max_i - min_i)

    Codes are UNSIGNED: the range is [0, 255], so a consumer persisting
    them in a SIGNED 8-bit type (Spark ``tinyint`` / parquet INT8) would
    overflow every value above 127 — store them in an unsigned byte
    (arrow uint8, numpy u1) or subtract 128 first if a signed container
    is mandatory. (This function previously shipped under the misleading
    name ``embedding_quantize_int8``, kept as an alias; the registered
    catalog query keeps that historical name too.)

    Dead dimensions (max == min) are coded 0. Returns one row per
    vector: (id, n_dims, code_sum, mse) where ``code_sum`` is the exact
    BIGINT sum of the vector's codes — a checksum that gates every code
    value — and ``mse`` the 8dp floor-rounded mean squared
    reconstruction error from 12dp-quantized DECIMAL-summed terms
    (order-independent, so the exact-gate discipline of
    embedding_dim_covariance applies end to end).

    Scale: one posexplode (narrow), one d-cell min/max aggregate
    (map-side combined; shuffle is partitions x d cells), one d-row
    broadcast join back, then a vec-keyed aggregate whose partial agg
    collapses each vector's d rows inside its original partition —
    the exploded relation is never shuffled at rows x d size and the
    vectors themselves never move."""
    base = df.select(F.col(id_col), F.posexplode(vec_col).alias("i", "__x0")).select(
        F.col(id_col), "i", F.col("__x0").cast("double").alias("__x")
    )
    dims = base.groupBy("i").agg(
        F.min("__x").alias("__mn"), F.max("__x").alias("__mx")
    )
    x, mn, mx = F.col("__x"), F.col("__mn"), F.col("__mx")
    q = (
        F.when(mx > mn, F.floor((x - mn) / (mx - mn) * F.lit(255.0) + F.lit(0.5)))
        .otherwise(F.lit(0))
        .cast("bigint")
    )
    joined = base.join(F.broadcast(dims), "i").withColumn("__q", q)
    deq = mn + F.col("__q").cast("double") / F.lit(255.0) * (mx - mn)
    e2 = (
        F.floor((x - deq) * (x - deq) * F.lit(1e12) + F.lit(0.5)) / F.lit(1e12)
    ).cast("decimal(20,12)")
    per_vec = (
        joined.select(F.col(id_col), "__q", e2.alias("__e2"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_dims"),
            F.sum("__q").alias("code_sum"),
            F.sum("__e2").alias("__se"),
        )
    )
    mse = (
        F.floor(
            F.col("__se").cast("double") / F.col("n_dims") * F.lit(1e8) + F.lit(0.5)
        )
        / F.lit(1e8)
    )
    return per_vec.select(
        F.col(id_col), "n_dims", "code_sum", mse.alias("mse")
    )


#: Back-compat alias — the codes were always unsigned [0, 255]; the old
#: name implied a signed byte could hold them (it can't, values > 127).
embedding_quantize_int8 = embedding_quantize_uint8


def pq_model_exact(
    emb: DataFrame,
    m: int = 4,
    sub_dim: int = 16,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Product-quantization model (Jegou et al. 2011, "Product
    Quantization for Nearest Neighbor Search", IEEE TPAMI — the public
    ANN-compression standard): split every d = m x sub_dim vector into
    ``m`` contiguous subspaces and learn an independent ``k``-centroid
    codebook per subspace with the :func:`kmeans_exact` recurrence
    (fixed-point Lloyd rounds, 6dp-floored coordinates) run under a
    subspace key, then code each vector as its per-subspace nearest
    centroid under the family's distance rule — so the whole model,
    codes included, is bit-identical across engines and replayable as
    chained SQL CTEs.

    Vectors whose length is not exactly m x sub_dim are dropped (the
    fixed-dimensionality contract of the embedding family; mirror the
    filter in any oracle). Returns ``(codes, cents)``: codes is
    (vec_id, subspace, code) long-form — m rows per vector, the 8x-to-
    256x compressed representation an ANN index stores at 100 TB —
    and cents is (subspace, cid, pos, c) with subspace-local 1-based
    positions.

    Scale shape: ONE subspace-keyed pipeline, not m sequential chains —
    the vectors explode once to (vec_id, subspace, pos, v), every Lloyd
    round is one broadcast join + one (vec, subspace)-keyed aggregate
    covering ALL subspaces, and the argmin windows partition by
    (vec_id, subspace). Values are identical to running kmeans_exact per
    sliced subspace (the seeds are the k lowest ids for every subspace,
    rounds update independently under the subspace key), which is what
    the per-subspace oracle CTE chains replay — but the plan pays one
    set of shuffles instead of m, and wall-clock stops scaling with m
    (measured 6.6s -> ~3s at sf0.1, m=4). Nothing collected."""
    d = m * sub_dim
    # hash-partition the filtered corpus by id once (the _keyed_corpus
    # treatment): every Lloyd round, the coding pass and the seed scan
    # reference this identical subtree, so ReuseExchange collapses them
    # to one scan + one shuffle, and the (vec_id, subspace)-keyed
    # aggregates/windows/joins downstream are satisfied by the vec_id
    # partitioning — no per-round exchanges (guide §2.4/§6)
    base = (
        emb.select(
            F.col(id_col).alias("vec_id"),
            _as_double_array(F.col(vec_col)).alias("__vec"),
        )
        .filter(F.size("__vec") == d)
        .repartition(F.col("vec_id"))
    )
    sub_ex = base.select(
        "vec_id", F.posexplode("__vec").alias("gpos0", "v")
    ).select(
        "vec_id",
        F.expr(f"gpos0 div {sub_dim}").cast("int").alias("subspace"),
        (F.col("gpos0") % F.lit(sub_dim) + 1).alias("pos"),
        "v",
    )
    seeds = base.select(F.col("vec_id").alias("__svid")).orderBy("__svid").limit(k)
    cents = sub_ex.join(
        F.broadcast(seeds), sub_ex.vec_id == F.col("__svid")
    ).select(
        (
            F.row_number().over(
                Window.partitionBy("subspace", "pos").orderBy("vec_id")
            )
            - 1
        ).alias("cid"),
        "subspace",
        "pos",
        F.col("v").alias("c"),
    )
    key, on = ["vec_id", "subspace"], ["subspace", "pos"]
    for _ in range(iters):
        assign = _nearest(_sq_dists(sub_ex, cents, key, on), key).select(*key, "cid")
        cents = (
            assign.join(sub_ex, key)
            .groupBy("subspace", "cid", "pos")
            .agg(
                (
                    F.sum(F.col("v").cast("decimal(38,10)")).cast("double")
                    / F.count(F.lit(1))
                ).alias("c")
            )
        )
    cm = cents.select(
        "subspace",
        "cid",
        "pos",
        (F.floor(F.col("c") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias("c"),
    )
    codes = _nearest(_sq_dists(sub_ex, cm, key, on), key).select(
        *key, F.col("cid").alias("code")
    )
    return codes, cm


# The PQ index shape: PQ_M subspaces of PQ_SUB_DIM dims, PQ_K centroids
# each, PQ_ITERS Lloyd rounds.
PQ_M, PQ_SUB_DIM, PQ_K, PQ_ITERS = 4, 16, 8, 2


def pq_topk_exact(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "query_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k search over PQ codes of the
    module's PQ shape (``PQ_M`` ...): per probe, precompute the m x k table of exact decimal squared distances from
    each probe subvector to each codebook centroid, then score every
    corpus vector as the SUM of its m table lookups — the corpus is
    touched only through its (vec_id, subspace, code) rows; the raw
    vectors are never re-read at query time, which is the entire point
    of PQ at scale (the codes are 8x-256x smaller than the vectors and
    the distance table is O(probes x m x k), broadcastable at any corpus
    size). Every table entry is a :func:`_sq_dists` distance, so ranking
    (adc ASC, vec_id ASC) is partitioning-independent and the whole
    build-code-search lifecycle carries an exact SQL oracle. Self-matches are excluded; the returned ``adc`` is the 6dp
    floor-rounded double of the exact decimal.

    Scale: codebooks/table broadcast; the scored relation is m rows per
    corpus vector partial-aggregated map-side to one; the top-k merge is
    the skew-free two-phase topk_per_query."""
    codes, cents = pq_model_exact(
        corpus, m=PQ_M, sub_dim=PQ_SUB_DIM, k=PQ_K, iters=PQ_ITERS,
        id_col=id_col, vec_col=vec_col,
    )
    return _pq_adc_search(
        codes, cents, probes, k=k, m=PQ_M, sub_dim=PQ_SUB_DIM,
        vec_col=vec_col, probe_id_col=probe_id_col,
    )


def _pq_adc_search(
    codes: DataFrame,
    cents: DataFrame,
    probes: DataFrame,
    k: int,
    m: int,
    sub_dim: int,
    vec_col: str = "embedding",
    probe_id_col: str = "query_id",
) -> DataFrame:
    """The ADC search stage shared by the in-memory and persisted PQ
    paths: probe distance tables against the (subspace, cid, pos, c)
    codebook, decimal lookup-sum over the (vec_id, subspace, code)
    relation, skew-free top-k."""
    p = probes.select(
        F.col(probe_id_col).alias("query_id"),
        _as_double_array(F.col(vec_col)).alias("__pvec"),
    ).filter(F.size("__pvec") == m * sub_dim)
    pex = p.select(
        "query_id", F.posexplode("__pvec").alias("pos0", "v")
    ).select(
        "query_id",
        F.expr(f"pos0 div {sub_dim}").cast("int").alias("subspace"),
        (F.col("pos0") % sub_dim + 1).alias("pos"),
        "v",
    )
    dtab = _sq_dists(
        pex, cents, ["query_id", "subspace"], ["subspace", "pos"]
    ).select("query_id", "subspace", F.col("cid").alias("code"), "dist")
    scored = (
        codes.join(F.broadcast(dtab), ["subspace", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("dist").alias("__adc"))
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    top = topk_per_query(
        scored.select("query_id", "vec_id", (-F.col("__adc")).alias("sim")), k
    )
    return top.select(
        "query_id",
        "vec_id",
        (
            F.floor(
                (-F.col("sim")).cast("double") / F.lit(1e12) * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("adc"),
    )


def pq_build_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist a PQ index of the module's PQ shape (``PQ_M`` ...) — the compressed-domain twin of
    ivf_build_index's pay-once lifecycle. Layout on disk:

    - ``path/codebooks``: (subspace, cid, pos, c) — m*k*sub_dim rows,
      the 6dp-floored codebook (coalesced to one file: it is the model).
    - ``path/codes``: (vec_id, codes array<int>) — ONE row per vector,
      the m-byte compressed representation, subspace-ordered. At 100 TB
      this table is the index: 4 int codes instead of 64 floats per
      vector, the only thing a search ever scans.

    Everything is integers or parquet-exact doubles, so the persisted
    searcher is value-identical to the in-memory pq_topk_exact — the
    tests and the driver oracle assert it."""
    codes, cents = pq_model_exact(
        corpus, m=PQ_M, sub_dim=PQ_SUB_DIM, k=PQ_K, iters=PQ_ITERS,
        id_col=id_col, vec_col=vec_col,
    )
    cents.coalesce(1).write.mode("overwrite").parquet(path + "/codebooks")
    wide = (
        codes.groupBy("vec_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("subspace", "code"))
            ).alias("__sc")
        )
        .select(
            "vec_id",
            F.transform("__sc", lambda s: s["code"]).alias("codes"),
        )
    )
    wide.write.mode("overwrite").parquet(path + "/codes")


def pq_append_index(
    spark,
    path: str,
    new_corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append a NEW vector batch to a persisted PQ index under its FROZEN
    codebooks — the compressed-domain twin of ivf_append_index_exact:
    each new vector's subspace slices are coded by the same
    distance rule the build used (deterministic: an appended
    copy of an indexed vector gets byte-identical codes, test-pinned),
    and only the m-int code rows are appended — old vectors and old
    codes are never read. Model retraining stays a rebuild-cadence
    decision, as for IVF.

    Contract: new ids disjoint from indexed ids (ledger upstream)."""
    cents = spark.read.parquet(path.rstrip("/") + "/codebooks")
    # Mirror the build's vector-length contract (pq_model_exact drops
    # wrong-length vectors): a wrong-length vector coded over partial
    # subspaces would produce short/biased code rows whose artificially
    # small ADC sums corrupt every subsequent search ranking.
    new_corpus = new_corpus.filter(
        F.size(_as_double_array(F.col(vec_col))) == PQ_M * PQ_SUB_DIM
    )
    ex = new_corpus.select(
        F.col(id_col).alias("vec_id"),
        F.posexplode(_as_double_array(F.col(vec_col))).alias("gpos0", "v"),
    ).select(
        "vec_id",
        # integer div, matching pq_model_exact/_pq_adc_search exactly
        # (double division agrees for realistic dims but departs from
        # the byte-identical-codes determinism discipline)
        F.expr(f"gpos0 div {PQ_SUB_DIM}").cast("int").alias("subspace"),
        (F.col("gpos0") % F.lit(PQ_SUB_DIM) + 1).alias("pos"),
        "v",
    )
    key = ["vec_id", "subspace"]
    codes = _nearest(_sq_dists(ex, cents, key, ["subspace", "pos"]), key).select(
        *key, F.col("cid").alias("code")
    )
    wide = (
        codes.groupBy("vec_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("subspace", "code"))
            ).alias("__sc")
        )
        .select(
            "vec_id",
            F.transform("__sc", lambda s: s["code"]).alias("codes"),
        )
    )
    wide.write.mode("append").parquet(path.rstrip("/") + "/codes")


def pq_search_index(
    spark,
    path: str,
    probes: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    probe_id_col: str = "query_id",
) -> DataFrame:
    """Search a persisted PQ index (pq_build_index) from disk: load the
    m*k*sub_dim-row codebook (broadcast-sized at any corpus scale),
    re-explode the codes array to (vec_id, subspace, code), and run the
    shared ADC stage. The scan reads ONLY the codes table — the raw
    vectors never leave cold storage, which is the PQ promise at
    100 TB. The codes table is read after io.recover, which finishes a
    pq_compact_index commit a crash tore."""
    from ..io import recover

    cents = spark.read.parquet(path + "/codebooks")
    recover(spark, path + "/codes")
    codes = spark.read.parquet(path + "/codes").select(
        "vec_id",
        F.posexplode("codes").alias("subspace", "code"),
    )
    return _pq_adc_search(
        codes, cents, probes, k=k, m=PQ_M, sub_dim=PQ_SUB_DIM,
        vec_col=vec_col, probe_id_col=probe_id_col,
    )


def ivf_build_index_exact(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the EXACT-gated IVF index: centroids from kmeans_exact
    (2 decimal-summed Lloyd rounds, 6dp-floored coordinates — fully
    SQL-replayable, unlike ivf_build_index's seeded Arrow model) and the
    corpus PARTITIONED by its nearest-centroid cell. Layout:

    - ``path/centroids``: long-form (cid, pos, c) — the 6dp model,
      k*dim rows, one file.
    - ``path/cells``: (vec_id, embedding) PARTITIONED BY cell — each
      inverted list its own partition directory, so a search pruning to
      nprobe cells reads nprobe/k of the corpus at the SCAN.

    Floored centroid coordinates and integer cells round-trip parquet
    exactly, so a from-disk search is value-identical to
    ivf_topk_exact — the persisted lifecycle inherits the full exact
    oracle, not just a planted recall gate."""
    cents = kmeans_exact(
        corpus, k=n_centroids, iters=2, id_col=id_col, vec_col=vec_col
    )
    cm = cents.select("cid", "pos", F.col("centroid").alias("c"))
    cm.coalesce(1).write.mode("overwrite").parquet(path.rstrip("/") + "/centroids")
    # same shared-subtree treatment as ivf_topk_exact: the assignment
    # pass and the vector back-join reuse kmeans_exact's one corpus
    # scan + shuffle instead of re-scanning per reference
    base = _keyed_corpus(corpus, id_col, vec_col)
    assigned = (
        _nearest(_sq_dists(_exploded(base), cm, ["vid"]), ["vid"])
        .select("vid", F.col("cid").alias("cell"))
        .join(base, "vid")
        .select(
            F.col("vid").alias("vec_id"),
            F.col("__vec").alias("embedding"),
            "cell",
        )
    )
    # cell-keyed write distribution (one file per inverted list; the
    # compaction operator stays the medicine for APPEND accumulation)
    (
        assigned.repartition(F.col("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path.rstrip("/") + "/cells")
    )


def ivf_append_index_exact(
    spark,
    path: str,
    new_corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append a NEW vector batch to a persisted exact IVF index under its
    FROZEN centroid model — incremental ANN ingestion (crawl N+1): the
    stored 6dp centroids route the new vectors by the same
    distance rule that built the index, and the rows land in
    their cells' partition directories via a partitioned append — old
    vectors are never read, let alone re-clustered. Standard IVF
    practice: the model is retrained on a cadence (rebuild), not per
    batch; between rebuilds the frozen-model assignment keeps every
    search result exactly what a full re-assignment under the same
    model would produce (routing is deterministic per vector).

    Contract: new ids must be disjoint from the indexed ids (the ledger's
    idempotence job, as for minhash_sig_index)."""
    cm = spark.read.parquet(path.rstrip("/") + "/centroids")
    c = new_corpus.select(
        F.col(id_col).alias("vid"),
        _as_double_array(F.col(vec_col)).alias("__vec"),
    )
    assigned = (
        _nearest(_sq_dists(_exploded(c), cm, ["vid"]), ["vid"])
        .select("vid", F.col("cid").alias("cell"))
        .join(c, "vid")
        .select(
            F.col("vid").alias("vec_id"), F.col("__vec").alias("embedding"), "cell"
        )
    )
    # one file per touched cell PER APPEND (delta-sized shuffle);
    # cross-append accumulation is ivf_compact_index's job
    (
        assigned.repartition(F.col("cell"))
        .write.mode("append")
        .partitionBy("cell")
        .parquet(path.rstrip("/") + "/cells")
    )


def ivf_search_many_exact(
    spark,
    paths: list[str],
    probes: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    vec_col: str = "embedding",
    probe_id_col: str = "query_id",
) -> DataFrame:
    """Scatter-gather search over N independent persisted IVF indexes —
    the multi-shard serving shape BETWEEN compactions (per-epoch indexes
    each built under its OWN model, e.g. daily builds that have not been
    folded yet): every shard is searched with its own centroids and
    partition pruning (ivf_search_index_exact), the per-shard top-k
    candidate lists union (N x k x probes rows — bounded by list length,
    never corpus), and one global (sim DESC, vec_id) window re-ranks to
    the fused top-k. Scores are the same 6dp exact cosine in every
    shard, so cross-shard ranks compare directly — no per-shard score
    calibration (the property that makes scatter-gather sound). An
    exact planted copy scores 1.0 in whichever shard holds it and
    survives any fusion — the recall-1 gate carries across shards.

    Contract: shard id spaces disjoint (the ledger's job). Searching N
    shards costs ~N x one-shard search; fold shards with appends +
    ivf_compact_index on a cadence to get back to one."""
    parts = [
        ivf_search_index_exact(
            spark, p, probes, k=k, nprobe=nprobe,
            vec_col=vec_col, probe_id_col=probe_id_col,
        )
        for p in paths
    ]
    if not parts:
        raise ValueError("ivf_search_many_exact needs at least one index")
    u = parts[0]
    for d in parts[1:]:
        u = u.unionByName(d)
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        u.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def ivf_compact_index(spark, path: str) -> None:
    """Compact a persisted IVF index's cell partitions after N delta
    appends — the file-count maintenance half of the daily-cadence
    lifecycle (build → append × N → COMPACT → search): every
    ivf_append_index_exact lands one-or-more new files in each touched
    cell directory, and after enough deltas a search pays per-file open
    overhead instead of scan throughput. The fix is a pure REWRITE:
    repartition the cells table BY the cell key (all rows of a cell
    hash to one task, so each partition directory collapses to one
    file) and land it through io.overwrite_parquet's one manifest
    commit (a crash leaves the old files or a commit the next
    io.recover finishes; io.recover runs first, so a torn earlier
    compaction is finished before the cells are read). The model is
    untouched and rows are only moved, never re-routed, so search
    results are value-identical before and after — pytest-pinned. Cost scales with the INDEX (vectors x dim), never
    with re-clustering; at 100 TB run it per-cell-range on a cadence,
    exactly like any small-file compaction job."""
    from ..io import overwrite_parquet, recover

    cells = path.rstrip("/") + "/cells"
    recover(spark, cells)
    overwrite_parquet(
        spark.read.parquet(cells).repartition(F.col("cell")), cells, ["cell"]
    )


def pq_compact_index(spark, path: str) -> None:
    """Compact a persisted PQ index's codes table after N delta appends
    (pq_append_index): the codes are the ONLY thing a search scans, so
    small-file buildup taxes every query. A pure rewrite to one file,
    landed by io.overwrite_parquet's manifest commit, after io.recover
    finishes any torn earlier one; codes are untouched integers, so
    search results are value-identical — pytest-pinned alongside the
    IVF twin."""
    from ..io import overwrite_parquet, recover

    codes = path.rstrip("/") + "/codes"
    recover(spark, codes)
    overwrite_parquet(spark.read.parquet(codes).repartition(1), codes)


def ivf_search_index_exact(
    spark,
    path: str,
    probes: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    vec_col: str = "embedding",
    probe_id_col: str = "query_id",
) -> DataFrame:
    """Search a persisted exact IVF index (ivf_build_index_exact) from
    disk: route each probe by the family's distance rule over the loaded
    6dp centroid relation, collect the routed cell ids (<= probes x
    nprobe rows — the kmeans k-row-collect shape) as LITERAL partition
    filters, scan only those inverted lists, and score in-cell cosine
    with the (sim DESC, vec_id) top-k. Every value
    matches ivf_topk_exact bit for bit, so the whole persisted lifecycle
    sits under the _ivf_exact_oracle CTE chain."""
    from ..io import recover

    base = path.rstrip("/")
    cm = spark.read.parquet(base + "/centroids")
    pex = probes.select(
        F.col(probe_id_col).alias("query_id"),
        _as_double_array(F.col(vec_col)).alias("__pvec"),
    )
    pxp = _exploded(
        pex.select(F.col("query_id").alias("vid"), F.col("__pvec").alias("__vec"))
    )
    routed = _nearest(_sq_dists(pxp, cm, ["vid"]), ["vid"], nprobe).select(
        F.col("vid").alias("query_id"), F.col("cid").alias("cell")
    )
    cell_ids = sorted({r["cell"] for r in routed.select("cell").distinct().collect()})
    recover(spark, base + "/cells")  # finish a compaction a crash tore
    members = spark.read.parquet(base + "/cells").filter(
        F.col("cell").isin(cell_ids)
    )
    scored = (
        members.join(F.broadcast(routed.join(pex, "query_id")), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "sim",
            F.round(cosine_similarity(F.col("__pvec"), F.col("embedding")), 6),
        )
    )
    return topk_per_query(scored, k)


def embedding_norm_outliers(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    factor: float = 2.0,
) -> DataFrame:
    """Norm-based embedding sanity check: flag vectors whose L2 norm is
    more than ``factor``x the corpus MEDIAN norm (or less than 1/factor)
    — the cheap catch for truncated, zero-padded, un-normalized or
    double-scaled vectors before they poison an index or a semantic-
    dedup threshold.

    Exactness: squared norms are 12dp floor-quantized DECIMAL sums
    (order-independent, the covariance discipline); the median is the
    lower median by EXACT global position — layout.global_positions'
    range-bucketed row_number, so no single-partition window touches a
    relation that grows with the corpus (approxQuantile supplies only
    the bucket boundaries, which steer parallelism, never the result);
    and the flag compares decimals against the broadcast 1-row median
    with factor^2 folded in (norm^2 vs median^2 avoids any sqrt).

    Returns (id, n_dims, norm2 — 8dp floor-rounded double, is_outlier).
    """
    from .layout import global_positions

    f2 = factor * factor
    if f2 != int(f2):
        raise ValueError("factor^2 must be integral for the exact-decimal flag")
    f2 = int(f2)
    base = df.select(
        F.col(id_col), F.posexplode(_as_double_array(F.col(vec_col))).alias("__i", "__x")
    ).select(
        F.col(id_col),
        (
            F.floor(F.col("__x") * F.col("__x") * F.lit(1e12) + F.lit(0.5))
            / F.lit(1e12)
        )
        .cast("decimal(20,12)")
        .alias("__x2"),
    )
    norms = base.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_dims"), F.sum("__x2").alias("__n2")
    )
    cuts = sorted(
        set(
            norms.select(F.col("__n2").cast("double").alias("__n2d")).approxQuantile(
                "__n2d", [i / 8 for i in range(1, 8)], 0.01
            )
        )
    )
    pos = global_positions(
        norms, norms, "__n2", id_col, cuts, "__pos", tot_col="__tot"
    )
    med = (
        pos.filter(F.col("__pos") == F.expr("(__tot + 1) div 2"))
        .select(F.col("__n2").alias("__med"))
    )
    flag = (F.col("__n2") > F.col("__med") * F.lit(f2)) | (
        F.col("__n2") * F.lit(f2) < F.col("__med")
    )
    return norms.crossJoin(F.broadcast(med)).select(
        F.col(id_col),
        "n_dims",
        (
            F.floor(F.col("__n2").cast("double") * F.lit(1e8) + F.lit(0.5)) / F.lit(1e8)
        ).alias("norm2"),
        flag.alias("is_outlier"),
    )


def jl_project_signs(
    df: DataFrame,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with a DETERMINISTIC
    ±1 sign matrix (Achlioptas 2003, "Database-friendly random
    projections" — the public sparse-JL result): y_j = (1/sqrt(k)) *
    sum_i s_ij * x_i with s_ij = ±1 drawn from the portable md5 hash of
    (i, j) — no stored model, no seed file: the projection matrix is a
    pure function both engines recompute identically, so reduced vectors
    are exact cross-engine. The pre-reduction step in front of an ANN
    index when d is large and 8x fewer dimensions buys 8x cheaper
    distance math at a bounded distortion (the JL lemma's guarantee).

    ``k`` must be a perfect square so the 1/sqrt(k) scale is one exact
    double division (the libm-free discipline; sqrt of a perfect square
    is exact anyway, but the integer guard keeps the contract obvious).

    Exact-gate discipline: per-term products are 12dp floor-quantized
    to fixed-point BIGINTs and summed with exact integer addition
    (order-independent); the output is 6dp floor-rounded after the
    exact scale division.

    Scale: one posexplode, a broadcast d x k sign relation (built from
    the DISTINCT dimension ids — 1024 md5 calls for d=64, k=16, never
    per row), and a (vec, j)-keyed partial-agg whose map-side combine
    collapses each vector's d x k terms inside its partition. Returns
    (id, j, proj) long-form — k rows per vector."""
    import math

    r = math.isqrt(k)
    if r * r != k:
        raise ValueError("k must be a perfect square")
    from ..functions import portable_hash64

    ex = df.select(
        F.col(id_col), F.posexplode(_as_double_array(F.col(vec_col))).alias("i", "__x")
    )
    dims = ex.select("i").distinct()
    js = df.sparkSession.range(k).select(F.col("id").cast("int").alias("j"))
    sign = F.when(
        F.pmod(
            portable_hash64(
                F.concat(
                    F.col("i").cast("string"), F.lit(":"), F.col("j").cast("string")
                )
            ),
            F.lit(2),
        )
        == 0,
        F.lit(1),
    ).otherwise(F.lit(-1))
    signs = dims.crossJoin(js).select("i", "j", sign.alias("__s"))
    # dim-bounded sum (d terms per (vec, j)): the 12dp fixed-point BIGINT
    # term sums directly on the long fast path — no decimal boxing, no
    # overflow headroom needed beyond d * |x|max * 1e12
    term = F.floor(F.col("__x") * F.col("__s") * F.lit(1e12) + F.lit(0.5))
    return (
        ex.join(F.broadcast(signs), "i")
        .select(F.col(id_col), "j", term.alias("__t"))
        .groupBy(id_col, "j")
        .agg(F.sum("__t").alias("__sum"))
        .select(
            F.col(id_col),
            "j",
            (
                F.floor(
                    F.col("__sum").cast("double") / F.lit(1e12) / F.lit(float(r))
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("proj"),
        )
    )
