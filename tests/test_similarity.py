"""ANN tests (VERDICT r1 item 4): exact top-k against a NumPy oracle,
LSH/IVF recall vs the exact baseline, tie-break determinism, planted
embedding near-dup recall."""

import math
import random

import pyspark.sql.functions as F
import pytest

from etl_ipl_data_analysis_pipeline_spark.operators import similarity

DIM = 16


@pytest.fixture(scope="module")
def vectors(spark):
    rnd = random.Random(11)
    rows = [
        (i, [rnd.gauss(0, 1) for _ in range(DIM)]) for i in range(100)
    ]
    # planted twins: 900+i ~ i with small noise
    rows += [
        (900 + i, [x + rnd.gauss(0, 0.02) for x in rows[i][1]]) for i in range(10)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def numpy_topk(rows, probes, k):
    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)

    out = {}
    for qid, qv in probes:
        scored = sorted(
            ((round(cos(qv, v), 6), -vid) for vid, v in rows if vid != qid),
            reverse=True,
        )
        out[qid] = [(-nid, s) for s, nid in scored[:k]]
    return out


def test_brute_force_matches_numpy_oracle(spark, vectors):
    rows = [(r["vec_id"], r["embedding"]) for r in vectors.collect()]
    probes = [r for r in rows if r[0] < 3]
    expected = numpy_topk(rows, probes, k=5)
    got = similarity.brute_force_topk(
        vectors, vectors.filter("vec_id < 3"), k=5, probe_id_col="vec_id"
    ).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["vec_id"], r["sim"]))
    for q, exp in expected.items():
        assert sorted(by_q[q]) == sorted((v, pytest.approx(s, abs=1e-5)) for v, s in exp)


def test_lsh_recall_vs_exact(spark, vectors):
    # Meaningful LSH recall is on HIGH-similarity neighbors: probe with the
    # planted twins (sim ~0.999 to their originals) and require the true
    # top-1 to survive bucketing. Random-vector neighbors (cos ~0.6) have
    # legitimately low single-table recall — only sanity-check those.
    twins = vectors.filter("vec_id >= 900")
    exact_top1 = {
        (r["query_id"], r["vec_id"])
        for r in similarity.brute_force_topk(
            vectors, twins, k=1, probe_id_col="vec_id"
        ).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in similarity.lsh_topk(
            vectors, twins, k=3, n_planes=8, probe_id_col="vec_id"
        ).collect()
    }
    assert len(exact_top1 & approx) / len(exact_top1) >= 0.8

    rand_probes = vectors.filter("vec_id < 10")
    rand_approx = similarity.lsh_topk(
        vectors, rand_probes, k=3, n_planes=8, probe_id_col="vec_id"
    )
    assert rand_approx.count() > 0  # buckets are not degenerate


def test_ivf_recall_vs_exact(spark, vectors):
    probes = vectors.filter("vec_id < 10")
    exact = {
        (r["query_id"], r["vec_id"])
        for r in similarity.brute_force_topk(vectors, probes, k=3, probe_id_col="vec_id").collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in similarity.ivf_topk(vectors, probes, k=3, probe_id_col="vec_id").collect()
    }
    assert len(exact & approx) / len(exact) >= 0.5


def test_topk_tie_break_ascending_ids(spark):
    v = [1.0, 0.0]
    corpus = spark.createDataFrame(
        [(i, v) for i in range(10)], "vec_id long, embedding array<double>"
    )
    probes = spark.createDataFrame([(0, v)], "query_id long, embedding array<double>")
    got = sorted(r["vec_id"] for r in similarity.brute_force_topk(corpus, probes, k=4).collect())
    assert got == [1, 2, 3, 4]  # self excluded, ties broken by ascending id


def test_embedding_near_dup_planted_recall(spark, vectors):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_near_dup_pairs(
            vectors, min_sim=0.95
        ).collect()
    }
    planted = {(i, 900 + i) for i in range(10)}
    found = len(pairs & planted)
    assert found >= 9  # multi-table LSH recall at sim ~0.999
    assert all(a < b for a, b in pairs)


def test_kmeans_centroids_shape_and_determinism(spark, sf_dir):
    import numpy as np

    from etl_ipl_data_analysis_pipeline_spark.operators.similarity import kmeans_centroids
    from etl_ipl_data_analysis_pipeline_spark.plans import load

    e = load(spark, sf_dir, "embeddings")
    c1 = kmeans_centroids(e, k=8, iters=2)
    c2 = kmeans_centroids(e, k=8, iters=2)
    assert c1.shape == (8, 64)
    assert np.allclose(c1, c2)  # deterministic under fixed seed
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)  # unit-normalized


def test_expression_and_udf_bucketing_agree(spark):
    # random_hyperplane_bucket (pure-expression fallback, no Arrow) and
    # multi_table_buckets_udf table 0 share one PRNG stream — same buckets
    import pyspark.sql.functions as F

    from etl_ipl_data_analysis_pipeline_spark.operators.similarity import (
        multi_table_buckets_udf,
        random_hyperplane_bucket,
    )

    df = spark.createDataFrame(
        [(i, [((i * 31 + j * 7) % 13 - 6) / 6.0 for j in range(64)]) for i in range(40)],
        "vec_id long, v array<double>",
    )
    out = df.select(
        "vec_id",
        random_hyperplane_bucket("v").alias("expr_b"),
        F.element_at(multi_table_buckets_udf(16, 1)("v"), 1).alias("udf_b"),
    ).collect()
    assert all(r["expr_b"] == r["udf_b"] for r in out)


def test_kmeans_exact_separates_known_clusters(spark):
    """Two obvious 2-D blobs, k=2 seeded from the two lowest ids (one in
    each blob by construction): after 2 Lloyd rounds every vector sits
    with its blob and the centroids are the exact blob means."""
    import pyspark.sql.functions as F

    from etl_ipl_data_analysis_pipeline_spark.operators import similarity

    rows = [
        (0, [0.0, 0.0]), (2, [1.0, 0.0]), (4, [0.0, 1.0]),   # blob A
        (1, [10.0, 10.0]), (3, [11.0, 10.0]), (5, [10.0, 11.0]),  # blob B
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        (r["cid"], r["pos"]): (r["n"], r["centroid"])
        for r in similarity.kmeans_exact(df, k=2, iters=2).collect()
    }
    # cid 0 seeds from vec_id 0 (blob A), cid 1 from vec_id 1 (blob B);
    # centroids come back floor-rounded to 6dp
    assert out[(0, 1)] == (3, 0.333333)
    assert out[(0, 2)] == (3, 0.333333)
    assert out[(1, 1)] == (3, 10.333333)
    assert out[(1, 2)] == (3, 10.333333)


def test_kmeans_exact_tie_breaks_to_lower_cid(spark):
    """A vector exactly equidistant from both centroids joins the
    lower-numbered cluster — the deterministic argmin contract the
    decimal distance sums make cross-engine stable."""
    from etl_ipl_data_analysis_pipeline_spark.operators import similarity

    rows = [(0, [0.0]), (1, [2.0]), (2, [1.0])]  # 2 is equidistant
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        (r["cid"], r["pos"]): (r["n"], r["centroid"])
        for r in similarity.kmeans_exact(df, k=2, iters=1).collect()
    }
    assert out[(0, 1)] == (2, 0.5)  # {0.0, 1.0} -> mean 0.5
    assert out[(1, 1)] == (1, 2.0)


# (1, y) vectors: the seeds are vec 0 (y=0, cid 0) and vec 1 (y=4, cid 1);
# one Lloyd round, with vec 2 joining cid 0 at its tie, moves the
# centroids to exactly y=1 and y=3, so vec 2 (y=2) stays equidistant.
_TIE_ROWS = [
    (0, [1.0, 0.0]), (1, [1.0, 4.0]), (2, [1.0, 2.0]),
    (3, [1.0, 1.0]), (4, [1.0, 2.5]), (5, [1.0, 2.5]),
]


@pytest.mark.parametrize("site", ["ivf_assign", "ivf_persisted_route", "pq_code"])
def test_exact_family_tie_goes_to_lower_cid(spark, tmp_path, monkeypatch, site):
    """Every exact-family site breaks an exact distance tie to the lower
    centroid id: corpus assignment, nprobe routing from a persisted
    index, and PQ coding."""
    df = spark.createDataFrame(_TIE_ROWS, "vec_id long, embedding array<double>")

    def probe(i):
        return df.filter(F.col("vec_id") == i).withColumnRenamed("vec_id", "query_id")

    if site == "ivf_assign":
        # probe 3 searches cell 0 alone, which holds vec 2 only if the
        # tie went to cid 0
        monkeypatch.setattr(similarity, "IVF_CENTROIDS", 2)
        out = similarity.ivf_topk_exact(df, probe(3), k=5, nprobe=1, iters=1)
        assert {r.vec_id for r in out.collect()} == {0, 2}
    elif site == "ivf_persisted_route":
        idx = str(tmp_path / "ivf")
        similarity.ivf_build_index_exact(df, idx, n_centroids=2)  # 2nd round: no move
        out = similarity.ivf_search_index_exact(spark, idx, probe(2), k=5, nprobe=1)
        assert {r.vec_id for r in out.collect()} == {0, 3}  # cell 0 minus vec 2
    else:
        codes, _ = similarity.pq_model_exact(df, m=1, sub_dim=2, k=2, iters=1)
        assert {r.vec_id: r.code for r in codes.collect()}[2] == 0


def test_ivf_persisted_index_matches_in_memory(spark, sf_dir, tmp_path):
    """Build-to-parquet + search-from-disk must return the exact rows of
    the in-memory ivf_topk at the same params/seed (the model and
    assignments are pure functions of the corpus), the vectors must land
    cell-partitioned, and the search scan must carry a dynamic partition
    pruning filter on cell — the pay-once index lifecycle."""
    import os

    import pyspark.sql.functions as F

    from etl_ipl_data_analysis_pipeline_spark.operators import similarity as sim
    from etl_ipl_data_analysis_pipeline_spark.plans import load

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    probes = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    idx = str(tmp_path / "ivf_idx")
    sim.ivf_build_index(e, idx)
    persisted = sim.ivf_search_index(spark, idx, probes, k=4)
    in_memory = sim.ivf_topk(e, probes, k=4)
    assert sorted(map(tuple, persisted.collect())) == sorted(
        map(tuple, in_memory.collect())
    )
    assert any(d.startswith("cell=") for d in os.listdir(idx + "/vectors"))
    plan = persisted._sc._jvm.PythonSQLUtils.explainString(
        persisted._jdf.queryExecution(), "formatted"
    )
    assert "dynamicpruningexpression" in plan


class TestEmbeddingDimCovariance:
    def test_matches_numpy_population_covariance(self, spark):
        import numpy as np

        rng = np.random.default_rng(7)
        x = rng.normal(size=(40, 6)).astype("float32")
        df = spark.createDataFrame(
            [(row.tolist(),) for row in x], "embedding array<float>"
        )
        out = {
            (r["i"], r["j"]): r
            for r in similarity.embedding_dim_covariance(df).collect()
        }
        assert len(out) == 6 * 7 // 2  # upper triangle only
        ref_cov = np.cov(x.astype("float64"), rowvar=False, bias=True)
        ref_corr = np.corrcoef(x.astype("float64"), rowvar=False)
        for (i, j), r in out.items():
            assert i <= j and r["n"] == 40
            assert r["cov"] == pytest.approx(ref_cov[i, j], abs=1e-6)
            assert r["corr"] == pytest.approx(ref_corr[i, j], abs=1e-4)

    def test_correlated_and_dead_dimensions(self, spark):
        # dim1 = 2*dim0 (corr 1), dim2 = -dim0 (corr -1), dim3 constant
        rows = [([float(v), 2.0 * v, -float(v), 5.0],) for v in range(1, 21)]
        df = spark.createDataFrame(rows, "embedding array<float>")
        out = {
            (r["i"], r["j"]): r
            for r in similarity.embedding_dim_covariance(df).collect()
        }
        assert out[(0, 1)]["corr"] == pytest.approx(1.0, abs=1e-5)
        assert out[(0, 2)]["corr"] == pytest.approx(-1.0, abs=1e-5)
        # the constant dimension has zero variance: corr undefined -> NULL
        assert out[(3, 3)]["cov"] == pytest.approx(0.0)
        assert out[(0, 3)]["corr"] is None

    def test_null_and_empty_vectors_dropped(self, spark):
        df = spark.createDataFrame(
            [([1.0, 2.0],), ([],), (None,), ([3.0, 4.0],)],
            "embedding array<float>",
        )
        out = similarity.embedding_dim_covariance(df).collect()
        assert len(out) == 3  # 2x2 upper triangle from the 2 valid rows
        assert all(r["n"] == 2 for r in out)


class TestEmbeddingStandardize:
    def test_matches_numpy_zscore(self, spark):
        import numpy as np

        rng = np.random.default_rng(11)
        x = rng.normal(loc=3.0, scale=2.0, size=(30, 4)).astype("float32")
        df = spark.createDataFrame(
            [(i, row.tolist()) for i, row in enumerate(x)],
            "vec_id long, embedding array<float>",
        )
        out = {
            (r["vec_id"], r["i"]): r["z"]
            for r in similarity.embedding_standardize(df).collect()
        }
        xd = x.astype("float64")
        ref = (xd - xd.mean(axis=0)) / xd.std(axis=0)
        for (vid, i), z in out.items():
            assert z == pytest.approx(ref[vid, i], abs=1e-4)

    def test_dead_dimension_yields_null(self, spark):
        df = spark.createDataFrame(
            [(i, [float(i), 7.0]) for i in range(10)],
            "vec_id long, embedding array<float>",
        )
        out = similarity.embedding_standardize(df)
        assert out.filter("i = 1 and z is not null").count() == 0
        assert out.filter("i = 0 and z is null").count() == 0


def test_exact_twin_topk_recall(spark, vectors):
    # the oracled exact twins (decimal-summed LSH signs / decimal-argmin
    # IVF routing) must show the same planted-twin recall structure as
    # their Arrow fast paths, and surface each twin's original at top-1
    twins = vectors.filter("vec_id >= 900")
    exact_top1 = {
        (r["query_id"], r["vec_id"])
        for r in similarity.brute_force_topk(
            vectors, twins, k=1, probe_id_col="vec_id"
        ).collect()
    }
    lsh = {
        (r["query_id"], r["vec_id"])
        for r in similarity.lsh_topk_exact(
            vectors, twins, k=3, n_planes=8, probe_id_col="vec_id"
        ).collect()
    }
    assert len(exact_top1 & lsh) / len(exact_top1) >= 0.8
    ivf = {
        (r["query_id"], r["vec_id"])
        for r in similarity.ivf_topk_exact(
            vectors, twins, k=3, nprobe=4, probe_id_col="vec_id"
        ).collect()
    }
    assert len(exact_top1 & ivf) / len(exact_top1) >= 0.8


def test_dim_covariance_rejects_ragged_vectors(spark):
    ragged = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0, 2.0, 3.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="ragged"):
        similarity.embedding_dim_covariance(ragged).collect()
    uniform = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0, 5.0]), (3, [0.0, -1.0])],
        "vec_id long, embedding array<double>",
    )
    rows = {(r["i"], r["j"]): r for r in similarity.embedding_dim_covariance(uniform).collect()}
    assert all(r["n"] == 3 for r in rows.values())  # guard adds zero on valid input


class TestQuantizeInt8:
    def test_codes_and_errors_hand_checked(self, spark):
        # dim 0 spans [0, 1] -> codes 0 / 255 / 128; dim 1 is dead
        # (constant 2.0) -> code 0 and ZERO reconstruction error
        df = spark.createDataFrame(
            [(0, [0.0, 2.0]), (1, [1.0, 2.0]), (2, [0.5, 2.0])],
            "vec_id bigint, embedding array<double>",
        )
        from etl_ipl_data_analysis_pipeline_spark.operators.similarity import (
            embedding_quantize_int8,
            embedding_quantize_uint8,
        )

        # historical name is a pure alias for the unsigned-code quantizer
        assert embedding_quantize_int8 is embedding_quantize_uint8
        rows = {r["vec_id"]: r for r in embedding_quantize_uint8(df).collect()}
        assert rows[0]["code_sum"] == 0 and rows[0]["mse"] == 0.0
        assert rows[1]["code_sum"] == 255 and rows[1]["mse"] == 0.0
        assert rows[2]["code_sum"] == 128
        # v2 dim0: deq = 128/255, err = 0.5 - 128/255; mirrored float math
        import math

        e = 0.5 - (0.0 + 128.0 / 255.0 * 1.0)
        e2 = math.floor(e * e * 1e12 + 0.5) / 1e12
        assert rows[2]["mse"] == math.floor(e2 / 2 * 1e8 + 0.5) / 1e8
        assert all(r["n_dims"] == 2 for r in rows.values())


@pytest.fixture()
def small_pq(monkeypatch):
    """8-dim PQ shape (2 subspaces x 4 dims, 4 centroids, 1 Lloyd round)
    so the fixtures stay small."""
    for name, value in [("PQ_M", 2), ("PQ_SUB_DIM", 4), ("PQ_K", 4), ("PQ_ITERS", 1)]:
        monkeypatch.setattr(similarity, name, value)


class TestProductQuantization:
    @pytest.fixture()
    def vecs(self, spark):
        import random

        rng = random.Random(7)
        rows = [
            (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)
        ]
        return spark.createDataFrame(
            rows, "vec_id bigint, embedding array<double>"
        )

    def test_codes_shape(self, spark, vecs):
        from etl_ipl_data_analysis_pipeline_spark.operators.similarity import (
            pq_model_exact,
        )

        codes, cents = pq_model_exact(vecs, m=2, sub_dim=4, k=4, iters=1)
        got = codes.collect()
        assert len(got) == 80  # m rows per vector
        assert all(0 <= r["code"] < 4 for r in got)
        per_vec = {}
        for r in got:
            per_vec.setdefault(r["vec_id"], set()).add(r["subspace"])
        assert all(s == {0, 1} for s in per_vec.values())
        # centroids: k x sub_dim per subspace
        assert cents.count() == 2 * 4 * 4

    def test_planted_copy_has_minimal_adc(self, spark, vecs, small_pq):
        from etl_ipl_data_analysis_pipeline_spark.operators.similarity import (
            pq_topk_exact,
        )

        probe = vecs.filter(F.col("vec_id") == 3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        mirror = vecs.filter(F.col("vec_id") == 3).select(
            (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
        )
        pool = vecs.unionByName(mirror)
        out = pq_topk_exact(
            pool, probe, k=40
        ).collect()
        by_id = {r["vec_id"]: r["adc"] for r in out}
        # the exact copy shares all codes with the probe, so its ADC is
        # the global minimum
        assert by_id[1003] == min(by_id.values())

    def test_deterministic(self, spark, vecs, small_pq):
        from etl_ipl_data_analysis_pipeline_spark.operators.similarity import (
            pq_topk_exact,
        )

        probes = vecs.filter(F.col("vec_id") < 2).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        a = sorted(
            map(tuple, pq_topk_exact(vecs, probes, k=3).collect())
        )
        b = sorted(
            map(tuple, pq_topk_exact(vecs.repartition(7), probes, k=3).collect())
        )
        assert a == b


class TestNormOutliers:
    def test_planted_scaled_vectors_flagged(self, spark):
        rng = random.Random(3)
        rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(50)]
        rows += [
            (100, [4.0 * v for v in rows[0][1]]),   # 16x the median norm2
            (101, [0.01 * v for v in rows[1][1]]),  # ~1e-4x
        ]
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
        out = {
            r["vec_id"]: r
            for r in similarity.embedding_norm_outliers(df).collect()
        }
        assert out[100]["is_outlier"] and out[101]["is_outlier"]
        flagged = [k for k, r in out.items() if r["is_outlier"]]
        # the bulk of the well-conditioned corpus is not flagged
        assert len(flagged) <= 8
        assert all(r["n_dims"] == 8 for r in out.values())

    def test_factor_must_square_to_int(self, spark):
        df = spark.createDataFrame([(1, [1.0])], "vec_id bigint, embedding array<double>")
        with pytest.raises(ValueError):
            similarity.embedding_norm_outliers(df, factor=1.5)


class TestPQPersisted:
    def test_persisted_search_identical_to_in_memory(self, spark, tmp_path, small_pq):
        import random

        rng = random.Random(11)
        rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
        probes = df.filter(F.col("vec_id") < 2).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        mem = similarity.pq_topk_exact(df, probes, k=7)
        idx = str(tmp_path / "pq")
        similarity.pq_build_index(df, idx)
        disk = similarity.pq_search_index(spark, idx, probes, k=7)
        assert sorted(map(tuple, mem.collect())) == sorted(
            map(tuple, disk.collect())
        )
        # the search scans codes + codebook only — no scan in the plan
        # reads a raw embedding column
        plan = disk._jdf.queryExecution().executedPlan().toString()
        scan_schemas = [
            line for line in plan.split("\n") if "ReadSchema" in line
        ]
        assert scan_schemas and all(
            "embedding" not in line for line in scan_schemas
        )


class TestJLProjection:
    def test_distance_roughly_preserved_and_deterministic(self, spark):
        rng = random.Random(9)
        rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(30)]
        # planted identical pair: projection must map them identically
        rows.append((100, list(rows[0][1])))
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
        out = similarity.jl_project_signs(df, k=16).collect()
        by_vec = {}
        for r in out:
            by_vec.setdefault(r["vec_id"], {})[r["j"]] = r["proj"]
        assert all(len(v) == 16 for v in by_vec.values())
        assert by_vec[100] == by_vec[0]  # identical inputs, identical outputs
        # JL sanity: norms preserved within a loose factor for most vectors
        import math

        ok = 0
        for i, emb in rows[:30]:
            orig = math.sqrt(sum(x * x for x in emb))
            proj = math.sqrt(sum(v * v for v in by_vec[i].values()))
            if 0.4 * orig <= proj <= 1.9 * orig:
                ok += 1
        assert ok >= 24  # the lemma is probabilistic; most must land
        again = similarity.jl_project_signs(df.repartition(7), k=16).collect()
        assert sorted(map(tuple, out)) == sorted(map(tuple, again))

    def test_k_must_be_square(self, spark):
        df = spark.createDataFrame([(1, [1.0])], "vec_id bigint, embedding array<double>")
        with pytest.raises(ValueError):
            similarity.jl_project_signs(df, k=10)


class TestRRFFuse:
    def test_hand_checked_fusion(self, spark):
        """Doc 10 sits in BOTH lists (ranks 2 and 1) and must outrank the
        single-list rank-1 docs: 1/62 + 1/61 > 1/61 > 1/62 > ..."""
        sparse = spark.createDataFrame(
            [(0, 1, 1), (0, 10, 2), (0, 2, 3)],
            "query_id int, doc_id bigint, rnk int",
        )
        dense = spark.createDataFrame(
            [(0, 10, 1), (0, 3, 2)],
            "query_id int, doc_id bigint, rnk int",
        )
        out = similarity.rrf_fuse(sparse, dense, k=5).collect()
        ranked = [r["doc_id"] for r in sorted(out, key=lambda r: r["rnk"])]
        assert ranked == [10, 1, 3, 2]
        by_id = {r["doc_id"]: r["rrf_score"] for r in out}
        import math

        def rrf(*ranks):
            s = sum(1.0 / (60 + r) for r in ranks)
            return math.floor(s * 1e8 + 0.5) / 1e8

        assert by_id[10] == rrf(2, 1)
        assert by_id[1] == rrf(1)
        assert by_id[2] == rrf(3)
        assert by_id[3] == rrf(2)

    def test_tie_breaks_by_id_and_k_caps(self, spark):
        sparse = spark.createDataFrame(
            [(0, d, r) for r, d in enumerate([5, 4, 3, 2, 1], start=1)],
            "query_id int, doc_id bigint, rnk int",
        )
        dense = spark.createDataFrame(
            [], "query_id int, doc_id bigint, rnk int"
        )
        out = similarity.rrf_fuse(sparse, dense, k=3).collect()
        assert len(out) == 3
        assert [r["doc_id"] for r in sorted(out, key=lambda r: r["rnk"])] == [5, 4, 3]

    def test_partitioning_and_order_invariant(self, spark):
        """Fused ranking is a pure function of the (query, id, rank)
        SETS: shuffled row order and different partitioning must yield
        identical rows (the window orders on (rrf, id) — fully
        deterministic, no arrival-order dependence)."""
        rng = random.Random(21)
        sp_rows = [
            (q, d, r)
            for q in range(4)
            for r, d in enumerate(rng.sample(range(100), 10), start=1)
        ]
        dn_rows = [
            (q, d, r)
            for q in range(4)
            for r, d in enumerate(rng.sample(range(100), 10), start=1)
        ]
        schema = "query_id int, doc_id bigint, rnk int"
        sp = spark.createDataFrame(sp_rows, schema)
        dn = spark.createDataFrame(dn_rows, schema)
        base = sorted(map(tuple, similarity.rrf_fuse(sp, dn, k=5).collect()))
        rng.shuffle(sp_rows)
        rng.shuffle(dn_rows)
        sp2 = spark.createDataFrame(sp_rows, schema).repartition(7)
        dn2 = spark.createDataFrame(dn_rows, schema).repartition(3)
        again = sorted(map(tuple, similarity.rrf_fuse(sp2, dn2, k=5).collect()))
        assert base == again

class TestJLFirstCovariance:
    def test_shape_and_diagonal(self, spark):
        """JL-first covariance emits k(k+1)/2 cells with the full row
        count and positive diagonal variances (a projection of
        non-degenerate vectors can't have a dead component a.s. — here
        checked on a fixed corpus, so deterministic)."""
        rng = random.Random(3)
        rows = [(i, [rng.uniform(-1, 1) for _ in range(32)]) for i in range(50)]
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
        out = similarity.embedding_dim_covariance_jl(df, jl_k=16).collect()
        assert len(out) == 16 * 17 // 2
        assert all(r["n"] == 50 for r in out)
        diag = [r for r in out if r["i"] == r["j"]]
        assert len(diag) == 16 and all(r["cov"] > 0 for r in diag)
        assert all(r["corr"] == 1.0 for r in diag)



class TestIVFPersistedExact:
    def test_matches_in_memory_and_prunes_cells(self, spark, sf_dir, tmp_path):
        """From-disk exact-IVF search must be row-identical to the
        in-memory ivf_topk_exact (floored centroids and integer cells
        round-trip parquet exactly) and its cells scan must carry a cell
        PartitionFilter — the routed lists only."""
        from etl_ipl_data_analysis_pipeline_spark.plans import load

        e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        idx = str(tmp_path / "ivf_exact")
        similarity.ivf_build_index_exact(e, idx)
        probes = e.filter("vec_id < 5").selectExpr(
            "vec_id as query_id", "embedding"
        )
        got = similarity.ivf_search_index_exact(spark, idx, probes, k=5)
        want = similarity.ivf_topk_exact(e, probes, k=5)
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
        plan = got._sc._jvm.PythonSQLUtils.explainString(
            got._jdf.queryExecution(), "formatted"
        )
        assert "cell" in plan.split("PartitionFilters")[1][:200]

    def test_append_under_frozen_model_matches_full_assignment(
        self, spark, sf_dir, tmp_path
    ):
        """Appending a batch under the frozen centroid model must yield
        the same searched rows as one index whose cells were assigned in
        a single pass under the SAME model: routing is a deterministic
        per-vector function, so build(half)+append(half) == build-all
        with the half-corpus centroids. Exercised end to end by
        comparing search results, plus a planted mirror that must
        surface at sim 1.0 (it routes to its original's cell)."""
        import pyspark.sql.functions as F

        from etl_ipl_data_analysis_pipeline_spark.plans import load

        e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        half = e.filter("vec_id % 2 = 0")
        rest = e.filter("vec_id % 2 = 1")
        idx = str(tmp_path / "ivf_app")
        similarity.ivf_build_index_exact(half, idx)
        similarity.ivf_append_index_exact(spark, idx, rest)
        mirrors = e.filter("vec_id < 3").select(
            (F.col("vec_id") + 900000).alias("vec_id"), "embedding"
        )
        similarity.ivf_append_index_exact(spark, idx, mirrors)
        probes = e.filter("vec_id < 3").selectExpr(
            "vec_id as query_id", "embedding"
        )
        got = similarity.ivf_search_index_exact(spark, idx, probes, k=5)
        rows = {(r["query_id"], r["vec_id"]): r["sim"] for r in got.collect()}
        for q in range(3):
            assert rows.get((q, q + 900000)) == 1.0  # planted mirror found


class TestPQAppend:
    def test_appended_copy_gets_identical_codes_and_surfaces(self, spark, sf_dir, tmp_path):
        """Coding is a deterministic function of (vector, frozen
        codebooks): an appended exact copy of an already-indexed vector
        must receive byte-identical codes — and therefore tie at the
        minimal ADC, surfacing in its probe's top-k."""
        import pyspark.sql.functions as F

        from etl_ipl_data_analysis_pipeline_spark.plans import load

        e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        half = e.filter("vec_id % 2 = 0")
        idx = str(tmp_path / "pq_app")
        similarity.pq_build_index(half, idx)
        mirrors = half.filter("vec_id < 6").select(
            (F.col("vec_id") + 900000).alias("vec_id"), "embedding"
        )
        similarity.pq_append_index(spark, idx, mirrors)
        codes = {
            r["vec_id"]: list(r["codes"])
            for r in spark.read.parquet(idx + "/codes").collect()
        }
        originals = [v for v in codes if v < 6 and v % 2 == 0]
        assert originals
        for v in originals:
            assert codes[v] == codes[v + 900000]  # frozen-model determinism
        probes = half.filter("vec_id < 6").selectExpr(
            "vec_id as query_id", "embedding"
        )
        got = similarity.pq_search_index(spark, idx, probes, k=5)
        found = {(r["query_id"], r["vec_id"]) for r in got.collect()}
        for v in originals:
            assert (v, v + 900000) in found  # identical codes -> minimal ADC

    def test_append_drops_wrong_length_vectors(self, spark, sf_dir, tmp_path):
        """pq_append_index mirrors the build's vector-length contract: a
        wrong-length appended vector would otherwise be coded over
        partial subspaces and its artificially small ADC sums would
        corrupt every subsequent ranking — it must be dropped, not
        half-coded."""
        import pyspark.sql.functions as F

        from etl_ipl_data_analysis_pipeline_spark.plans import load

        e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        half = e.filter("vec_id % 2 = 0")
        idx = str(tmp_path / "pq_badlen")
        similarity.pq_build_index(half, idx)
        bad = half.filter("vec_id < 4").select(
            (F.col("vec_id") + 900000).alias("vec_id"),
            F.slice("embedding", 1, 7).alias("embedding"),  # truncated
        )
        good = half.filter("vec_id < 4").select(
            (F.col("vec_id") + 800000).alias("vec_id"), "embedding"
        )
        similarity.pq_append_index(spark, idx, bad.unionByName(good))
        appended = {
            r["vec_id"]: list(r["codes"])
            for r in spark.read.parquet(idx + "/codes")
            .filter("vec_id >= 800000")
            .collect()
        }
        assert all(v < 900000 for v in appended)  # truncated rows dropped
        assert appended  # full-length rows coded
        assert all(len(c) == 4 for c in appended.values())  # m codes each

    def test_multi_append_codes_identical_and_surface(self, spark, sf_dir, tmp_path):
        """THREE sequential append batches under the frozen codebooks —
        the N-delta compaction shape — must code an exact copy
        byte-identically whichever batch carried it, and the accumulated
        codes table must serve all batches' vectors."""
        import pyspark.sql.functions as F

        from etl_ipl_data_analysis_pipeline_spark.plans import load

        e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        quarter = e.filter("vec_id % 4 = 0")
        idx = str(tmp_path / "pq_multi")
        similarity.pq_build_index(quarter, idx)
        for i in (1, 2, 3):
            batch = e.filter(f"vec_id % 4 = {i}")
            if i == 3:  # mirrors of indexed vectors arrive in the LAST delta
                batch = batch.unionByName(
                    quarter.filter("vec_id < 8").select(
                        (F.col("vec_id") + 900000).alias("vec_id"), "embedding"
                    )
                )
            similarity.pq_append_index(spark, idx, batch)
        codes = {
            r["vec_id"]: list(r["codes"])
            for r in spark.read.parquet(idx + "/codes").collect()
        }
        n = e.count()
        assert len(codes) == n + 2  # all four batches + the 2 mirrors (0, 4)
        for v in (0, 4):
            assert codes[v] == codes[v + 900000]  # frozen-model determinism
        probes = quarter.filter("vec_id < 8").selectExpr(
            "vec_id as query_id", "embedding"
        )
        got = similarity.pq_search_index(spark, idx, probes, k=5)
        found = {(r["query_id"], r["vec_id"]) for r in got.collect()}
        for v in (0, 4):
            assert (v, v + 900000) in found

    def test_compaction_preserves_search_and_shrinks_files(self, spark, sf_dir, tmp_path):
        """ivf_compact_index / pq_compact_index after multi-delta appends:
        search results must be value-identical (rows only move, nothing
        re-routes or re-codes) and the per-directory file count must
        drop to ~1."""
        import glob as _glob

        import pyspark.sql.functions as F

        from etl_ipl_data_analysis_pipeline_spark.plans import load

        e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        probes = e.filter("vec_id < 3").selectExpr(
            "vec_id as query_id", "embedding"
        )
        # IVF: build on half, append twice, compact
        ivf = str(tmp_path / "ivf_c")
        similarity.ivf_build_index_exact(e.filter("vec_id % 3 = 0"), ivf)
        similarity.ivf_append_index_exact(spark, ivf, e.filter("vec_id % 3 = 1"))
        similarity.ivf_append_index_exact(spark, ivf, e.filter("vec_id % 3 = 2"))
        before = sorted(
            map(tuple, similarity.ivf_search_index_exact(spark, ivf, probes, k=5).collect())
        )
        n_files_pre = len(_glob.glob(ivf + "/cells/cell=*/*.parquet"))
        similarity.ivf_compact_index(spark, ivf)
        after = sorted(
            map(tuple, similarity.ivf_search_index_exact(spark, ivf, probes, k=5).collect())
        )
        assert before == after and before
        cell_dirs = _glob.glob(ivf + "/cells/cell=*")
        n_files_post = len(_glob.glob(ivf + "/cells/cell=*/*.parquet"))
        assert n_files_post == len(cell_dirs) < n_files_pre
        # PQ: build on half, append twice, compact
        pq = str(tmp_path / "pq_c")
        similarity.pq_build_index(e.filter("vec_id % 3 = 0"), pq)
        similarity.pq_append_index(spark, pq, e.filter("vec_id % 3 = 1"))
        similarity.pq_append_index(spark, pq, e.filter("vec_id % 3 = 2"))
        b2 = sorted(
            map(tuple, similarity.pq_search_index(spark, pq, probes, k=5).collect())
        )
        pre2 = len(_glob.glob(pq + "/codes/*.parquet"))
        similarity.pq_compact_index(spark, pq)
        a2 = sorted(
            map(tuple, similarity.pq_search_index(spark, pq, probes, k=5).collect())
        )
        assert b2 == a2 and b2
        assert len(_glob.glob(pq + "/codes/*.parquet")) == 1 < pre2

    def test_scatter_gather_fuses_shards(self, spark, sf_dir, tmp_path):
        """ivf_search_many_exact over one shard equals the direct search;
        over two shards, candidates from BOTH shards fuse into one
        globally-ranked top-k (a planted mirror in shard 2 tops it)."""
        import pyspark.sql.functions as F

        from etl_ipl_data_analysis_pipeline_spark.plans import load

        e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        probes = e.filter("vec_id < 2").selectExpr(
            "vec_id as query_id", "embedding"
        )
        p1, p2 = str(tmp_path / "s1"), str(tmp_path / "s2")
        similarity.ivf_build_index_exact(e.filter("vec_id % 2 = 0"), p1)
        similarity.ivf_build_index_exact(
            e.filter("vec_id % 2 = 1").unionByName(
                e.filter("vec_id < 2").select(
                    (F.col("vec_id") + 900000).alias("vec_id"), "embedding"
                )
            ),
            p2,
        )
        solo = sorted(
            map(tuple, similarity.ivf_search_index_exact(spark, p1, probes, k=5).collect())
        )
        many1 = sorted(
            map(tuple, similarity.ivf_search_many_exact(spark, [p1], probes, k=5).collect())
        )
        assert solo == many1
        fused = similarity.ivf_search_many_exact(spark, [p1, p2], probes, k=5)
        rows = {(r["query_id"], r["vec_id"]): r["sim"] for r in fused.collect()}
        for q in range(2):
            assert rows.get((q, q + 900000)) == 1.0  # shard-2 mirror fused in
        shards = {v % 2 for (_, v) in rows if v < 900000}
        assert shards == {0, 1}  # candidates from BOTH shards present
        import pytest as _pt

        with _pt.raises(ValueError):
            similarity.ivf_search_many_exact(spark, [], probes)
