"""Hypothesis property tests: Spark operators vs pure-Python mirrors on
randomized inputs. Few examples per property (each example is a Spark
job); the point is shape coverage the fixed fixtures can't give."""

import re

import pyspark.sql.functions as F
from hypothesis import given, settings, strategies as st

from etl_ipl_data_analysis_pipeline_spark.operators import dedup

TEXTS = st.lists(
    st.text(alphabet="abc XYZ,.!\t", min_size=0, max_size=60), min_size=1, max_size=8
)


def _py_tokens(text: str) -> list[str]:
    # collapse-then-trim, like functions.normalized_text: after collapsing,
    # any edge whitespace is a single space, so the engines' space-only
    # trim() equals a full strip
    return re.sub(r"\s+", " ", text.lower()).strip(" ").split(" ")


def _py_shingles(text: str, n: int = 3) -> set[str]:
    toks = _py_tokens(text)
    if len(toks) <= n - 1:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


@settings(max_examples=8, deadline=None)
@given(TEXTS)
def test_shingles_match_python_mirror(spark, texts):
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: set(r["sh"])
        for r in df.select("doc_id", dedup.shingles("text").alias("sh")).collect()
    }
    for i, t in rows:
        assert got[i] == _py_shingles(t), (t, got[i], _py_shingles(t))


@settings(max_examples=5, deadline=None)
@given(TEXTS)
def test_minhash_estimates_bounded_and_ordered(spark, texts):
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.minhash_near_dup_pairs(df, min_jaccard=0.0).collect()
    for r in pairs:
        assert r["id_a"] < r["id_b"]
        assert 0.0 <= r["est_jaccard"] <= 1.0


@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=50), min_size=2, max_size=12))
def test_connected_components_roots_are_minima(spark, edges_flat):
    # build arbitrary edge list by pairing consecutive ints
    pairs = [
        (a, b) for a, b in zip(edges_flat[::2], edges_flat[1::2]) if a != b
    ]
    if not pairs:
        return
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    comp = dedup.connected_components(df).collect()
    # python union-find mirror
    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in pairs:
        union(a, b)
    expected = {}
    for n in parent:
        expected[n] = find(n)
    got = {r["node"]: r["component"] for r in comp}
    for n, root in expected.items():
        if n != root:
            assert got[n] == root, (pairs, got, expected)


# Adversarial graph shapes for the CC consumers (VERDICT r12 directive 5):
# chains, stars, two stars cross-linked via a high-id node (the r12
# falsifier), two cliques joined by one bridge — plus hypothesis noise.
_GRAPH_SHAPES = [
    [(i, i + 1) for i in range(8)],                        # chain
    [(0, i) for i in range(1, 9)],                         # star at 0
    [(0, 3), (4, 1), (2, 3), (2, 4)],                      # multi-star merge
    [(a, b) for a in range(4) for b in range(a + 1, 4)]
    + [(3, 10)]
    + [(a, b) for a in range(10, 14) for b in range(a + 1, 14)],  # cliques+bridge
    [(7, 3), (3, 9), (9, 1), (20, 21), (21, 1)],           # zigzag + tail
]


def _uf_components(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@settings(max_examples=12, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=40), min_size=0, max_size=10))
def test_cc_keep_min_survivors_forest_valid(spark, noise_flat):
    """The keep-min-per-component composition every CC consumer runs
    (minhash_dedup_cc, stream_dedup_survivors_cc, cluster_safe_split):
    survivors from the anti-join against (node != component) must equal
    union-find min-roots, and the returned mapping must be a VALID star
    forest — each non-root node exactly once, components are true
    minima, no component id ever appears as a node."""
    noise = [
        (a, b) for a, b in zip(noise_flat[::2], noise_flat[1::2]) if a != b
    ]
    for shape in _GRAPH_SHAPES:
        pairs = shape + noise
        df = spark.createDataFrame(pairs, "id_a long, id_b long")
        comp = dedup.connected_components(df).collect()
        nodes = [r["node"] for r in comp]
        mapping = {r["node"]: r["component"] for r in comp}
        expected = _uf_components(pairs)
        # forest validity: one row per non-root node, roots never nodes
        assert len(nodes) == len(set(nodes))
        assert not (set(mapping) & set(mapping.values()))
        # exact min-root equality (losers AND roots)
        assert mapping == {
            n: r for n, r in expected.items() if n != r
        }, (pairs, mapping)
        # the survivor set the consumers derive
        all_ids = {x for p in pairs for x in p}
        survivors = all_ids - set(mapping)
        assert survivors == {r for r in expected.values()} | (
            all_ids - set(expected)
        )


@settings(max_examples=5, deadline=None)
@given(
    st.lists(st.integers(min_value=1, max_value=4), min_size=1, max_size=5),
)
def test_semantic_dedup_collapse_keeps_class_minima(spark, class_sizes):
    """semantic_dedup's exact-collapse identity as a property: ids are
    dealt round-robin across duplicate classes of one-hot vectors
    (mutually orthogonal, cosine 0 < min_sim, so ONLY exact duplicates
    die), and the survivor set must be exactly the min id of every
    class — one survivor per class, closed under the keep-first
    contract, independent of partitioning or cell routing."""
    rows = []
    nid = 0
    expected = {}
    dim = len(class_sizes)
    for order in range(max(class_sizes)):
        for ci, size in enumerate(class_sizes):
            if order < size:
                vec = [0.0] * dim
                vec[ci] = 1.0
                rows.append((nid, vec))
                if ci not in expected:
                    expected[ci] = nid
                nid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]
        for r in dedup.semantic_dedup(
            emb, k=2, iters=1, min_sim=0.95, assign="exact"
        ).select("vec_id").collect()
    }
    assert got == set(expected.values()), (rows, got, expected)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcx", min_size=0, max_size=7),
        min_size=2,
        max_size=10,
    )
)
def test_edit_distance_pairs_matches_brute_force(spark, names):
    """Deletion-neighborhood blocking is EXACT for lev <= 2: on random
    short strings (dense in near-pairs by construction) the blocked
    result must equal the brute-force cross join — recall AND precision."""
    import pyspark.sql.functions as F

    from etl_ipl_data_analysis_pipeline_spark.operators import dedup

    df = spark.createDataFrame(list(enumerate(names)), "id long, name string")
    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in dedup.edit_distance_pairs(df, "name", "id", k=2).collect()
    }
    a, b = df.alias("a"), df.alias("b")
    want = {
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
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from("ab"),  # two groups
            st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        ),
        min_size=3,
        max_size=40,
    )
)
def test_winsorize_bounds_match_numpy_linear(spark, rows):
    # Spark's exact percentile() interpolates like numpy 'linear'; the
    # winsorized sum must equal the pure-Python clamp to those bounds
    import numpy as np

    df = spark.createDataFrame(
        [(g, float(v)) for g, v in rows], "g string, value double"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("g")
    got = {
        r["g"]: (r["lo"], r["hi"])
        for r in df.select(
            "g",
            F.expr("percentile(value, 0.05)").over(w).alias("lo"),
            F.expr("percentile(value, 0.95)").over(w).alias("hi"),
        )
        .distinct()
        .collect()
    }
    by_g = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    for g, vals in by_g.items():
        lo, hi = got[g]
        assert abs(lo - float(np.percentile(vals, 5))) < 1e-9 * max(1, abs(lo))
        assert abs(hi - float(np.percentile(vals, 95))) < 1e-9 * max(1, abs(hi))


@settings(max_examples=6, deadline=None)
@given(TEXTS)
def test_bow_fingerprint_invariant_under_word_permutation(spark, texts):
    # a doc and any word-permuted copy share a fingerprint; docs with
    # different word multisets never collide
    from collections import Counter

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from etl_ipl_data_analysis_pipeline_spark.functions import normalized_text

    fp = F.array_join(F.array_sort(F.split(normalized_text("text"), " ")), " ")
    got = {r["doc_id"]: r["fp"] for r in df.select("doc_id", fp.alias("fp")).collect()}
    mirror = {
        r["doc_id"]: r["fp"]
        for r in df.select(
            "doc_id",
            F.array_join(
                F.array_sort(F.reverse(F.split(normalized_text("text"), " "))), " "
            ).alias("fp"),
        ).collect()
    }
    assert got == mirror  # permutation-invariant
    for i, ti in rows:
        for j, tj in rows:
            same_bag = Counter(_py_tokens(ti)) == Counter(_py_tokens(tj))
            assert (got[i] == got[j]) == same_bag, (ti, tj)


@settings(max_examples=5, deadline=None)
@given(st.lists(st.integers(min_value=-50, max_value=50), min_size=1, max_size=60))
def test_cms_estimate_matches_python_mirror(spark, items):
    # the sketch is deterministic md5 arithmetic: a pure-Python mirror of
    # cms_build + cms_estimate must agree cell-for-cell and estimate-for-
    # estimate (this is the property that gives the query its exact oracle)
    import hashlib
    from collections import Counter

    from etl_ipl_data_analysis_pipeline_spark.operators import sketches

    d, w = sketches.CMS_D, sketches.CMS_W

    def bucket(item, j):
        return int(hashlib.md5(f"{item}:{j}".encode()).hexdigest()[:4], 16) % w

    cells = Counter((j, bucket(v, j)) for v in items for j in range(d))
    df = spark.createDataFrame([(v,) for v in items], "user_id long")
    sk = sketches.cms_build(df, "user_id")
    got = {(r.j, r.bucket): r.cnt for r in sk.collect()}
    assert got == dict(cells)

    probes = df.distinct()
    est = sketches.cms_estimate(sk, probes, "user_id").collect()
    for r in est:
        expect = min(cells[(j, bucket(r["__item"], j))] for j in range(d))
        assert r.est_cnt == expect


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=120
    ),
    st.integers(min_value=1, max_value=5),  # bits
    st.integers(min_value=1, max_value=7),  # num_ranges
)
def test_exact_distributed_ntile_matches_python_mirror(spark, vals, bits, num_ranges):
    """layout.zorder_ranks' distributed ntile vs the SQL ntile contract
    computed in pure Python: with N rows sorted by (value, id) and n
    tiles, the first N%n tiles hold N//n+1 rows, the rest N//n — for
    arbitrary duplicates, bucket counts, and non-divisible sizes."""
    from etl_ipl_data_analysis_pipeline_spark.operators import layout

    rows = [(i, float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, v double")
    got = {
        r["id"]: r["__r0"]
        for r in layout.zorder_ranks(
            df, ["v"], "id", bits=bits, num_ranges=num_ranges
        ).collect()
    }
    n = 1 << bits
    order = sorted(rows, key=lambda r: (r[1], r[0]))
    N = len(order)
    base, rem = divmod(N, n)
    want = {}
    for p, (i, _) in enumerate(order, start=1):
        if p <= rem * (base + 1):
            tile = (p - 1) // (base + 1) + 1
        else:
            tile = rem + (p - rem * (base + 1) - 1) // max(base, 1) + 1
        want[i] = tile - 1
    assert got == want


@settings(max_examples=4, deadline=None)
@given(
    st.lists(
        st.lists(
            st.floats(min_value=-8, max_value=8, allow_nan=False, width=32),
            min_size=3, max_size=3,
        ),
        min_size=4, max_size=40,
    ),
    st.integers(min_value=1, max_value=13),  # repartition width
)
def test_kmeans_exact_is_partitioning_independent(spark, vecs, parts):
    """The decimal distance/centroid sums exist so the result cannot
    depend on physical layout: the same input through ANY repartitioning
    must produce byte-identical clusters — the property raw-double sums
    would violate."""
    from etl_ipl_data_analysis_pipeline_spark.operators import similarity

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    base = sorted(
        map(tuple, similarity.kmeans_exact(df, k=3, iters=2).collect())
    )
    shuffled = sorted(
        map(
            tuple,
            similarity.kmeans_exact(
                df.repartition(parts), k=3, iters=2
            ).collect(),
        )
    )
    assert base == shuffled


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.integers(min_value=-1000, max_value=10**12), min_size=1, max_size=40, unique=True),
    st.sampled_from([64, 128, 1024]),
    st.integers(min_value=1, max_value=4),
)
def test_bloom_words_match_python_md5_mirror(spark, keys, num_bits, num_hashes):
    """The bloom word table must equal a pure-Python md5 mirror bit for
    bit (signed-64 wrap included) — the exact property the DuckDB oracle
    twins rely on — and probing the inserted keys must never miss."""
    import hashlib

    from etl_ipl_data_analysis_pipeline_spark.operators import bloom

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    bl = bloom.bloom_build(df, "k", num_bits=num_bits, num_hashes=num_hashes)
    got = {r.word_idx: r.word for r in bl.collect()}

    words: dict[int, int] = {}
    for k in keys:
        for i in range(num_hashes):
            h = hashlib.md5(f"{k}:{i}".encode()).hexdigest()[:15]
            p = int(h, 16) % num_bits
            words[p // 64] = words.get(p // 64, 0) | (1 << (p % 64))
    want = {
        w: v - (1 << 64) if v >= (1 << 63) else v for w, v in words.items()
    }
    assert got == want

    probed = bloom.bloom_probe(df, "k", bl, num_bits=num_bits, num_hashes=num_hashes)
    assert probed.filter(~F.col("bloom_pass")).count() == 0


def _json_leaves(obj):
    """All scalar leaf values of a nested JSON object."""
    if isinstance(obj, dict):
        for v in obj.values():
            yield from _json_leaves(v)
    elif isinstance(obj, list):
        for v in obj:
            yield from _json_leaves(v)
    elif obj is not None:
        yield obj


_JSON_LEAF = st.one_of(
    st.integers(min_value=-1000, max_value=1000),
    st.text(alphabet="abcXYZ", min_size=1, max_size=6),
    st.booleans(),
)
_JSON_DOC = st.recursive(
    _JSON_LEAF,
    lambda inner: st.one_of(
        st.dictionaries(
            st.text(alphabet="abcdef", min_size=1, max_size=4),
            inner,
            min_size=1,
            max_size=3,
        ),
        st.lists(inner, min_size=1, max_size=3),
    ),
    max_leaves=8,
).filter(lambda d: isinstance(d, dict))


@settings(max_examples=8, deadline=None)
@given(st.lists(_JSON_DOC, min_size=1, max_size=3))
def test_flatten_fixpoint_properties(spark, docs):
    """The fixpoint flatten of ARBITRARY nested JSON must (1) terminate
    with zero complex-typed columns, (2) preserve every scalar leaf
    value somewhere in the output, (3) be deterministic, and (4) never
    produce fewer rows in outer mode than reference mode."""
    import json as _json

    from pyspark.sql.types import ArrayType, MapType, StructType

    from etl_ipl_data_analysis_pipeline_spark.operators import flatten as fl

    raw = spark.createDataFrame(
        [(i, _json.dumps(d)) for i, d in enumerate(docs)], "i long, js string"
    )
    df = spark.read.json(raw.rdd.map(lambda r: r.js))
    if df.columns == ["_corrupt_record"]:
        return
    flat = fl.flatten(df, mode="outer")
    assert not any(
        isinstance(f.dataType, (StructType, ArrayType, MapType))
        for f in flat.schema.fields
    )
    rows = flat.collect()

    def norm(v):
        # JSON inference coerces mixed-type arrays to strings ([0, "X"]
        # -> ["0", "X"]), so containment compares JSON-style string forms
        return str(v).lower() if isinstance(v, bool) else str(v)

    seen = {norm(v) for r in rows for v in r if v is not None}
    for d in docs:
        for leaf in _json_leaves(d):
            # substring containment: when docs disagree on a field's type,
            # JSON inference falls back to the SERIALIZED object string
            # ({'a': 0} vs {'a': {'b': 'X'}} -> column a: string), so the
            # leaf survives inside that string rather than as its own cell
            assert any(norm(leaf) in s for s in seen), (
                f"leaf {leaf!r} lost by flatten"
            )
    key = lambda t: [(x is None, str(x)) for x in t]  # noqa: E731
    again = fl.flatten(df, mode="outer").collect()
    assert sorted(map(tuple, rows), key=key) == sorted(map(tuple, again), key=key)
    ref_rows = fl.flatten(df, mode="reference").count()
    assert len(rows) >= ref_rows


@settings(max_examples=8, deadline=None)
@given(
    TEXTS,
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=1, max_value=12),
)
def test_chunk_sliding_invariants(spark, texts, window, stride):
    """For ANY corpus and any stride <= window: every token index is
    covered, starts step by exactly the stride, no chunk is contained in
    its predecessor, and each chunk's text is the exact token slice."""
    from etl_ipl_data_analysis_pipeline_spark.operators import curation

    if stride > window:
        window, stride = stride, window  # keep the contract satisfiable
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = curation.chunk_sliding(
        df, "doc_id", "text", window=window, stride=stride
    ).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, t in enumerate(texts):
        toks = [x for x in _py_tokens(t) if x != ""]
        got = sorted(by_doc.get(i, []), key=lambda r: r["start_tok"])
        if not toks:
            assert got == []
            continue
        covered = set()
        prev_end = None
        for j, r in enumerate(got):
            s, e = r["start_tok"], r["start_tok"] + r["n_chunk_tokens"]
            assert r["chunk_text"].split(" ") == toks[s:e]
            assert s == j * stride  # starts step by exactly the stride
            if prev_end is not None:
                assert e > prev_end  # never contained in the predecessor
            prev_end = e
            covered |= set(range(s, e))
        assert covered == set(range(len(toks)))


@settings(max_examples=6, deadline=None)
@given(
    st.dictionaries(
        st.sampled_from(["g0", "g1", "g2", "g3"]),
        st.integers(min_value=1, max_value=60),
        min_size=2,
        max_size=4,
    ),
    st.sampled_from([1.0, 0.5, 0.25]),
)
def test_temperature_mixture_rates_match_python_mirror(spark, sizes, alpha):
    """The per-group keep THRESHOLDS equal a pure-Python mirror of the
    p^alpha pipeline (sqrt chains, 8dp floor-rounds, decimal normalizer)
    for any group-size profile and supported alpha."""
    import math
    from decimal import Decimal

    from etl_ipl_data_analysis_pipeline_spark.operators import curation

    rows = []
    base = 0
    for g in sorted(sizes):
        rows += [(base + i, g) for i in range(sizes[g])]
        base += 1000
    df = spark.createDataFrame(rows, "id long, grp string")
    out = curation.temperature_mixture_sample(
        df, "grp", "id", alpha=alpha, target_frac=0.5
    )
    kept = {g: 0 for g in sizes}
    for r in out.collect():
        kept[r["grp"]] += 1

    tot = sum(sizes.values())
    s8 = {}
    for g, c in sizes.items():
        s = c / tot
        if alpha <= 0.5:
            s = math.sqrt(s)
        if alpha <= 0.25:
            s = math.sqrt(s)
        s8[g] = Decimal(math.floor(s * 1e8 + 0.5)) / Decimal(10**8)
    norm = sum(s8.values())
    import hashlib

    for g, c in sizes.items():
        rate = min(1.0, float(s8[g]) / float(norm) * 0.5 * tot / c)
        thr = math.floor(rate * 4294967296.0)
        expect = 0
        gbase = sorted(sizes).index(g) * 1000
        for i in range(c):
            draw = int(hashlib.md5(str(gbase + i).encode()).hexdigest()[:8], 16)
            if draw < thr:
                expect += 1
        assert kept[g] == expect, (g, alpha)


@settings(max_examples=8, deadline=None)
@given(TEXTS, st.integers(min_value=2, max_value=6))
def test_remove_duplicate_spans_matches_python_mirror(spark, texts, window):
    """Span dedup equals a sequential pure-Python sweep: spans processed
    in (doc_id, chunk_idx) order, first sighting of each exact span kept."""
    from etl_ipl_data_analysis_pipeline_spark.operators import dedup as dd

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in dd.remove_duplicate_spans(df, window=window).collect()
    }
    seen = set()
    for i, t in enumerate(texts):
        toks = [x for x in _py_tokens(t) if x != ""]
        if not toks:
            assert i not in out
            continue
        spans = [
            " ".join(toks[s : s + window]) for s in range(0, len(toks), window)
        ]
        kept = []
        for sp in spans:
            if sp not in seen:
                seen.add(sp)
                kept.append(sp)
        r = out[i]
        assert (r["n_spans"], r["n_kept"]) == (len(spans), len(kept))
        assert r["clean_text"] == " ".join(kept)


def _py_dsir_weights(rows, n_buckets=64, salt="dsir"):
    """Pure-Python mirror of curation.dsir_importance: md5 bucket hash,
    add-one smoothed distributions, integer surprisal difference via
    int.bit_length."""
    import hashlib

    def bucket(gram: str) -> int:
        h = int(hashlib.md5((gram + salt).encode()).hexdigest()[:15], 16)
        return h % n_buckets

    per_doc = {}
    c_raw, c_tgt = {}, {}
    n_raw = n_tgt = 0
    for doc_id, text, tgt in rows:
        toks = [t for t in _py_tokens(text) if t]
        grams = toks + [" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)]
        counts = {}
        for g in grams:
            counts[bucket(g)] = counts.get(bucket(g), 0) + 1
        per_doc[doc_id] = counts
        for b, m in counts.items():
            c_raw[b] = c_raw.get(b, 0) + m
            n_raw += m
            if tgt:
                c_tgt[b] = c_tgt.get(b, 0) + m
                n_tgt += m

    def surp(n, c):
        return ((n + n_buckets) // (c + 1)).bit_length() - 1

    out = {}
    for doc_id, counts in per_doc.items():
        w = sum(
            m * (surp(n_raw, c_raw[b]) - surp(n_tgt, c_tgt.get(b, 0)))
            for b, m in counts.items()
        )
        out[doc_id] = (sum(counts.values()), w)
    return out


@settings(max_examples=6, deadline=None)
@given(TEXTS, st.integers(min_value=1, max_value=7))
def test_dsir_weights_match_python_mirror(spark, texts, tgt_mod):
    from etl_ipl_data_analysis_pipeline_spark.operators import curation

    rows = [(i, t, i % tgt_mod == 0) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string, tgt boolean")
    got = {
        r["doc_id"]: (r["n_grams"], r["weight"])
        for r in curation.dsir_importance(df, F.col("tgt")).collect()
    }
    expect = _py_dsir_weights(rows, n_buckets=curation.DSIR_BUCKETS)
    for doc_id, (n_grams, weight) in expect.items():
        assert got[doc_id] == (n_grams, weight), doc_id


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from("abc"),
            st.one_of(st.none(), st.integers(min_value=-30, max_value=30)),
        ),
        min_size=2,
        max_size=40,
    ),
    st.lists(
        st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
        min_size=1,
        max_size=3,
        unique=True,
    ),
)
def test_value_count_quantiles_match_python_type7(spark, rows, qs):
    """grouped_value_count_quantiles (histogram reduction) vs a pure-
    Python type-7 mirror on random grouped integers with NULLs: same
    n per group, same interpolated quantile, NULL values excluded,
    all-null groups absent."""
    import math

    from etl_ipl_data_analysis_pipeline_spark.operators.profile import (
        grouped_value_count_quantiles,
    )

    df = spark.createDataFrame(rows, "g string, v int")
    got = {
        (r["g"], r["q"]): (r["n"], r["quantile"])
        for r in grouped_value_count_quantiles(
            df, "g", "v", qs, round_digits=6
        ).collect()
    }
    want = {}
    by_g: dict = {}
    for g, v in rows:
        if v is not None:
            by_g.setdefault(g, []).append(float(v))
    for g, vals in by_g.items():
        vals.sort()
        n = len(vals)
        for q in qs:
            h = float(n - 1) * float(q)
            lo = int(math.floor(h))
            vlo, vhi = vals[lo], vals[min(lo + 1, n - 1)]
            quant = vlo + (h - lo) * (vhi - vlo)
            quant = math.floor(quant * 1e6 + 0.5) / 1e6
            want[(g, float(q))] = (n, quant)
    assert got == want
