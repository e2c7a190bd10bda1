"""Batch/stream equivalence (SURVEY §2.9 L5/L6): the streaming window
twins produce exactly the batch queries' results; the AvailableNow file
pipeline is exactly-once across runs; the stateful operator matches batch
aggregation."""

import os

import pyspark.sql.functions as F
import pytest

from etl_ipl_data_analysis_pipeline_spark import streaming as strm
from etl_ipl_data_analysis_pipeline_spark.plans import load_all


@pytest.fixture(scope="module")
def registry():
    return load_all()


def stream_vs_batch(spark, sf_dir, stream_fn, batch_query, registry, name):
    out = strm.run_available_now(
        stream_fn(strm.read_events_stream(spark, sf_dir)), name
    )
    s = {tuple(r) for r in out.collect()}
    b = {tuple(r) for r in registry[batch_query].fn(spark, sf_dir).collect()}
    assert s == b


def test_tumbling_stream_equals_batch(spark, sf_dir, registry):
    stream_vs_batch(spark, sf_dir, strm.tumbling_stream, "window_tumbling", registry, "t_tum")


def test_sliding_stream_equals_batch(spark, sf_dir, registry):
    stream_vs_batch(spark, sf_dir, strm.sliding_stream, "window_sliding", registry, "t_sli")


def test_session_stream_equals_batch(spark, sf_dir, registry):
    stream_vs_batch(spark, sf_dir, strm.session_stream, "window_session", registry, "t_ses")


def test_append_mode_withholds_open_windows(spark, sf_dir, registry):
    out = strm.run_available_now(
        strm.tumbling_stream(strm.read_events_stream(spark, sf_dir)),
        "t_append",
        output_mode="append",
    )
    sub = {tuple(r) for r in out.collect()}
    full = {tuple(r) for r in registry["window_tumbling"].fn(spark, sf_dir).collect()}
    assert sub < full  # strict subset: final unflushed window(s) absent
    assert len(sub) >= len(full) - 5


def test_file_pipeline_exactly_once(spark, sf_dir, tmp_path):
    src = os.path.join(sf_dir, "events.parquet")
    dst, ckpt = str(tmp_path / "out"), strm.checkpoint_dir(str(tmp_path), "events")
    n1 = strm.file_stream_pipeline(
        spark, src, dst, ckpt, transform=lambda df: df.filter(F.col("event_type") == "click")
    )
    rows1 = spark.read.parquet(dst).count()
    n2 = strm.file_stream_pipeline(
        spark, src, dst, ckpt, transform=lambda df: df.filter(F.col("event_type") == "click")
    )
    assert n1 >= 1 and n2 == 0
    assert spark.read.parquet(dst).count() == rows1


def test_stateful_totals_match_batch(spark, sf_dir):
    totals = strm.run_available_now(
        strm.user_running_totals(strm.read_events_stream(spark, sf_dir)),
        "t_state",
        output_mode="update",
    )
    from etl_ipl_data_analysis_pipeline_spark.plans import load

    batch = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("bn"), F.sum("value").alias("bv"))
    )
    final = totals.groupBy("user_id").agg(
        F.max("n_events").alias("n"), F.max("total_value").alias("v")
    )
    joined = final.join(batch, "user_id").collect()
    assert joined
    for r in joined:
        assert r["n"] == r["bn"]
        assert abs(r["v"] - r["bv"]) < 1e-6


def test_stream_stream_join_equals_batch(spark, sf_dir):
    from etl_ipl_data_analysis_pipeline_spark.plans import load
    from etl_ipl_data_analysis_pipeline_spark.streaming import joins as sjoins

    ev_stream = strm.read_events_stream(spark, sf_dir)
    p_s = ev_stream.filter(F.col("event_type") == "purchase")
    v_s = ev_stream.filter(F.col("event_type") == "view")
    streamed = strm.run_available_now(
        sjoins.attributed_purchases(p_s, v_s), "t_ssjoin", output_mode="append"
    )
    ev = load(spark, sf_dir, "events")
    batch = sjoins.attributed_purchases(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "view"),
    )
    s_rows = {tuple(r) for r in streamed.collect()}
    b_rows = {tuple(r) for r in batch.collect()}
    # append-mode emits only watermark-finalized pairs; every streamed row
    # must be a batch row, and coverage must be substantial
    assert s_rows <= b_rows
    assert len(b_rows) > 0
    assert len(s_rows) >= 0.5 * len(b_rows)


def test_stream_dedup_keys_match_batch_distinct(spark, sf_dir):
    """dropDuplicatesWithinWatermark emits exactly one row per key seen
    (single AvailableNow drain), and the key set equals batch DISTINCT."""
    from etl_ipl_data_analysis_pipeline_spark.plans import load
    from etl_ipl_data_analysis_pipeline_spark.streaming import dedup as sdedup

    out = strm.run_available_now(
        sdedup.deduped_stream(strm.read_events_stream(spark, sf_dir)),
        "t_sdedup",
        output_mode="append",
    )
    rows = out.select("user_id", "event_type").collect()
    keys = {(r["user_id"], r["event_type"]) for r in rows}
    batch = {
        (r["user_id"], r["event_type"])
        for r in load(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
        .collect()
    }
    assert keys == batch
    # row-level contract: emitted rows are real events (key + ts exists)
    assert len(rows) >= len(keys)


def test_cdc_apply_batch_boundary_independence(spark, tmp_path):
    """Splitting the source into 1-file micro-batches must yield the same
    latest-row state as one shot — the merge is associative."""
    import pyspark.sql.functions as F

    from etl_ipl_data_analysis_pipeline_spark.streaming import cdc

    rows = [
        (1, 10, "a", 1.0),
        (2, 30, "b", 2.0),  # user 2's winner arrives in the FIRST file
        (3, 20, "a", 3.0),
        (1, 40, "c", 4.0),  # user 1's winner in the second file
        (2, 25, "d", 5.0),
        (3, 20, "e", 6.0),  # same ts as event 3: event_id breaks the tie
    ]
    df = spark.createDataFrame(
        [(i, u, t, e, v) for i, (u, t, e, v) in enumerate(rows)],
        "event_id long, user_id long, ts long, event_type string, value double",
    )
    src = str(tmp_path / "src")
    # two files, three rows each, in arrival order
    df.filter(F.col("event_id") < 3).coalesce(1).write.parquet(src + "/f0")
    df.filter(F.col("event_id") >= 3).coalesce(1).write.parquet(src + "/f1")

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    got = {
        r["user_id"]: (r["ts"], r["event_id"], r["value"])
        for r in cdc.run_cdc_apply(
            stream, str(tmp_path / "state"), ["user_id"], ["ts", "event_id"]
        ).collect()
    }
    want = {
        r["user_id"]: (r["ts"], r["event_id"], r["value"])
        for r in cdc.latest_per_key(df, ["user_id"], ["ts", "event_id"]).collect()
    }
    assert got == want
    assert got[3] == (20, 5, 6.0)  # tie broken by event_id, not arrival


def test_top_values_batch_boundary_independence(spark, tmp_path):
    """The running top-3 state must be the same whether values arrive in
    one micro-batch or one file at a time — selection is associative.
    Exercises the applyInPandasWithState fallback path (this container
    lacks protobuf, so transformWithStateInPandas is env-gated out;
    both paths share the update contract)."""
    import pyspark.sql.functions as F

    from etl_ipl_data_analysis_pipeline_spark.streaming import stateful, windows

    rows = [
        (0, 1, 5.0), (1, 1, 9.0), (2, 2, 1.0),   # file 0
        (3, 1, 7.0), (4, 1, 3.0), (5, 2, 2.0),   # file 1
        (6, 1, 8.0), (7, 2, 4.0), (8, 2, 4.0),   # file 2 (dup value kept)
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, value double")
    src = str(tmp_path / "src")
    for i in range(3):
        df.filter((F.col("event_id") >= 3 * i) & (F.col("event_id") < 3 * (i + 1))) \
            .coalesce(1).write.parquet(f"{src}/f{i}")

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    out = windows.run_available_now(
        stateful.user_top_values(stream), "q_top_values_micro", output_mode="update"
    )
    final = {
        r["user_id"]: (r["n_events"], r["top1"], r["top2"], r["top3"])
        for r in out.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "top1", "top2", "top3")).alias("s"))
        .select("user_id", "s.n_events", "s.top1", "s.top2", "s.top3")
        .collect()
    }
    assert final[1] == (5, 9.0, 8.0, 7.0)
    assert final[2] == (4, 4.0, 4.0, 2.0)  # duplicate top value survives


def test_running_totals_batch_boundary_independence(spark, tmp_path):
    """Cross-batch accumulation for user_running_totals — the state.exists
    branch that single-micro-batch fixtures never reached (and where a
    GroupState.get property-vs-method bug hid until round 5)."""
    import pyspark.sql.functions as F

    from etl_ipl_data_analysis_pipeline_spark.streaming import stateful, windows

    rows = [(0, 1, 5.0), (1, 2, 1.0), (2, 1, 7.0), (3, 1, 3.0), (4, 2, 2.0)]
    df = spark.createDataFrame(rows, "event_id long, user_id long, value double")
    src = str(tmp_path / "src")
    df.filter(F.col("event_id") < 2).coalesce(1).write.parquet(f"{src}/f0")
    df.filter(F.col("event_id") >= 2).coalesce(1).write.parquet(f"{src}/f1")

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    out = windows.run_available_now(
        stateful.user_running_totals(stream), "q_totals_micro", output_mode="update"
    )
    final = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in out.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "total_value")).alias("s"))
        .select("user_id", "s.n_events", "s.total_value")
        .collect()
    }
    assert final[1] == (3, 15.0)
    assert final[2] == (2, 3.0)


def test_outer_attribution_stream_properties(spark, sf_dir):
    """The LEFT OUTER stream-stream join's matched subset must equal the
    batch inner join, and every null-view emission must be a purchase the
    batch left join also leaves unattributed. (Exact equality with the
    batch LEFT join is deliberately NOT asserted: purchases newer than
    max-event-time minus the watermark stay in state at AvailableNow
    drain, pending a possible future match.)"""
    import pyspark.sql.functions as F

    from etl_ipl_data_analysis_pipeline_spark.plans import load
    from etl_ipl_data_analysis_pipeline_spark.streaming import (
        incremental,
        joins as sjoins,
        windows,
    )

    ev_s = incremental.read_events_stream(spark, sf_dir)
    got = windows.run_available_now(
        sjoins.attributed_purchases_outer(
            ev_s.filter(F.col("event_type") == "purchase"),
            ev_s.filter(F.col("event_type") == "view"),
        ),
        "q_outer_attr",
        output_mode="append",
    ).collect()

    ev = load(spark, sf_dir, "events")
    batch = sjoins.attributed_purchases_outer(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "view"),
    ).collect()
    batch_matched = {tuple(r) for r in batch if r["view_id"] is not None}
    batch_unattr = {r["purchase_id"] for r in batch if r["view_id"] is None}

    got_matched = {tuple(r) for r in got if r["view_id"] is not None}
    got_null = {r["purchase_id"] for r in got if r["view_id"] is None}
    assert got_matched == batch_matched
    assert got_null <= batch_unattr
    assert got_matched, "stream emitted no matched rows"


def test_kmv_stream_batch_boundary_independence(spark, tmp_path):
    """Micro-batched KMV maintenance must produce the identical sketch
    state as a one-shot build — the merge is associative, and a crashed
    run can resume (state is swap-written, checkpointed source)."""
    import pyspark.sql.functions as F

    from etl_ipl_data_analysis_pipeline_spark.operators import sketches
    from etl_ipl_data_analysis_pipeline_spark.streaming import sketch_stream

    rows = [(i, f"t{i % 3}", i % 37) for i in range(200)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, user_id long")
    src = str(tmp_path / "src")
    for i in range(4):
        df.filter((F.col("event_id") % 4) == i).coalesce(1).write.parquet(
            f"{src}/f{i}"
        )
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
        .select("event_type", "user_id")
    )
    got = sketch_stream.run_kmv_stream(
        stream, str(tmp_path / "state"), "user_id", keys=["event_type"], k=16
    )
    want = sketches.kmv_build(
        df.select("event_type", "user_id"), "user_id", keys=["event_type"], k=16
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_count_stream_is_batch_boundary_independent(spark, tmp_path):
    """run_count_stream over 4 file-grain micro-batches must produce the
    byte-identical count table as one batch groupBy-count — the
    associativity contract — and pruning at read time must not lose
    grams whose count crosses the threshold only across batches."""
    import pyspark.sql.functions as F

    from etl_ipl_data_analysis_pipeline_spark.streaming import sketch_stream

    rows = [(i, f"g{i % 7}") for i in range(200)]
    df = spark.createDataFrame(rows, "row_id long, gram string")
    src = str(tmp_path / "cnt_src")
    for i in range(4):
        df.filter((F.col("row_id") % 4) == i).coalesce(1).write.parquet(
            f"{src}/f{i}"
        )
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
        .select("gram")
    )
    got = sketch_stream.run_count_stream(
        stream, str(tmp_path / "cnt_state"), keys=["gram"]
    )
    want = df.groupBy("gram").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # each gram appears ~28x split across 4 batches: a maintenance-time
    # min_count=30 prune would have dropped every partial - read-time
    # filtering keeps the full counts
    assert got.filter(F.col("n_occurrences") >= 28).count() == 7


def test_count_stream_zero_batches_returns_empty(spark, tmp_path):
    from etl_ipl_data_analysis_pipeline_spark.streaming import sketch_stream

    src = tmp_path / "cnt_empty"
    src.mkdir()
    stream = spark.readStream.schema("gram string").parquet(str(src))
    got = sketch_stream.run_count_stream(
        stream, str(tmp_path / "cnt_empty_state"), keys=["gram"]
    )
    assert got.columns == ["gram", "n_occurrences"] and got.count() == 0


def test_bloom_stream_is_batch_boundary_independent(spark, tmp_path):
    """run_bloom_stream over 4 file-grain micro-batches must produce the
    byte-identical word table as a single-shot bloom_build — bitwise OR
    is associative, commutative AND idempotent, so neither batch
    boundaries nor replays can change a bit."""
    import pyspark.sql.functions as F

    from etl_ipl_data_analysis_pipeline_spark.operators import bloom
    from etl_ipl_data_analysis_pipeline_spark.streaming import sketch_stream

    rows = [(i, i % 97) for i in range(300)]
    df = spark.createDataFrame(rows, "row_id long, k long")
    src = str(tmp_path / "bloom_src")
    for i in range(4):
        df.filter((F.col("row_id") % 4) == i).coalesce(1).write.parquet(
            f"{src}/f{i}"
        )
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
        .select("k")
    )
    got = sketch_stream.run_bloom_stream(
        stream, str(tmp_path / "bloom_state"), "k", num_bits=1024, num_hashes=3
    )
    want = bloom.bloom_build(df.select("k"), "k", num_bits=1024, num_hashes=3)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_bloom_stream_zero_batches_returns_empty(spark, tmp_path):
    from etl_ipl_data_analysis_pipeline_spark.streaming import sketch_stream

    src = tmp_path / "bloom_empty"
    src.mkdir()
    stream = spark.readStream.schema("k long").parquet(str(src))
    got = sketch_stream.run_bloom_stream(
        stream, str(tmp_path / "bloom_empty_state"), "k"
    )
    assert got.columns == ["word_idx", "word"] and got.count() == 0


def _zero_batch_cases():
    """(source schema, run(stream, state_dir), expected empty frame) per
    state or pair stream: each drains a source with no files, so no
    micro-batch ever runs and the result is the zero-batch fallback."""
    from etl_ipl_data_analysis_pipeline_spark.operators import dedup, sketches
    from etl_ipl_data_analysis_pipeline_spark.streaming import sketch_stream as ss

    docs = "doc_id long, text string"
    return {
        "kmv": (
            "event_type string, user_id long",
            lambda st, d: ss.run_kmv_stream(
                st, f"{d}/s", "user_id", keys=["event_type"], k=16
            ),
            lambda e: sketches.kmv_build(e, "user_id", keys=["event_type"], k=16),
        ),
        "sig_index": (
            docs,
            lambda st, d: ss.run_sig_index_stream(st, f"{d}/s"),
            lambda e: dedup.minhash_sig_index(e, hash_family="md5"),
        ),
        "minhash_pairs": (
            docs,
            lambda st, d: ss.run_minhash_pair_stream(st, f"{d}/p", f"{d}/i"),
            lambda e: dedup.minhash_near_dup_pairs(e, hash_family="md5"),
        ),
        "fingerprint_pairs": (
            "media_id long, content binary",
            lambda st, d: ss.run_fingerprint_pair_stream(
                st, lambda b: b, f"{d}/p", f"{d}/i"
            ),
            lambda e: e.sparkSession.createDataFrame(
                [], "id_a bigint, id_b bigint, hamming int"
            ),
        ),
        "embedding_pairs": (
            "vec_id long, embedding array<double>",
            lambda st, d: ss.run_embedding_pair_stream(
                st, lambda b: b, f"{d}/p", f"{d}/i"
            ),
            lambda e: e.sparkSession.createDataFrame(
                [], "id_a bigint, id_b bigint, sim double"
            ),
        ),
    }


@pytest.mark.parametrize(
    "case",
    ["kmv", "sig_index", "minhash_pairs", "fingerprint_pairs", "embedding_pairs"],
)
def test_state_and_pair_streams_zero_batches_return_empty(spark, tmp_path, case):
    schema, run, expected = _zero_batch_cases()[case]
    src = tmp_path / "src"
    src.mkdir()
    got = run(spark.readStream.schema(schema).parquet(str(src)), tmp_path)
    want = expected(spark.createDataFrame([], schema))
    assert got.schema == want.schema
    assert got.count() == 0


def test_count_stream_replay_is_noop(spark, tmp_path):
    """foreachBatch is at-least-once: a crash between the state swap and
    the checkpoint commit re-delivers the batch. Summation is not
    idempotent, so the batch-id marker (written in the same atomic swap)
    must turn the re-delivery into a no-op — and a genuinely NEW batch id
    must still merge."""
    import pyspark.sql.functions as F

    from etl_ipl_data_analysis_pipeline_spark.streaming import sketch_stream

    state = str(tmp_path / "replay_state")
    batch = spark.createDataFrame([("a",), ("a",), ("b",)], "gram string")

    sketch_stream._merge_count_batch(batch, 0, state, ["gram"], "n")
    sketch_stream._merge_count_batch(batch, 0, state, ["gram"], "n")  # replay
    counts = {
        r["gram"]: r["n"]
        for r in spark.read.parquet(state).drop("__last_batch_id").collect()
    }
    assert counts == {"a": 2, "b": 1}  # replay did not double-count

    sketch_stream._merge_count_batch(batch, 1, state, ["gram"], "n")  # new batch
    counts = {
        r["gram"]: r["n"]
        for r in spark.read.parquet(state).drop("__last_batch_id").collect()
    }
    assert counts == {"a": 4, "b": 2}
    marker = spark.read.parquet(state).select(F.max("__last_batch_id")).first()[0]
    assert marker == 1


def test_count_stream_batch_id_regression_raises(spark, tmp_path):
    """A batch id strictly below the stored marker is NOT a replay (the
    checkpoint can only re-deliver the marker batch itself): it means the
    checkpoint directory was reset while the state parquet survived, so
    ids restarted at 0. Silently no-op'ing would freeze the state forever
    — the merge must fail loudly instead."""
    import pytest

    from etl_ipl_data_analysis_pipeline_spark.streaming import sketch_stream

    state = str(tmp_path / "regress_state")
    batch = spark.createDataFrame([("a",), ("b",)], "gram string")

    sketch_stream._merge_count_batch(batch, 5, state, ["gram"], "n")
    with pytest.raises(RuntimeError, match="batch id regressed"):
        sketch_stream._merge_count_batch(batch, 0, state, ["gram"], "n")


def test_sig_index_stream_batch_boundary_and_replay_independent(spark, tmp_path):
    """run_sig_index_stream over 3 file-grain micro-batches must produce
    the byte-identical signature index as the single-shot batch build
    (signatures are pure functions of text), and a FULL re-delivery —
    checkpoint deleted, state kept, ids restarting at 0 — must leave the
    index unchanged: the id-dedup merge is idempotent, so unlike the
    additive count stream no batch marker is needed."""
    import shutil

    import pyspark.sql.functions as F

    from etl_ipl_data_analysis_pipeline_spark.operators import dedup
    from etl_ipl_data_analysis_pipeline_spark.streaming import sketch_stream

    rows = [
        (i, f"alpha beta gamma delta epsilon zeta eta theta doc{i} " * 3)
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    src = str(tmp_path / "sig_src")
    for i in range(3):
        df.filter((F.col("doc_id") % 3) == i).coalesce(1).write.parquet(
            f"{src}/f{i}"
        )

    def stream():
        return (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )

    state = str(tmp_path / "sig_state")
    got = sketch_stream.run_sig_index_stream(stream(), state, hash_family="md5")
    want = dedup.minhash_sig_index(df, hash_family="md5")
    as_rows = lambda d: sorted((r["doc_id"], tuple(r["sig"])) for r in d.collect())
    assert as_rows(got) == as_rows(want)

    # replay: wipe ONLY the checkpoint; every batch re-delivers from id 0
    shutil.rmtree(state + "__checkpoint")
    again = sketch_stream.run_sig_index_stream(stream(), state, hash_family="md5")
    assert as_rows(again) == as_rows(want)


def test_minhash_pair_stream_equals_batch_and_survives_replay(spark, tmp_path):
    """Streaming dedup contract: 3 file-grain micro-batches with near-dup
    pairs INSIDE batches and ACROSS batches must accumulate exactly the
    single-shot batch LSH pair set (every pair is intra- or cross-batch
    exactly once); then a FULL re-delivery with the index already merged
    (checkpoint wiped, both states kept — the crash-after-index-swap
    worst case) must leave the pair table unchanged: cross-probe now
    re-finds intra pairs and self-pairs, which the (least, greatest)
    normalization, self-filter and key-dedup absorb."""
    import shutil

    import pyspark.sql.functions as F

    from etl_ipl_data_analysis_pipeline_spark.operators import dedup
    from etl_ipl_data_analysis_pipeline_spark.streaming import sketch_stream

    base = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "one two three four five six seven eight nine ten",
        "red orange yellow green blue indigo violet pink black white",
    ]
    rows = []
    for i in range(18):
        # docs i and i+100 are near-dups (one-token suffix change); ids are
        # interleaved across the 3 files by (id % 3), so some pairs land in
        # one batch and some span batches
        t = base[i % 3] + f" tail{i}"
        rows.append((i, t))
        rows.append((100 + i, t + " zz"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    src = str(tmp_path / "mhp_src")
    for i in range(3):
        df.filter((F.col("doc_id") % 3) == i).coalesce(1).write.parquet(
            f"{src}/f{i}"
        )

    def stream():
        return (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )

    pairs_state = str(tmp_path / "mhp_pairs")
    index_state = str(tmp_path / "mhp_index")
    got = sketch_stream.run_minhash_pair_stream(
        stream(), pairs_state, index_state, min_jaccard=0.5, hash_family="md5"
    )
    want = dedup.minhash_near_dup_pairs(
        df, min_jaccard=0.5, hash_family="md5"
    )
    rows_of = lambda d: sorted(map(tuple, d.collect()))
    want_rows = rows_of(want)
    assert rows_of(got) == want_rows
    assert len(want_rows) > 0  # the planted near-dups actually paired
    # at least one pair crossed a batch boundary (different id % 3)
    assert any(a % 3 != b % 3 for a, b, _ in want_rows)

    shutil.rmtree(pairs_state + "__checkpoint")
    again = sketch_stream.run_minhash_pair_stream(
        stream(), pairs_state, index_state, min_jaccard=0.5, hash_family="md5"
    )
    assert rows_of(again) == want_rows


def test_fingerprint_pair_stream_equals_batch_and_survives_replay(spark, tmp_path):
    """Streaming perceptual-hash dedup: 3 file-grain micro-batches of
    synthetic PPMs with exact copies INSIDE and ACROSS batches must
    accumulate exactly the single-shot fingerprint pair set; a full
    re-delivery with both states kept (checkpoint wiped — the
    crash-after-index-swap worst case) leaves the table unchanged."""
    import shutil

    import pyspark.sql.functions as F

    from etl_ipl_data_analysis_pipeline_spark.operators import (
        dedup,
        multimodal as mm,
    )
    from etl_ipl_data_analysis_pipeline_spark.streaming import sketch_stream

    def ppm(seed):
        px = bytes((seed * 29 + i * 17) % 256 for i in range(27))
        return b"P6\n3 3\n255\n" + px

    rows = []
    for i in range(12):
        rows.append((i, bytearray(ppm(i % 4))))  # 4 classes -> many copies
    df = spark.createDataFrame(rows, "media_id long, content binary")
    src = str(tmp_path / "img_src")
    for i in range(3):
        df.filter((F.col("media_id") % 3) == i).coalesce(1).write.parquet(
            f"{src}/f{i}"
        )

    def fp_fn(batch):
        media = batch.select(
            "media_id",
            F.lit("x.ppm").alias("path"),
            F.lit("ppm").alias("format"),
            F.lit(27).cast("long").alias("n_bytes"),
            "content",
        )
        return mm.image_ahash(media, bits=16)

    def stream():
        return (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )

    pairs_state = str(tmp_path / "img_pairs")
    index_state = str(tmp_path / "img_index")
    got = sketch_stream.run_fingerprint_pair_stream(
        stream(), fp_fn, pairs_state, index_state, max_hamming=0, bits=16
    )
    want = dedup.fingerprint_near_dup_pairs(
        fp_fn(df), max_hamming=0, bits=16
    )
    rows_of = lambda d: sorted(map(tuple, d.collect()))
    want_rows = rows_of(want)
    assert rows_of(got) == want_rows and len(want_rows) > 0
    # full replay: wipe the checkpoint only, both states survive
    shutil.rmtree(pairs_state + "__checkpoint", ignore_errors=True)
    again = sketch_stream.run_fingerprint_pair_stream(
        stream(), fp_fn, pairs_state, index_state, max_hamming=0, bits=16
    )
    assert rows_of(again) == want_rows


def test_embedding_pair_stream_equals_batch_and_survives_replay(spark, tmp_path):
    """Vector dedup-stream contract (the minhash test's embedding twin):
    3 file-grain micro-batches carrying near-identical vector pairs both
    INSIDE batches and ACROSS batches must accumulate exactly the
    single-shot batch LSH pair set — the two legs share one signature
    definition and one first-agree rule, so the identity is structural,
    not statistical. Then a full re-delivery with the index already
    merged (checkpoint wiped, states kept) must leave the pair table
    unchanged: the cross probe re-finds intra pairs and self-pairs,
    absorbed by (least, greatest) normalization + self-filter +
    key-dedup."""
    import random
    import shutil

    import pyspark.sql.functions as F

    from etl_ipl_data_analysis_pipeline_spark.operators import similarity
    from etl_ipl_data_analysis_pipeline_spark.streaming import sketch_stream

    rnd = random.Random(7)
    rows = []
    for i in range(24):
        v = [rnd.gauss(0, 1) for _ in range(16)]
        rows.append((i, v))
        # i and 100+i are near-dups (tiny perturbation); interleaving by
        # (id % 3) puts some pairs within one file and some across files
        rows.append((100 + i, [x + 0.001 for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    src = str(tmp_path / "emb_src")
    for i in range(3):
        df.filter((F.col("vec_id") % 3) == i).coalesce(1).write.parquet(
            f"{src}/f{i}"
        )

    def stream():
        return (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )

    kw = dict(min_sim=0.99, n_planes=6, n_tables=4, dim=16)
    pairs_state = str(tmp_path / "emb_pairs")
    index_state = str(tmp_path / "emb_index")
    got = sketch_stream.run_embedding_pair_stream(
        stream(), lambda b: b, pairs_state, index_state, **kw
    )
    want = similarity.embedding_near_dup_pairs(
        df, kw["min_sim"], kw["n_planes"], kw["n_tables"], kw["dim"]
    )
    as_rows = lambda d: sorted(
        (r["id_a"], r["id_b"], r["sim"]) for r in d.collect()
    )
    got_rows = as_rows(got)
    assert got_rows == as_rows(want)
    # the construction really planted pairs, and some spanned batches
    assert len(got_rows) >= 24
    spans = sum(1 for a, b, _ in got_rows if (a % 3) != (b % 3))
    assert spans > 0

    # replay worst case: checkpoint wiped, pair+index state kept
    shutil.rmtree(pairs_state + "__checkpoint")
    again = sketch_stream.run_embedding_pair_stream(
        stream(), lambda b: b, pairs_state, index_state, **kw
    )
    assert as_rows(again) == got_rows


def test_bm25_index_stream_equals_batch_and_survives_replay(spark, tmp_path):
    """Streaming index maintenance contract: 3 file-grain micro-batches
    build 3 delta indexes, the fold serves rankings value-identical to
    a single-shot build over the whole corpus; a FULL re-delivery with
    the deltas already on disk (checkpoint wiped) must overwrite each
    batch-id-keyed delta with the same integers and leave the search
    unchanged — exactly-once by idempotence, no markers needed."""
    import shutil

    import pyspark.sql.functions as F

    from etl_ipl_data_analysis_pipeline_spark.operators import textstats as ts
    from etl_ipl_data_analysis_pipeline_spark.streaming import sketch_stream

    words = ["spark", "index", "stream", "merge", "delta", "query",
             "token", "score", "rank", "fold"]
    rows = [
        (i, " ".join(words[(i + j) % len(words)] for j in range(1 + i % 7)))
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    src = str(tmp_path / "bm25s_src")
    for i in range(3):
        df.filter((F.col("doc_id") % 3) == i).coalesce(1).write.parquet(
            f"{src}/f{i}"
        )

    def stream():
        return (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )

    queries = spark.createDataFrame(
        [(0, "spark"), (0, "delta"), (1, "rank"), (1, "token"), (1, "fold")],
        "query_id int, term string",
    )
    base = str(tmp_path / "bm25s_idx")
    idx = sketch_stream.run_bm25_index_stream(stream(), lambda b: b, base)
    assert idx.endswith("/current")  # 3 deltas actually folded

    full = str(tmp_path / "bm25s_full")
    ts.bm25_build_index(df, full)
    rows_of = lambda d: sorted(map(tuple, d.collect()))
    want = rows_of(ts.bm25_search_index(spark, full, queries, k=5))
    assert rows_of(ts.bm25_search_index(spark, idx, queries, k=5)) == want
    assert len(want) > 0

    # replay: wipe only the checkpoint; deltas get rewritten in place
    shutil.rmtree(base + "__checkpoint")
    idx2 = sketch_stream.run_bm25_index_stream(stream(), lambda b: b, base)
    assert rows_of(ts.bm25_search_index(spark, idx2, queries, k=5)) == want


def test_bm25_index_stream_checkpointed_resume_folds_all_deltas(spark, tmp_path):
    """A checkpointed RESUME must fold the WHOLE delta lineage, not just
    this run's batches: run over 2 files, add a 3rd, re-run with the
    SAME checkpoint (only batch 2 processes) — the served index equals
    a full rebuild over all 30 docs. A further restart with nothing new
    serves the existing fold instead of raising."""
    import pyspark.sql.functions as F

    from etl_ipl_data_analysis_pipeline_spark.operators import textstats as ts
    from etl_ipl_data_analysis_pipeline_spark.streaming import sketch_stream

    words = ["spark", "index", "stream", "merge", "delta", "query"]
    rows = [
        (i, " ".join(words[(i + j) % len(words)] for j in range(1 + i % 5)))
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    src = str(tmp_path / "src")
    for i in range(2):
        df.filter((F.col("doc_id") % 3) == i).coalesce(1).write.parquet(
            f"{src}/f{i}"
        )

    def stream():
        return (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )

    base = str(tmp_path / "idx")
    sketch_stream.run_bm25_index_stream(stream(), lambda b: b, base)
    # late-arriving third file; SAME checkpoint -> only batch 2 processes
    df.filter((F.col("doc_id") % 3) == 2).coalesce(1).write.parquet(f"{src}/f2")
    idx = sketch_stream.run_bm25_index_stream(stream(), lambda b: b, base)

    queries = spark.createDataFrame(
        [(0, "spark"), (0, "delta"), (1, "merge")], "query_id int, term string"
    )
    full = str(tmp_path / "full")
    ts.bm25_build_index(df, full)
    rows_of = lambda d: sorted(map(tuple, d.collect()))
    want = rows_of(ts.bm25_search_index(spark, full, queries, k=5))
    assert rows_of(ts.bm25_search_index(spark, idx, queries, k=5)) == want

    # restart with no new input: serves the lineage, never raises
    idx2 = sketch_stream.run_bm25_index_stream(stream(), lambda b: b, base)
    assert rows_of(ts.bm25_search_index(spark, idx2, queries, k=5)) == want


def test_snapshot_cdc_stream_merge_boundaries_and_replay(spark, tmp_path):
    """CDC-apply into the snapshot table (r11): 1-file micro-batches of
    OUT-OF-ORDER events must converge to the one-shot arg-max (a stale
    batch cannot regress a key), each batch is one time-travelable MERGE
    version, and a checkpoint-wiped replay commits nothing — the batch
    id rides the merge's manifest."""
    import shutil

    import pyspark.sql.functions as F

    from etl_ipl_data_analysis_pipeline_spark import snapshots as sn
    from etl_ipl_data_analysis_pipeline_spark.streaming import cdc

    rows = [
        # file 0
        (0, 1, 50, "late-winner", 1.0),   # user 1's TRUE winner, arrives FIRST
        (1, 2, 10, "a", 2.0),
        # file 1 (older ts for user 1 — must NOT regress the state)
        (2, 1, 20, "stale", 3.0),
        (3, 2, 30, "b", 4.0),             # user 2's winner
        # file 2
        (4, 3, 15, "c", 5.0),
        (5, 2, 30, "tie", 6.0),           # same ts as event 3: event_id wins
    ]
    df = spark.createDataFrame(
        [(i, u, t, e, v) for (i, u, t, e, v) in rows],
        "event_id long, user_id long, ts long, event_type string, value double",
    )
    src = str(tmp_path / "src")
    for k in range(3):
        df.filter((F.col("event_id") >= 2 * k) & (F.col("event_id") < 2 * k + 2)) \
            .coalesce(1).write.parquet(f"{src}/f{k}")

    def stream():
        return (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )

    table = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    out = cdc.run_snapshot_cdc_stream(
        stream(), table, ["user_id"], ["ts", "event_id"], checkpoint=ckpt
    )
    got = {r["user_id"]: (r["ts"], r["event_id"]) for r in out.collect()}
    want = {
        r["user_id"]: (r["ts"], r["event_id"])
        for r in cdc.latest_per_key(df, ["user_id"], ["ts", "event_id"]).collect()
    }
    assert got == want
    assert got[1] == (50, 0)  # the stale second batch did not regress user 1
    assert got[2] == (30, 5)  # tie broken by event_id across batches

    # one version per non-empty batch; as-of k = state after batch k
    versions = sn.snapshot_versions(spark, table)
    assert versions == [1, 2, 3]
    v1 = {r["user_id"]: r["ts"] for r in sn.snapshot_read(spark, table, 1).collect()}
    assert v1 == {1: 50, 2: 10}

    # replay with a wiped checkpoint: marker skips everything
    shutil.rmtree(ckpt)
    out2 = cdc.run_snapshot_cdc_stream(
        stream(), table, ["user_id"], ["ts", "event_id"], checkpoint=ckpt
    )
    assert sn.snapshot_versions(spark, table) == [1, 2, 3]
    assert {r["user_id"]: (r["ts"], r["event_id"]) for r in out2.collect()} == want


def test_snapshot_cdc_composite_key_prunes_files_and_partitions(
    spark, tmp_path, monkeypatch
):
    """VERDICT r11 directive 6: the CDC winner-resolution read prunes on
    the LEADING key column's incoming range even for COMPOSITE keys, and
    on partition directories when the table is Hive-partitioned on a key
    column — a batch touching one key range in one partition scans ONE
    file of the 8-file state, not the table."""
    import pyspark.sql.functions as F

    from etl_ipl_data_analysis_pipeline_spark import snapshots as sn
    from etl_ipl_data_analysis_pipeline_spark.streaming import cdc

    base = str(tmp_path / "tbl")
    init = spark.range(0, 400).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("string").alias("grp"),
        F.lit(0).cast("long").alias("ts"),
        F.lit(0.0).alias("value"),
    )
    sn.snapshot_commit(
        init, base, "append",
        partition_by=["grp"], cluster_by=["k"], cluster_files=4,
    )
    assert len(sn._read_manifest(spark, base, 1)["files"]) == 8

    batch = spark.createDataFrame(
        [(k, "0", 5, 9.9) for k in range(100, 110, 2)],
        "k long, grp string, ts long, value double",
    )
    src = str(tmp_path / "src")
    batch.coalesce(1).write.parquet(src)

    calls = []
    real_read = sn.snapshot_read

    def recording_read(sess, path, version=None, prune=None, as_of_ts=None):
        df = real_read(sess, path, version=version, prune=prune, as_of_ts=as_of_ts)
        calls.append((prune, len(df.inputFiles())))
        return df

    monkeypatch.setattr(sn, "snapshot_read", recording_read)
    out = cdc.run_snapshot_cdc_stream(
        spark.readStream.schema(batch.schema).parquet(src),
        base,
        ["k", "grp"],
        ["ts"],
        checkpoint=str(tmp_path / "ckpt"),
    )
    pruned = [c for c in calls if c[0]]
    assert pruned, calls
    triples, n_files = pruned[0]
    assert {t[0] for t in triples} == {"k", "grp"}  # leading key + partition
    assert n_files == 1  # one k-range file inside the grp=0 directory
    rows = {(r.k, r.grp): (r.ts, r.value) for r in out.collect()}
    assert len(rows) == 400
    assert rows[(100, "0")] == (5, 9.9) and rows[(101, "1")] == (0, 0.0)


def test_snapshot_cdc_tombstones_across_batches(spark, tmp_path):
    """CDC deletes through the snapshot table: a delete event that wins
    its key's arg-max removes the key (even when the live row landed
    batches earlier); a STALE delete — older than the key's live row in
    the SAME resolution — loses like any stale event; a checkpoint-wiped
    replay changes nothing (batch-id marker)."""
    import shutil

    import pyspark.sql.functions as F

    from etl_ipl_data_analysis_pipeline_spark import snapshots as sn
    from etl_ipl_data_analysis_pipeline_spark.streaming import cdc

    rows = [
        # file 0: initial live rows
        (0, 1, 10, "set", 1.0),
        (1, 2, 10, "set", 2.0),
        (2, 3, 10, "set", 3.0),
        # file 1: delete user 1 (newer), stale-delete user 2 (older ts)
        (3, 1, 20, "del", 0.0),
        (4, 2, 5, "del", 0.0),
        # file 2: user 3 updates; user 4 appears and is deleted in-batch
        (5, 3, 30, "set", 33.0),
        (6, 4, 10, "set", 4.0),
        (7, 4, 20, "del", 0.0),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts long, op string, value double",
    )
    src = str(tmp_path / "src")
    for k in range(3):
        df.filter(
            (F.col("event_id") >= [0, 3, 5][k])
            & (F.col("event_id") < [3, 5, 8][k])
        ).coalesce(1).write.parquet(f"{src}/f{k}")

    def stream():
        return (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(src)
            .withColumn("__del", F.col("op") == "del")
        )

    table = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    out = cdc.run_snapshot_cdc_stream(
        stream(), table, ["user_id"], ["ts", "event_id"],
        checkpoint=ckpt, delete_col="__del",
    )
    got = {r.user_id: (r.ts, r.value) for r in out.collect()}
    assert 1 not in got           # deleted by a newer event across batches
    assert got[2] == (10, 2.0)    # stale delete lost
    assert got[3] == (30, 33.0)   # plain update
    assert 4 not in got           # insert+delete resolved within one batch
    assert "__del" not in out.columns

    # replay: wiped checkpoint, batch ids restart -> marker skips all
    versions = sn.snapshot_versions(spark, table)
    shutil.rmtree(ckpt)
    out2 = cdc.run_snapshot_cdc_stream(
        stream(), table, ["user_id"], ["ts", "event_id"],
        checkpoint=ckpt, delete_col="__del",
    )
    assert sn.snapshot_versions(spark, table) == versions
    assert {r.user_id: (r.ts, r.value) for r in out2.collect()} == got


# ---------------------------------------------------------------------------
# change-feed mirror (incremental cross-table replication)


def test_mirror_bootstrap_sync_and_cursor(spark, tmp_path):
    import pyspark.sql.functions as F

    from etl_ipl_data_analysis_pipeline_spark import snapshots as sn
    from etl_ipl_data_analysis_pipeline_spark.streaming.changefeed import (
        mirror_snapshot_changes,
    )

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    df = spark.range(0, 30).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    sn.snapshot_commit(df, src, "append")
    assert mirror_snapshot_changes(spark, src, dst, ["k"]) == 1
    assert mirror_snapshot_changes(spark, src, dst, ["k"]) == 0  # current
    # merge + COW delete + MOR delete, one sync applies all three
    sn.snapshot_merge(
        spark.createDataFrame([(3, 33), (100, 1)], "k long, v long"), src, ["k"]
    )
    sn.snapshot_delete(spark, src, F.col("k").between(20, 24))
    sn.snapshot_delete_keys(spark.createDataFrame([(7,)], "k long"), src)
    assert mirror_snapshot_changes(spark, src, dst, ["k"]) == 3
    s = {(r.k, r.v) for r in sn.snapshot_read(spark, src).collect()}
    d = {(r.k, r.v) for r in sn.snapshot_read(spark, dst).collect()}
    assert s == d and (3, 33) in d and (7, 14) not in d
    # compaction-only source change still advances the cursor
    sn.snapshot_compact(spark, src)
    assert mirror_snapshot_changes(spark, src, dst, ["k"]) >= 1
    assert mirror_snapshot_changes(spark, src, dst, ["k"]) == 0
    assert {(r.k, r.v) for r in sn.snapshot_read(spark, dst).collect()} == s


def test_mirror_expired_cursor_full_reconcile(spark, tmp_path):
    import pyspark.sql.functions as F

    from etl_ipl_data_analysis_pipeline_spark import snapshots as sn
    from etl_ipl_data_analysis_pipeline_spark.streaming.changefeed import (
        mirror_snapshot_changes,
    )

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    df = spark.range(0, 20).select(
        F.col("id").alias("k"), F.lit(0).cast("long").alias("v")
    )
    sn.snapshot_commit(df, src, "append")
    mirror_snapshot_changes(spark, src, dst, ["k"])
    sn.snapshot_merge(
        spark.createDataFrame([(1, 11)], "k long, v long"), src, ["k"]
    )
    sn.snapshot_delete(spark, src, F.col("k") == 19)
    # expire the consumed version out of the source lineage
    sn.snapshot_expire(spark, src, keep_last=1, staging_grace_s=0)
    assert mirror_snapshot_changes(spark, src, dst, ["k"]) >= 1
    s = {(r.k, r.v) for r in sn.snapshot_read(spark, src).collect()}
    d = {(r.k, r.v) for r in sn.snapshot_read(spark, dst).collect()}
    assert s == d and (1, 11) in d and len(d) == 19
    assert mirror_snapshot_changes(spark, src, dst, ["k"]) == 0


def test_mirror_refuses_foreign_destination(spark, tmp_path):
    import pytest

    from etl_ipl_data_analysis_pipeline_spark import snapshots as sn
    from etl_ipl_data_analysis_pipeline_spark.streaming.changefeed import (
        mirror_snapshot_changes,
    )

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    df = spark.range(0, 5).withColumnRenamed("id", "k")
    sn.snapshot_commit(df, src, "append")
    sn.snapshot_commit(df, dst, "append")  # no cursor lineage
    with pytest.raises(ValueError, match="cursor"):
        mirror_snapshot_changes(spark, src, dst, ["k"])


def test_cdc_table_feeds_change_feed_and_mirror(spark, tmp_path):
    """Composition: a streaming-CDC-maintained snapshot table serves the
    change feed per micro-batch version AND replicates through the
    mirror — the full upstream-CDC -> versioned table -> incremental
    downstream pipeline in one test."""
    import pyspark.sql.functions as F

    from etl_ipl_data_analysis_pipeline_spark import snapshots as sn
    from etl_ipl_data_analysis_pipeline_spark.streaming import cdc
    from etl_ipl_data_analysis_pipeline_spark.streaming.changefeed import (
        mirror_snapshot_changes,
    )

    rows = [
        # batch 0: users 1,2 arrive
        (0, 1, 10, "a", 1.0), (1, 2, 10, "a", 2.0),
        # batch 1: user 1 updates, user 3 arrives
        (2, 1, 20, "b", 3.0), (3, 3, 20, "a", 4.0),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts long, event_type string, value double",
    )
    src = str(tmp_path / "src")
    for k in range(2):
        df.filter(
            (F.col("event_id") >= 2 * k) & (F.col("event_id") < 2 * k + 2)
        ).coalesce(1).write.parquet(f"{src}/f{k}")
    table = str(tmp_path / "tbl")
    cdc.run_snapshot_cdc_stream(
        (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        ),
        table,
        ["user_id"],
        ["ts", "event_id"],
        checkpoint=str(tmp_path / "ckpt"),
    )
    assert sn.snapshot_versions(spark, table) == [1, 2]
    # per-commit change feed over the CDC lineage
    log = sn.snapshot_changes_by_version(spark, table, 1, 2, key_cols=["user_id"])
    got = sorted((r.user_id, r.ts, r._change_type) for r in log.collect())
    assert got == [
        (1, 10, "update_preimage"), (1, 20, "update_postimage"),
        (3, 20, "insert"),
    ]
    # incremental mirror of the CDC table
    dst = str(tmp_path / "dst")
    assert mirror_snapshot_changes(spark, table, dst, ["user_id"]) >= 1
    assert mirror_snapshot_changes(spark, table, dst, ["user_id"]) == 0
    s = {(r.user_id, r.ts) for r in sn.snapshot_read(spark, table).collect()}
    d = {(r.user_id, r.ts) for r in sn.snapshot_read(spark, dst).collect()}
    assert s == d == {(1, 20), (2, 10), (3, 20)}
