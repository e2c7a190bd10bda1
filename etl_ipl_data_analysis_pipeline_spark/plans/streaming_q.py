"""Event-time window queries (SURVEY.md §2.9 L5-L6) over the ``events``
fixture — batch mode here (oracle-checkable); the same expressions run
under Structured Streaming in etl_ipl_data_analysis_pipeline_spark/streaming
(tests prove batch/stream equivalence).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions import stable_sum
from . import load, register


def _wipe_stream_state(*paths: str) -> None:
    """rm -rf each state path AND its commit siblings. A previous run
    killed inside io.overwrite_parquet can leave a published manifest
    and its staged files; io.recover would then FINISH that commit
    inside this run's first micro-batch and contaminate a
    deliberately-fresh accumulation with the dead run's state.
    Fresh-start queries must clear all of them."""
    import os
    import shutil

    from ..io import _commit_siblings

    for p in paths:
        for sib in (p, *_commit_siblings(p)):
            if os.path.isfile(sib):  # the manifests
                os.remove(sib)
            shutil.rmtree(sib, ignore_errors=True)


@register(
    "window_tumbling",
    oracle="""
    SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
           event_type,
           count(*)             AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE), 2) AS sum_value
    FROM events
    GROUP BY window_start, event_type
    """,
    tags=("L5",),
)
def window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 10-minute event-time windows. Spark's window() start is
    epoch-aligned, same as DuckDB time_bucket."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            stable_sum("value", 2).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


@register(
    "window_sliding",
    oracle="""
    SELECT window_start, count(*) AS n_events, round(CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE), 2) AS sum_value
    FROM (
        SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start, value FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL '10 minutes', ts, INTERVAL '5 minutes') AS window_start,
               value FROM events
    )
    GROUP BY window_start
    """,
    tags=("L5",),
)
def window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (10 min / 5 min slide): every event lands in two
    windows; equivalent to two offset tumbling bucketings unioned."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            stable_sum("value", 2).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


@register(
    "window_session",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL '30 minutes'
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    ), sessions AS (
        SELECT user_id, ts, value,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS session_no
        FROM marked
    )
    SELECT user_id, min(ts) AS session_start,
           count(*) AS n_events, round(CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE), 2) AS sum_value
    FROM sessions
    GROUP BY user_id, session_no
    """,
    tags=("L5", "L6"),
)
def window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) per user. Spark's session_window start =
    first event ts, which the lag/cumsum sessionization reproduces in SQL."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            stable_sum("value", 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "window_tumbling_late_data",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users
    FROM events
    WHERE ts <= (SELECT max(ts) FROM events) - INTERVAL '1 hour'
    GROUP BY window_start
    """,
    tags=("L5",),
)
def window_tumbling_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark semantics, batch-projected: drop events newer than
    max(ts) - 1h (what a watermarked stream would not yet have finalized),
    then hourly windows. The streaming twin lives in streaming/windows.py."""
    ev = load(spark, sf_dir, "events")
    max_ts = ev.agg(F.max("ts").alias("m"))
    return (
        ev.join(F.broadcast(max_ts))
        .filter(F.col("ts") <= F.col("m") - F.expr("INTERVAL 1 HOUR"))
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "n_users")
    )


@register(
    "stateful_running_totals",
    oracle="""
    SELECT user_id, count(*) AS n_events
    FROM events
    GROUP BY user_id
    """,
    tags=("L6", "U4"),
)
def stateful_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6 under the oracle gate: an ACTUAL Structured Streaming run —
    applyInPandasWithState per-user accumulators, file source,
    Trigger.AvailableNow, memory sink — whose final state must equal the
    batch groupBy. Output is integer-only (counts) so the hash can't flip
    on float summation order; the float total is asserted separately in
    tests/test_streaming.py."""
    from ..streaming import incremental, stateful, windows

    totals = windows.run_available_now(
        stateful.user_running_totals(incremental.read_events_stream(spark, sf_dir)),
        "q_stateful_running_totals",
        output_mode="update",
    )
    # update mode emits one row per (user, micro-batch); the final state is
    # the max accumulator value per user
    return totals.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


@register(
    "attributed_purchases",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id, p.ts AS p_ts,
           p.value AS purchase_value, v.event_id AS view_id, v.ts AS v_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id
     AND v.ts <= p.ts
     AND v.ts >= p.ts - INTERVAL 1 HOUR
    """,
    tags=("J8", "L5", "L6"),
)
def attributed_purchases_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution join: every view by the same user within 1h before each
    purchase. SAME expressions run as a watermarked stream-stream join
    (streaming/joins.py; equivalence proven in tests/test_streaming.py) —
    here executed batch-side so the oracle can hash-check it."""
    from ..streaming.joins import attributed_purchases

    ev = load(spark, sf_dir, "events")
    return attributed_purchases(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "view"),
    )


@register(
    "stream_dedup_keys",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
    tags=("L6", "X1", "A2"),
)
def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup-on-arrival (streaming/dedup.py) under the oracle
    gate: an ACTUAL dropDuplicatesWithinWatermark run over the file-source
    stream with Trigger.AvailableNow, projected to the deduped key set —
    which must equal batch DISTINCT exactly. (The kept ROW per key is
    arrival-order-dependent; the key SET is not, so that's what the hash
    checks. tests/test_streaming.py asserts the row-level contract.)"""
    from ..streaming import dedup as sdedup
    from ..streaming import incremental, windows

    out = windows.run_available_now(
        sdedup.deduped_stream(incremental.read_events_stream(spark, sf_dir)),
        "q_stream_dedup_keys",
        output_mode="append",
    )
    return out.select("user_id", "event_type").distinct()


@register(
    "stream_cdc_latest_value",
    oracle="""
    SELECT user_id, event_type, ts, value
    FROM (
      SELECT user_id, event_type, ts, value,
             row_number() OVER (
               PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC
             ) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    tags=("L6", "L2", "W2"),
)
def stream_cdc_latest_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC-apply (streaming/cdc.py): a real foreachBatch +
    AvailableNow run folds the event stream into a latest-row-per-user
    state table via an associative arg-max merge — so the final state
    equals the batch arg-max REGARDLESS of micro-batch boundaries, which
    is exactly what the oracle computes. tests/test_streaming.py forces
     1-file-per-trigger batching to prove the boundary independence."""
    import tempfile

    from ..streaming import cdc, incremental

    state = tempfile.mkdtemp(prefix="cdc_state_") + "/latest"
    out = cdc.run_cdc_apply(
        incremental.read_events_stream(spark, sf_dir),
        state,
        keys=["user_id"],
        order_cols=["ts", "event_id"],
    )
    return out.select("user_id", "event_type", "ts", "value")


@register(
    "stateful_top_values",
    oracle="""
    WITH purchases AS (
      SELECT user_id, value, event_id FROM events
      WHERE event_type = 'purchase'
    ),
    ranked AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY value DESC, event_id) AS rn
      FROM purchases
    ),
    agg AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
      FROM purchases GROUP BY 1
    )
    SELECT a.user_id, a.n_events,
           max(CASE WHEN rn = 1 THEN value END) AS top1,
           max(CASE WHEN rn = 2 THEN value END) AS top2,
           max(CASE WHEN rn = 3 THEN value END) AS top3
    FROM agg a JOIN ranked r ON a.user_id = r.user_id
    GROUP BY 1, 2
    """,
    tags=("L6", "U4"),
)
def stateful_top_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6 multi-variable state under the oracle gate: an actual streaming
    run (file source, AvailableNow, memory sink) of the per-user
    count + running-top-3 processor (streaming/stateful.user_top_values
    — transformWithStateInPandas where the runtime has protobuf, the
    contract-identical applyInPandasWithState fallback here). The top-3
    is maintained by SELECTION, never arithmetic, so the final state
    matches the batch window ranking bit-for-bit regardless of
    micro-batch boundaries; update mode emits one row per (user, batch)
    and the final state is the struct-max per user (n_events strictly
    grows, so the lexicographic max is the last emission)."""
    from ..streaming import incremental, stateful, windows

    ev = incremental.read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    out = windows.run_available_now(
        stateful.user_top_values(ev), "q_stateful_top_values", output_mode="update"
    )
    return (
        out.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "top1", "top2", "top3")).alias("s"))
        .select("user_id", "s.n_events", "s.top1", "s.top2", "s.top3")
    )


@register(
    "attributed_purchases_outer",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id, p.ts AS p_ts,
           p.value AS purchase_value, v.event_id AS view_id, v.ts AS v_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id
     AND v.ts <= p.ts
     AND v.ts >= p.ts - INTERVAL 1 HOUR
    """,
    tags=("J5", "J8", "L5", "L6"),
)
def attributed_purchases_outer_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution with the unattributed remainder: every purchase, its
    in-window views when they exist, NULLs otherwise. SAME expressions
    run as a watermarked LEFT OUTER stream-stream join
    (streaming/joins.attributed_purchases_outer; the matched-subset and
    null-emission properties are proven in tests/test_streaming.py) —
    executed batch-side here so the oracle can hash-check the full
    result including the null-padded rows the stream only releases
    after its watermark passes."""
    from ..streaming import joins as sjoins

    ev = load(spark, sf_dir, "events")
    return sjoins.attributed_purchases_outer(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "view"),
    )


@register(
    "stream_kmv_users",
    oracle="""
    WITH h AS (
      SELECT DISTINCT event_type,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
                 AS hv
      FROM events
    ),
    ranked AS (
      SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
      FROM h
    ),
    kept AS (SELECT event_type, hv FROM ranked WHERE rn <= 64)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS sketch_size,
           floor((CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
                       ELSE 63.0 * 1152921504606846976.0
                            / CAST(max(hv) AS DOUBLE) END) * 100 + 0.5)
               / 100 AS est_distinct
    FROM kept GROUP BY 1
    """,
    tags=("L6", "A5"),
)
def stream_kmv_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sketch maintenance under the exact gate: an ACTUAL
    foreachBatch run (streaming/sketch_stream.run_kmv_stream) folds
    each micro-batch's bottom-64 partial into crash-safe persisted
    state, and the FINAL estimate must hash-match the oracle's
    single-shot batch sketch — the driver-level proof that streamed
    maintenance converges to the batch answer regardless of batch
    boundaries. Same oracle as kmv_event_type_users by design: the two
    queries take the batch-merge and streaming-merge paths to what must
    be the identical deterministic state."""
    import shutil

    from ..streaming import incremental, sketch_stream
    from ..operators import sketches
    from .pipeline_q import _scratch_dir

    state = _scratch_dir(sf_dir, "kmv_stream_state")
    _wipe_stream_state(state, state + "__checkpoint")
    ev = incremental.read_events_stream(spark, sf_dir).select(
        "event_type", "user_id"
    )
    final_state = sketch_stream.run_kmv_stream(
        ev, state, "user_id", keys=["event_type"]
    )
    return sketches.kmv_estimate(final_state, keys=["event_type"])


@register(
    "stream_ngram_counts",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(str_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                         x -> x <> '') AS t
      FROM documents
    ), grams AS (
      SELECT doc_id, unnest(
        CASE WHEN len(t) < 3 THEN CAST([] AS VARCHAR[])
             ELSE list_transform(range(1, len(t) - 1),
                                 i -> array_to_string(t[i:i+2], ' ')) END
      ) AS gram FROM toks
    )
    SELECT gram, CAST(count(*) AS BIGINT) AS n_occurrences
    FROM grams GROUP BY gram HAVING count(*) >= 3
    """,
    tags=("L6", "X4", "A4"),
)
def stream_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming LM-count maintenance under the exact gate: an ACTUAL
    foreachBatch run (streaming/sketch_stream.run_count_stream) folds
    each micro-batch's per-gram counts into persisted state by summing —
    integer addition is associative, so the final table must hash-match
    the single-shot batch 3-gram count table (the ngram_lm_counts
    oracle, occurrence counts only: per-doc distinct counts are not
    additively mergeable across batches and stay batch-side). Min-count
    pruning applies at READ time, never during maintenance — pruning a
    partial count would silently undercount grams that cross the
    threshold in a later batch."""
    import shutil

    import pyspark.sql.functions as F

    from ..operators.curation import _contiguous_grams
    from ..operators.dedup import tokens
    from ..streaming import incremental, sketch_stream
    from . import ensure_read_confs, table_path
    from .pipeline_q import _scratch_dir

    ensure_read_confs(spark)
    path = table_path(sf_dir, "documents")
    schema = spark.read.parquet(path).schema
    docs = incremental._stream_reader(spark, path, schema)
    base = docs.select(
        "doc_id", tokens("text").alias("__t")
    ).select(
        "doc_id", F.filter("__t", lambda t: t != F.lit("")).alias("__t")
    )
    grams = base.select(F.explode(_contiguous_grams("__t", 3)).alias("gram"))

    state = _scratch_dir(sf_dir, "ngram_stream_state")
    _wipe_stream_state(state, state + "__checkpoint")
    final_state = sketch_stream.run_count_stream(grams, state, keys=["gram"])
    return final_state.filter(F.col("n_occurrences") >= 3)


@register(
    "stream_bloom_custkeys",
    oracle="""
    WITH pos AS (
      SELECT DISTINCT
             (('0x' || substr(md5(CAST(o_custkey AS VARCHAR) || ':' || i), 1, 15))::BIGINT)
                 % 4096 AS p
      FROM orders, (VALUES (0), (1), (2)) t(i)
    )
    SELECT p // 64 AS word_idx,
           bit_or(CASE WHEN p % 64 = 63 THEN (-9223372036854775807 - 1)
                       ELSE 1::BIGINT << CAST(p % 64 AS INT) END) AS word,
           CAST(count(*) AS INT) AS n_bits
    FROM pos
    GROUP BY word_idx
    """,
    tags=("L6", "J6", "F7"),
)
def stream_bloom_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Bloom maintenance under the exact gate: an ACTUAL
    foreachBatch run (streaming/sketch_stream.run_bloom_stream) ORs each
    micro-batch's word table into crash-safe persisted state, and the
    final packed bitset must hash-match the oracle's single-shot build —
    OR's idempotence means even replayed batches land on the same bits.
    The oracle packs words with a CASE for bit 63 (DuckDB's `<<` refuses
    to shift into the sign bit where Java's shiftleft wraps); n_bits is
    Spark-side bit_count vs the oracle's count of distinct positions per
    word — equal precisely because packing loses no positions."""
    import shutil

    from ..streaming import incremental, sketch_stream
    from . import ensure_read_confs, table_path
    from .pipeline_q import _scratch_dir

    ensure_read_confs(spark)
    path = table_path(sf_dir, "orders")
    schema = spark.read.parquet(path).schema
    orders = incremental._stream_reader(spark, path, schema)

    state = _scratch_dir(sf_dir, "bloom_stream_state")
    _wipe_stream_state(state, state + "__checkpoint")
    final_state = sketch_stream.run_bloom_stream(
        orders.select("o_custkey"), state, "o_custkey", num_bits=4096, num_hashes=3
    )
    return final_state.select(
        "word_idx", "word", F.bit_count("word").cast("int").alias("n_bits")
    )


@register(
    "stream_source_drift",
    oracle=r"""
    WITH toks AS (
      SELECT source,
             list_filter(str_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                         x -> x <> '') AS t
      FROM documents
    ), terms AS (
      SELECT source, unnest(t) AS term FROM toks
    ), obs AS (
      SELECT source, term, CAST(count(*) AS BIGINT) AS o
      FROM terms GROUP BY source, term
    ), pooled AS (
      SELECT term, CAST(sum(o) AS BIGINT) AS ct
      FROM obs GROUP BY term HAVING CAST(sum(o) AS BIGINT) >= 5
    ), kept AS (
      SELECT obs.source, obs.term, obs.o, pooled.ct
      FROM obs JOIN pooled USING (term)
    ), totals AS (
      SELECT source, ng, CAST(sum(ng) OVER () AS BIGINT) AS call
      FROM (
        SELECT source, CAST(sum(o) AS BIGINT) AS ng FROM kept GROUP BY source
      )
    ), cells AS (
      SELECT kept.source, kept.o,
             CAST(kept.ct AS DOUBLE) * totals.ng / totals.call AS e
      FROM kept JOIN totals USING (source)
    ), contrib AS (
      SELECT source, o,
             CAST(
               floor(
                 ((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e)) / e
                 * 1e6 + 0.5
               ) / 1e6
             AS DECIMAL(24,6)) AS chi
      FROM cells
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_terms,
           CAST(sum(o) AS BIGINT) AS n_tokens,
           CAST(sum(chi) AS DOUBLE) AS chi2
    FROM contrib GROUP BY source
    """,
    tags=("L6", "X4", "A8"),
)
def stream_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drift monitor's INCREMENTAL shape: an actual foreachBatch run
    maintains the (source, term) count table additively
    (run_count_stream — integer addition is associative, so the state
    is bit-identical to a single-shot batch count whatever the
    micro-batch boundaries), then the chi-square statistic is
    recomputed from the maintained counts in O(vocab)
    (textstats.chi_square_from_counts) — a recurring crawl pays
    O(batch) upkeep per snapshot, never an O(history) rescan, and the
    result must hash-match the batch source_term_drift oracle."""
    import shutil

    import pyspark.sql.functions as F

    from ..functions import normalized_text
    from ..operators.textstats import chi_square_from_counts
    from ..streaming import incremental, sketch_stream
    from . import ensure_read_confs, table_path
    from .pipeline_q import _scratch_dir

    ensure_read_confs(spark)
    path = table_path(sf_dir, "documents")
    schema = spark.read.parquet(path).schema
    docs = incremental._stream_reader(spark, path, schema)
    terms = docs.select(
        "source", F.split(normalized_text(F.col("text")), " ").alias("__t")
    ).select(
        "source",
        F.explode(F.filter("__t", lambda t: t != F.lit(""))).alias("term"),
    )

    state = _scratch_dir(sf_dir, "source_drift_state")
    _wipe_stream_state(state, state + "__checkpoint")
    counts = sketch_stream.run_count_stream(terms, state, keys=["source", "term"])
    return chi_square_from_counts(counts, "source", "term", "n_occurrences", 5)


@register(
    "stream_dsir_buckets",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, CAST(lang = 'en' AS BIGINT) AS tgt,
             list_filter(str_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                         x -> x <> '') AS t
      FROM documents
    ), feats AS (
      SELECT doc_id, tgt, unnest(list_concat(t,
        CASE WHEN len(t) < 2 THEN CAST([] AS VARCHAR[])
             ELSE list_transform(range(1, len(t)),
                                 i -> array_to_string(t[i:i+1], ' ')) END
      )) AS gram FROM toks
    )
    SELECT (('0x' || substr(md5(gram || 'dsir'), 1, 15))::BIGINT % 4096) AS b,
           tgt, CAST(count(*) AS BIGINT) AS n_occurrences
    FROM feats GROUP BY 1, 2
    """,
    tags=("L6", "X6", "A4", "F7"),
)
def stream_dsir_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR at ingest: maintain the hashed-feature bucket distributions
    (the model state of curation.dsir_importance — per-bucket raw and
    target occurrence counts) incrementally as documents stream in, via
    the replay-guarded additive count stream
    (streaming/sketch_stream.run_count_stream). Integer addition makes
    the final (bucket, tgt) table bit-identical to the batch
    distribution whatever the micro-batch boundaries, so importance
    weights for any NEW batch can be scored against an always-current
    O(B)-row state without rescanning the corpus — the streaming half
    of the crawl-snapshot DSIR loop. Oracle = the batch bucket
    distribution; hash-gated end to end."""
    import shutil

    from ..operators.curation import _contiguous_grams
    from ..operators.dedup import tokens
    from ..functions import portable_hash64
    from ..streaming import incremental, sketch_stream
    from . import ensure_read_confs, table_path
    from .pipeline_q import _scratch_dir

    ensure_read_confs(spark)
    path = table_path(sf_dir, "documents")
    schema = spark.read.parquet(path).schema
    docs = incremental._stream_reader(spark, path, schema)
    base = docs.select(
        (F.col("lang") == F.lit("en")).cast("bigint").alias("tgt"),
        tokens("text").alias("__t0"),
    ).select(
        "tgt", F.filter("__t0", lambda t: t != F.lit("")).alias("__t")
    )
    occ = base.select(
        "tgt",
        F.explode(F.concat(F.col("__t"), _contiguous_grams("__t", 2))).alias(
            "__gram"
        ),
    ).select(
        F.pmod(portable_hash64("__gram", salt="dsir"), F.lit(4096)).alias("b"),
        "tgt",
    )
    state = _scratch_dir(sf_dir, "dsir_stream_state")
    _wipe_stream_state(state, state + "__checkpoint")
    return sketch_stream.run_count_stream(occ, state, keys=["b", "tgt"])


def _sig_index_oracle() -> str:
    from .llm_ops import _minhash_sig_cte

    return f"""
    WITH {_minhash_sig_cte(32, 8, 42)}
    SELECT doc_id, CAST(i AS INT) AS hash_idx, CAST(h AS BIGINT) AS sig_val
    FROM sig
    """


@register(
    "stream_minhash_sig_index",
    oracle=_sig_index_oracle(),
    tags=("L6", "X2", "F7"),
)
def stream_minhash_sig_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MinHash signature-index upkeep under the EXACT gate
    (streaming/sketch_stream.run_sig_index_stream): an actual
    foreachBatch run hashes each micro-batch of documents ONCE with the
    portable md5 family and id-merges the (doc_id, sig) rows into the
    persisted index — the ingest half of the crawl-N+1 dedup loop,
    whose probe half (dedup_minhash_incremental) searches new batches
    against exactly this state without rescanning old text. Signatures
    are pure functions of the text, so the merge is idempotent under
    replay and the final index is bit-identical to the single-shot
    batch build — the oracle replays the signature CTE family shared
    with dedup_minhash_pairs. Output is the exploded long form
    (doc_id, hash_idx, sig_val): 32 scalar rows per document, the
    driver-canon shape."""
    import shutil

    from ..streaming import incremental, sketch_stream
    from . import ensure_read_confs, table_path
    from .pipeline_q import _scratch_dir

    ensure_read_confs(spark)
    path = table_path(sf_dir, "documents")
    schema = spark.read.parquet(path).schema
    docs = incremental._stream_reader(spark, path, schema)
    state = _scratch_dir(sf_dir, "mh_sig_index_stream_state")
    _wipe_stream_state(state, state + "__checkpoint")
    index = sketch_stream.run_sig_index_stream(
        docs.select("doc_id", "text"), state, hash_family="md5"
    )
    return index.select(
        "doc_id", F.posexplode("sig").alias("hash_idx", "sig_val")
    )


def _stream_pairs_oracle() -> str:
    from .llm_ops import _minhash_pairs_cte

    return f"""
    WITH {_minhash_pairs_cte(0.5)}
    SELECT id_a, id_b, est_jaccard FROM mhpairs
    """


@register(
    "stream_minhash_pairs",
    oracle=_stream_pairs_oracle(),
    tags=("L6", "X2", "J10", "F7"),
)
def stream_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END streaming near-dup detection under the EXACT gate
    (streaming/sketch_stream.run_minhash_pair_stream): each micro-batch
    self-pairs AND probes the persisted signature index (intra- +
    cross-batch pairs, old text never rescanned), accumulating a pair
    table that must be bit-identical to the single-shot batch LSH pair
    set — the same mhpairs oracle as dedup_minhash_pairs, now earned by
    a stream. Batch-boundary independence: every corpus pair is
    intra-batch or cross-batch exactly once; replay independence: pairs
    are pure functions of text, normalized (least, greatest) and
    key-deduped."""
    import shutil

    from ..streaming import incremental, sketch_stream
    from . import ensure_read_confs, table_path
    from .pipeline_q import _scratch_dir

    ensure_read_confs(spark)
    path = table_path(sf_dir, "documents")
    schema = spark.read.parquet(path).schema
    docs = incremental._stream_reader(spark, path, schema)
    pairs_state = _scratch_dir(sf_dir, "mh_pair_stream_state")
    index_state = _scratch_dir(sf_dir, "mh_pair_stream_index")
    _wipe_stream_state(pairs_state, pairs_state + "__checkpoint", index_state)
    return sketch_stream.run_minhash_pair_stream(
        docs.select("doc_id", "text"),
        pairs_state,
        index_state,
        min_jaccard=0.5,
        hash_family="md5",
    )


@register(
    "stream_value_histogram",
    oracle="""
    SELECT event_type,
           least(greatest(CAST(floor(CAST(value AS DOUBLE) / 500.0 * 20.0)
                               AS BIGINT), 0), 19) AS bin,
           CAST(count(*) AS BIGINT) AS n
    FROM events WHERE value IS NOT NULL
    GROUP BY 1, 2
    """,
    tags=("L6", "A8", "A4", "F3"),
)
def stream_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming FIXED-BOUND histogram maintenance: per-(type, bin)
    counts folded through the replay-guarded additive count stream
    (sketch_stream.run_count_stream). Unlike the batch
    value_histogram_by_type (whose bin edges are data-derived min/max —
    a two-pass shape no stream can maintain incrementally), the
    streaming histogram uses CONFIGURED bounds with edge-bin clamping —
    the production monitoring contract, where out-of-range mass lands
    visibly in the first/last bin. Integer addition makes the final
    table bit-identical to the batch histogram over the same bounds
    whatever the micro-batch boundaries."""
    import shutil

    from ..streaming import incremental, sketch_stream
    from . import ensure_read_confs, table_path
    from .pipeline_q import _scratch_dir

    ensure_read_confs(spark)
    path = table_path(sf_dir, "events")
    schema = spark.read.parquet(path).schema
    ev = incremental._stream_reader(spark, path, schema)
    binx = F.least(
        F.greatest(
            F.floor(F.col("value").cast("double") / F.lit(500.0) * F.lit(20.0))
            .cast("bigint"),
            F.lit(0).cast("bigint"),
        ),
        F.lit(19).cast("bigint"),
    )
    occ = ev.filter(F.col("value").isNotNull()).select(
        "event_type", binx.alias("bin")
    )
    state = _scratch_dir(sf_dir, "value_hist_stream_state")
    _wipe_stream_state(state, state + "__checkpoint")
    return sketch_stream.run_count_stream(
        occ, state, keys=["event_type", "bin"], count_col="n"
    )


def _stream_survivors_oracle() -> str:
    from .llm_ops import _minhash_pairs_cte

    return f"""
    WITH RECURSIVE {_minhash_pairs_cte(0.5)},
    edges AS (
      SELECT id_a AS a, id_b AS b FROM mhpairs
      UNION
      SELECT id_b, id_a FROM mhpairs
    ), reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    )
    SELECT doc_id, lang, source FROM documents
    WHERE doc_id NOT IN (SELECT a FROM reach WHERE b < a)
    """


@register(
    "stream_dedup_survivors_cc",
    oracle=_stream_survivors_oracle(),
    tags=("L6", "X2", "J2", "F7"),
)
def stream_dedup_survivors_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming-fed FULL dedup capstone: the micro-batch pair stream
    (run_minhash_pair_stream — intra- + cross-batch pairs, old text never
    rescanned) feeds connected components and keep-min-per-component —
    the corpus a crawl pipeline would actually retain after streaming
    ingest. The accumulated pair table is bit-identical to the batch LSH
    pair set at any micro-batch boundary, so the survivor set rides
    dedup_minhash_survivors_cc's recursive-CTE closure oracle verbatim.
    CC runs on the pair STATE (tiny vs corpus), the loser set anti-joins
    back — no window over the corpus anywhere."""
    import shutil

    from ..operators import dedup as _dedup
    from ..streaming import incremental, sketch_stream
    from . import ensure_read_confs, table_path
    from .pipeline_q import _scratch_dir

    ensure_read_confs(spark)
    path = table_path(sf_dir, "documents")
    schema = spark.read.parquet(path).schema
    docs = incremental._stream_reader(spark, path, schema)
    pairs_state = _scratch_dir(sf_dir, "mh_surv_stream_state")
    index_state = _scratch_dir(sf_dir, "mh_surv_stream_index")
    _wipe_stream_state(pairs_state, pairs_state + "__checkpoint", index_state)
    pairs = sketch_stream.run_minhash_pair_stream(
        docs.select("doc_id", "text"),
        pairs_state,
        index_state,
        min_jaccard=0.5,
        hash_family="md5",
    )
    comp = _dedup.connected_components(pairs.select("id_a", "id_b"))
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    d = load(spark, sf_dir, "documents")
    return d.join(losers, "doc_id", "left_anti").select(
        "doc_id", "lang", "source"
    )


def _register_stream_image_neardup():
    from .llm_ops import _IMAGE_NEARDUP_ORACLE, _synth_ppm_media

    @register(
        "stream_image_neardup",
        oracle=_IMAGE_NEARDUP_ORACLE,
        tags=("L6", "X5", "X2", "U4", "J10", "F7"),
    )
    def stream_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
        """STREAMING multimodal near-dup detection under the FULL exact
        gate (streaming/sketch_stream.run_fingerprint_pair_stream): the
        document stream arrives in micro-batches, each batch is
        synthesized into the SAME PPM corpus as the batch query
        (llm_ops._synth_ppm_media — originals + verbatim replants),
        decoded and aHash-fingerprinted inside the batch, self-paired
        AND probed against the persisted fingerprint index (old media
        never re-decoded; the index holds one bigint per item), and the
        accumulated pair table must be bit-identical to
        multimodal_image_neardup's single-shot pair set — the SAME
        full SQL oracle, now earned by a stream. Batch-boundary
        independence: each media id (mirror included, co-derived with
        its original's row) lives in exactly one batch, so every pair
        is intra- or cross-batch exactly once; replay independence:
        fingerprints are pure functions of the bytes."""
        import shutil

        from ..operators import multimodal as mm
        from ..streaming import incremental, sketch_stream
        from . import ensure_read_confs, table_path
        from .pipeline_q import _scratch_dir

        ensure_read_confs(spark)
        path = table_path(sf_dir, "documents")
        schema = spark.read.parquet(path).schema
        docs = incremental._stream_reader(spark, path, schema)
        pairs_state = _scratch_dir(sf_dir, "img_pair_stream_state")
        index_state = _scratch_dir(sf_dir, "img_pair_stream_index")
        _wipe_stream_state(pairs_state, pairs_state + "__checkpoint", index_state)

        def fp_fn(batch: DataFrame) -> DataFrame:
            media = _synth_ppm_media(batch.filter(F.col("doc_id") < 40))
            return mm.image_ahash(media, bits=16)

        return sketch_stream.run_fingerprint_pair_stream(
            docs.select("doc_id"),
            fp_fn,
            pairs_state,
            index_state,
            max_hamming=3,
            bits=16,
        )


_register_stream_image_neardup()


def _register_stream_embedding_neardup():
    @register(
        "stream_embedding_neardup",
        oracle="""
        SELECT vec_id AS id_a, vec_id + 100000 AS id_b,
               CAST(1.0 AS DOUBLE) AS sim
        FROM embeddings WHERE vec_id % 10 = 0
        """,
        tags=("L6", "X2", "J10", "U3"),
    )
    def stream_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
        """STREAMING embedding near-dup under the planted recall gate —
        the vector leg of the dedup-stream family (text: stream_dedup_*,
        media: stream_image_neardup, now semantic embeddings): vectors
        arrive in micro-batches, every 10th is re-planted in-batch under
        id+100000 (mirror co-derived with its original's row, so each
        id lives in exactly one batch), each batch is self-paired AND
        probed against the persisted hyperplane-bucket signature index
        (streaming/sketch_stream.run_embedding_pair_stream; old vectors
        never re-bucketed), and the accumulated pair table must be the
        planted set at sim 1.0 exactly — identical vectors share every
        table's bucket, so recall is 1 whatever the seeds, while the
        fixture's natural pairs (max cosine ~0.6) can't cross 0.9. Same
        construction, same oracle and same first-agree pipeline as the
        batch query dedup_embedding_pairs_planted; the stream≡batch
        identity across real batch boundaries is pytest-gated
        (tests/test_streaming.py)."""
        import shutil

        from ..streaming import incremental, sketch_stream
        from . import ensure_read_confs, table_path
        from .llm_ops import _planted_domain_guard
        from .pipeline_q import _scratch_dir

        ensure_read_confs(spark)
        path = table_path(sf_dir, "embeddings")
        schema = spark.read.parquet(path).schema
        emb = incremental._stream_reader(spark, path, schema)
        pairs_state = _scratch_dir(sf_dir, "emb_pair_stream_state")
        index_state = _scratch_dir(sf_dir, "emb_pair_stream_index")
        _wipe_stream_state(pairs_state, pairs_state + "__checkpoint", index_state)

        def prep(batch: DataFrame) -> DataFrame:
            planted = batch.filter(F.col("vec_id") % 10 == 0).withColumn(
                "vec_id",
                F.col("vec_id")
                + F.lit(100000)
                + _planted_domain_guard("vec_id"),
            )
            return batch.select("vec_id", "embedding").unionByName(
                planted.select("vec_id", "embedding")
            )

        return sketch_stream.run_embedding_pair_stream(
            emb.select("vec_id", "embedding"),
            prep,
            pairs_state,
            index_state,
            min_sim=0.9,
        ).orderBy("id_a", "id_b")


_register_stream_embedding_neardup()


def _register_stream_embedding_survivors():
    @register(
        "stream_embedding_survivors",
        oracle="SELECT vec_id FROM embeddings",
        tags=("L6", "X2", "J2", "J10", "U3"),
    )
    def stream_embedding_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The streaming-fed FULL vector-dedup capstone (the
        stream_dedup_survivors_cc construction applied to embeddings):
        the micro-batch pair stream (run_embedding_pair_stream — intra-
        plus cross-batch pairs, old vectors never re-bucketed) feeds
        connected components and keep-min-per-component — the vector
        corpus a multimodal crawl pipeline would actually retain after
        streaming ingest. Under the planted construction every
        component is exactly {original, mirror}, so the surviving set
        is precisely the original corpus — recall 1 by theory whatever
        the seeds — and the oracle is the embeddings relation itself.
        CC runs on the pair STATE (tiny vs corpus); the loser set
        anti-joins back — no window over the corpus anywhere."""
        import shutil

        from ..operators import dedup as _dedup
        from ..streaming import incremental, sketch_stream
        from . import ensure_read_confs, table_path
        from .llm_ops import _planted_domain_guard
        from .pipeline_q import _scratch_dir

        ensure_read_confs(spark)
        path = table_path(sf_dir, "embeddings")
        schema = spark.read.parquet(path).schema
        emb = incremental._stream_reader(spark, path, schema)
        pairs_state = _scratch_dir(sf_dir, "emb_surv_stream_state")
        index_state = _scratch_dir(sf_dir, "emb_surv_stream_index")
        _wipe_stream_state(pairs_state, pairs_state + "__checkpoint", index_state)

        def prep(batch: DataFrame) -> DataFrame:
            planted = batch.filter(F.col("vec_id") % 10 == 0).withColumn(
                "vec_id",
                F.col("vec_id")
                + F.lit(100000)
                + _planted_domain_guard("vec_id"),
            )
            return batch.select("vec_id", "embedding").unionByName(
                planted.select("vec_id", "embedding")
            )

        pairs = sketch_stream.run_embedding_pair_stream(
            emb.select("vec_id", "embedding"),
            prep,
            pairs_state,
            index_state,
            min_sim=0.9,
        )
        comp = _dedup.connected_components(pairs.select("id_a", "id_b"))
        losers = comp.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias("vec_id")
        )
        e = load(spark, sf_dir, "embeddings")
        corpus = e.select("vec_id").unionByName(
            e.filter(F.col("vec_id") % 10 == 0).select(
                (
                    F.col("vec_id")
                    + F.lit(100000)
                    + _planted_domain_guard("vec_id")
                ).alias("vec_id")
            )
        )
        return corpus.join(losers, "vec_id", "left_anti").orderBy("vec_id")


_register_stream_embedding_survivors()


def _register_stream_bm25_index():
    from .llm_ops import _BM25_BATCH_ORACLE, _BM25_BATCH_QUERIES

    @register(
        "stream_bm25_index",
        oracle=_BM25_BATCH_ORACLE,
        tags=("L6", "X4", "SNK1", "L3"),
    )
    def stream_bm25_index(spark: SparkSession, sf_dir: str) -> DataFrame:
        """STREAMING BM25 index maintenance under the batch oracle — the
        lexical leg of the index-upkeep stream family (minhash sigs,
        embedding sigs, now the inverted index): documents arrive as a
        file-source stream, each micro-batch builds a batch-id-keyed
        DELTA index (overwrite ⇒ re-delivered batches rewrite the same
        integers, exactly-once by idempotence), bm25_merge_many folds
        the deltas once at the end, and the THREE probe queries are
        served from the folded index. Everything persisted is an exact
        integer, so the streamed lifecycle must rank value-identically
        to bm25_batch_queries' fresh single-batch build — the SAME
        oracle that gates bm25_persisted_batch/bm25_compacted_nway now
        gates ingest-time maintenance; multi-batch boundaries and
        replay are pytest-forced (tests/test_streaming.py)."""
        from ..operators import textstats as ts
        from ..streaming import incremental, sketch_stream
        from . import ensure_read_confs, table_path
        from .pipeline_q import _scratch_dir

        ensure_read_confs(spark)
        path = table_path(sf_dir, "documents")
        schema = spark.read.parquet(path).schema
        docs = incremental._stream_reader(spark, path, schema)
        base = _scratch_dir(sf_dir, "bm25_stream_index")
        _wipe_stream_state(base, base + "__checkpoint")

        idx = sketch_stream.run_bm25_index_stream(
            docs.select("doc_id", "text"), lambda b: b, base
        )
        rows = [(q, t) for q, terms in _BM25_BATCH_QUERIES for t in terms]
        queries = spark.createDataFrame(rows, "query_id int, term string")
        return ts.bm25_search_index(spark, idx, queries, k=5)


_register_stream_bm25_index()


@register(
    "stream_snapshot_cdc",
    oracle="""
    SELECT user_id, event_type, ts, value
    FROM (
      SELECT user_id, event_type, ts, value,
             row_number() OVER (
               PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC
             ) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    tags=("L6", "L2", "L3", "SNK3", "W2"),
)
def stream_snapshot_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-apply INTO the versioned snapshot table (r11 — streaming/cdc.
    run_snapshot_cdc_stream): the event stream folds into a
    latest-row-per-user table where each micro-batch lands as ONE
    file-granular copy-on-write MERGE version whose manifest carries
    the batch id (exactly-once marker and upsert share one atomic
    rename). Winners are resolved against the table's current rows for
    the incoming keys, so out-of-order delivery ACROSS batches cannot
    regress a key — the final state equals the relational arg-max the
    oracle computes, regardless of micro-batch boundaries (1-file
    batching, cross-batch staleness, time travel and replay idempotence
    are pytest-forced in tests/test_streaming.py). vs the whole-state CDC
    (stream_cdc_latest_value): per-batch cost is O(touched files) via
    the manifests' key-range stats, not a whole-state rewrite, and
    every batch's state stays time-travelable."""
    import shutil

    from ..streaming import cdc, incremental
    from .pipeline_q import _scratch_dir

    base = _scratch_dir(sf_dir, "snapshot_cdc_events")
    shutil.rmtree(base, ignore_errors=True)
    shutil.rmtree(base + "__checkpoint", ignore_errors=True)
    out = cdc.run_snapshot_cdc_stream(
        incremental.read_events_stream(spark, sf_dir),
        base,
        keys=["user_id"],
        order_cols=["ts", "event_id"],
    )
    return out.select("user_id", "event_type", "ts", "value")


@register(
    "stream_cdc_tombstones",
    oracle="""
    SELECT user_id, event_type, ts, value
    FROM (
      SELECT user_id, event_type, ts, value,
             row_number() OVER (
               PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC
             ) AS rn
      FROM events
    ) WHERE rn = 1 AND event_type <> 'error'
    """,
    tags=("L6", "L2", "L3", "SNK3", "W2", "F6"),
)
def stream_cdc_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL CDC apply with DELETES (r12 — snapshot_merge delete_col):
    the event stream folds into the latest-row-per-user snapshot table,
    treating 'error' events as delete ops — a user whose ARG-MAX event
    is an error is REMOVED from the table (tombstone-aware MERGE: the
    upserts and deletes of each micro-batch share one atomic manifest
    rename), while an error that loses to a newer live event deletes
    nothing, exactly like any stale row. The oracle is the relational
    arg-max with tombstoned winners filtered out (30 of 150 users at
    sf0.01). Hard-delete ordering contract: a delete only wins keys
    whose newer events are in its own or earlier batches — per-key
    cross-batch regressions re-insert (the documented CDC trade;
    retain a soft-delete column instead when feeds are unordered) —
    deterministic here because the fixture drains as one
    availableNow batch."""
    import shutil

    import pyspark.sql.functions as F

    from ..streaming import cdc, incremental
    from .pipeline_q import _scratch_dir

    base = _scratch_dir(sf_dir, "snapshot_cdc_tomb_events")
    shutil.rmtree(base, ignore_errors=True)
    shutil.rmtree(base + "__checkpoint", ignore_errors=True)
    stream = incremental.read_events_stream(spark, sf_dir).withColumn(
        "__del", F.col("event_type") == "error"
    )
    out = cdc.run_snapshot_cdc_stream(
        stream,
        base,
        keys=["user_id"],
        order_cols=["ts", "event_id"],
        delete_col="__del",
    )
    return out.select("user_id", "event_type", "ts", "value")
