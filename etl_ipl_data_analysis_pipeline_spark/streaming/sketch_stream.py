"""Streaming state maintenance (L6 × sketches): fold each micro-batch
into persisted state with ``foreachBatch``.

- :func:`_fold_stream` — one fold for the idempotent states: KMV
  bottom-k sketches, Bloom word tables and the MinHash signature index.
  The rollup every monitoring pipeline wants ("distinct users so far")
  is maintained as the stream drains, answerable at any moment from
  O(k) rows per group without touching history. Each merge is
  associative, commutative and idempotent, so the final state is
  independent of micro-batch boundaries — and because the states are
  deterministic SETs of md5 hashes, bits or signatures, the streamed
  result is bit-identical to a single-shot batch build, which puts the
  whole streaming path under the exact-hash oracle gate.
- :func:`run_count_stream` — additive counts, made exactly-once by a
  batch-id marker.
- :func:`_run_pair_stream` — one runner for the three near-duplicate
  pair streams (text MinHash, media fingerprints, embeddings).
- :func:`run_bm25_index_stream` — per-batch delta indexes, folded once.

State writes go through io.overwrite_parquet, which lands the new state
and removes the old in one manifest commit, and every stream here drains
through incremental.drain.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..io import overwrite_parquet, recover
from ..operators import sketches
from .incremental import drain, fold_into


def _fold_stream(
    stream_df: DataFrame, state_path: str, build, merge
) -> DataFrame:
    """Drain ``stream_df``, folding each micro-batch's ``build(batch)``
    into the state at ``state_path`` with ``merge(current, incoming)``;
    returns the final state. ``merge`` must be associative, commutative
    and idempotent — then the state is independent of micro-batch
    boundaries and a replayed batch changes nothing, so no batch marker
    is needed. A source that yielded zero micro-batches never wrote
    state: the result is then ``build`` of an empty batch, the exact
    state schema, instead of a read that raises on a missing path."""
    drain(
        stream_df,
        lambda batch, _batch_id: fold_into(build(batch), state_path, merge),
        state_path.rstrip("/") + "__checkpoint",
    )
    spark = stream_df.sparkSession
    if recover(spark, state_path):
        return spark.read.parquet(state_path)
    return build(spark.createDataFrame([], stream_df.schema))


def run_kmv_stream(
    stream_df: DataFrame,
    state_path: str,
    col: str,
    keys: list[str] | None = None,
) -> DataFrame:
    """Drain ``stream_df`` with Trigger.AvailableNow, folding each
    micro-batch's bottom-k (``sketches.KMV_K``) partial into the state table at
    ``state_path``; returns the final sketch state. Per batch: the
    partial build reduces the batch to <= k rows per group BEFORE the
    merge, so the union never carries raw events — O(batch) reduction
    plus O(k·groups) merge, never O(history)."""
    keys = list(keys or [])
    return _fold_stream(
        stream_df,
        state_path,
        lambda batch: sketches.kmv_build(batch, col, keys=keys),
        lambda current, incoming: sketches.kmv_merge([current, incoming], keys=keys),
    )


#: constant marker column persisted WITH the count state in the same
#: commit: the id of the last batch folded in. Summation is additive
#: (NOT idempotent), so foreachBatch's at-least-once replay — crash after
#: the state commit but before the checkpoint commits — would double-count
#: without it.
_BATCH_MARKER = "__last_batch_id"


def _merge_count_batch(
    batch: DataFrame,
    batch_id: int,
    state_path: str,
    keys: list[str],
    count_col: str,
) -> None:
    """Fold one micro-batch into the persisted count table, exactly once:
    the state carries the last applied batch id in every row (written in
    the SAME commit as the counts, so marker and counts can never
    disagree), and a batch whose id EQUALS the stored marker is a no-op —
    the replay-after-crash case the additive merge can't absorb on its
    own (the checkpoint can only re-deliver the one batch whose commit
    didn't land, so a legitimate replay id is exactly the marker). A
    batch id strictly BELOW the marker is not a replay — it means the
    checkpoint directory was reset while the state parquet survived, so
    batch numbering restarted and silently no-op'ing would freeze the
    state forever; that case raises. State and checkpoint must share a
    lifetime: delete both together or neither. Module-level (not a
    closure) so replay semantics are directly unit-testable."""
    incoming = batch.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias(count_col)
    )
    sess = batch.sparkSession
    if recover(sess, state_path):
        current = sess.read.parquet(state_path)
        if _BATCH_MARKER in current.columns:
            last = current.select(F.max(_BATCH_MARKER)).first()[0]
            if last is not None and batch_id == last:
                return  # at-least-once replay of an already-applied batch
            if last is not None and batch_id < last:
                raise RuntimeError(
                    f"run_count_stream: batch id regressed ({batch_id} < "
                    f"stored marker {last}) at {state_path!r} — the stream "
                    "checkpoint was reset while the state parquet survived. "
                    "Silently skipping would freeze the state; delete the "
                    "state and its __checkpoint together and restart."
                )
            current = current.drop(_BATCH_MARKER)
        merged = (
            current.unionByName(incoming)
            .groupBy(*keys)
            .agg(F.sum(count_col).cast("long").alias(count_col))
        )
    else:
        merged = incoming
    overwrite_parquet(
        merged.withColumn(_BATCH_MARKER, F.lit(batch_id).cast("long")), state_path
    )


def run_count_stream(
    stream_df: DataFrame,
    state_path: str,
    keys: list[str],
    count_col: str = "n_occurrences",
) -> DataFrame:
    """Maintain an additive count table from a stream with
    ``foreachBatch``: each micro-batch reduces to one row per key group
    (O(batch), map-side combined) and merges into the persisted state by
    summing — integer addition is associative and commutative, so the
    final table is bit-identical to a single-shot batch groupBy-count
    whatever the micro-batch boundaries. Unlike the OR-idempotent bloom
    and bottom-k KMV twins, summation is NOT replay-safe, so the state
    carries a last-applied batch-id marker written in the same commit
    and re-delivered batches are skipped (see _merge_count_batch) —
    exactly-once effective semantics under foreachBatch's at-least-once
    contract. Per batch: O(batch) reduction + O(state) merge, never
    O(history). The KMV twin above maintains a bounded sketch; this
    maintains the exact table — the incremental shape of vocabulary /
    n-gram LM count upkeep, where min-count pruning must happen at READ
    time (pruning during maintenance would drop counts that later
    accumulate past the threshold)."""
    drain(
        stream_df,
        lambda batch, batch_id: _merge_count_batch(
            batch, batch_id, state_path, keys, count_col
        ),
        state_path.rstrip("/") + "__checkpoint",
    )
    spark = stream_df.sparkSession
    if recover(spark, state_path):
        state = spark.read.parquet(state_path)
        return state.drop(_BATCH_MARKER)
    return (
        spark.createDataFrame([], stream_df.schema)
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).cast("long").alias(count_col))
    )


def run_bloom_stream(
    stream_df: DataFrame,
    state_path: str,
    key_col: str,
    num_bits: int = 4096,
    num_hashes: int = 3,
) -> DataFrame:
    """Maintain a Bloom word table (operators/bloom.py) from a stream
    with ``foreachBatch``: each micro-batch builds its own word table
    (O(batch) reduction to <= num_bits/64 rows) and ORs it into the
    persisted state. Bitwise OR is associative, commutative AND
    idempotent — replayed batches cannot corrupt the filter — so the
    final table is bit-identical to a single-shot batch build whatever
    the micro-batch boundaries (or their retries), putting streamed
    membership state under the exact-hash gate. Per batch: O(batch) +
    O(num_bits/64) merge, never O(history)."""
    from ..operators import bloom

    return _fold_stream(
        stream_df,
        state_path,
        lambda batch: bloom.bloom_build(batch, key_col, num_bits, num_hashes),
        lambda current, incoming: current.unionByName(incoming)
        .groupBy("word_idx")
        .agg(F.bit_or("word").alias("word")),
    )


def run_sig_index_stream(
    stream_df: DataFrame,
    state_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "md5",
) -> DataFrame:
    """Maintain the MinHash SIGNATURE INDEX (dedup.minhash_sig_index —
    the cross-snapshot dedup state) from a document stream with
    ``foreachBatch``: each micro-batch is tokenized/shingled/hashed
    exactly once into (doc_id, sig) rows, which merge into the persisted
    index by id. A signature is a PURE FUNCTION of the document text, so
    a replayed batch re-derives bit-identical rows and the id-dedup
    absorbs it — idempotent like the Bloom OR, no batch marker needed —
    and the final index is bit-identical to a single-shot batch build
    whatever the micro-batch boundaries. This is the ingest half of the
    crawl-N+1 dedup loop: dedup.minhash_incremental_pairs probes new
    batches against this state without ever rescanning old text.

    Contract: ``id_col`` identifies a document — re-delivering an id
    with DIFFERENT text is an upstream bug this operator resolves
    arbitrarily (one of the signatures wins).

    Per batch: O(batch text) signature build + O(state) id-dedup merge,
    never O(history) re-hash."""
    from ..operators.dedup import minhash_sig_index

    return _fold_stream(
        stream_df,
        state_path,
        lambda batch: minhash_sig_index(
            batch, text_col, id_col, hash_family=hash_family
        ),
        lambda current, incoming: current.unionByName(incoming).dropDuplicates(
            [id_col]
        ),
    )


def _run_pair_stream(
    stream_df: DataFrame,
    pairs_path: str,
    index_path: str,
    id_col: str,
    prep,
    intra,
    cross,
    sigs,
    empty_schema: str | None = None,
) -> DataFrame:
    """The near-duplicate stream behind the three pair streams below.
    Per micro-batch: ``rows = prep(batch)``; (1) ``intra(rows)``
    self-pairs the batch (id_a, id_b, score); (2) ``cross(rows, index)``
    probes the persisted index at ``index_path`` for (new_id, old_id,
    score) pairs against every EARLIER batch, whose raw content is never
    touched again; (3) both fold into the pair table at ``pairs_path``,
    cross pairs normalized to (least, greatest); (4) ``sigs(rows)``
    merges into the index by ``id_col``. Every pair of the corpus is
    either intra-batch or cross-batch exactly once, so the accumulated
    pair table is IDENTICAL to the single-shot batch pair set whatever
    the micro-batch boundaries — the batch-boundary-independence
    contract that puts a streaming dedup under the same oracle as its
    batch operator.

    Replay safety without a batch marker: pairs and index rows are pure
    functions of content, ``cross`` drops self-pairs, and both merges
    dedup by key — so a re-delivered batch (even one whose index merge
    landed but whose checkpoint commit did not) re-derives rows the
    distinct absorbs. Per batch: O(batch) hashing + banded joins sized
    by the batch and its true matches + O(state) key-dedup merges;
    never O(history) content.

    A source that yielded zero micro-batches returns an empty frame of
    ``empty_schema``, or when that is None the intra pairs of an empty
    batch."""

    def apply_batch(batch: DataFrame, _batch_id: int) -> None:
        sess = batch.sparkSession
        rows = prep(batch)
        new_pairs = intra(rows)
        have_index = recover(sess, index_path)
        if have_index:
            index = sess.read.parquet(index_path)
            found = cross(rows, index)
            new_pairs = new_pairs.unionByName(
                found.select(
                    F.least("new_id", "old_id").alias("id_a"),
                    F.greatest("new_id", "old_id").alias("id_b"),
                    *found.columns[2:],
                )
            )
        fold_into(
            new_pairs,
            pairs_path,
            lambda cur, new: cur.unionByName(new).dropDuplicates(["id_a", "id_b"]),
        )
        new_index = sigs(rows)
        if have_index:
            new_index = index.unionByName(new_index).dropDuplicates([id_col])
        overwrite_parquet(new_index, index_path)

    drain(stream_df, apply_batch, pairs_path.rstrip("/") + "__checkpoint")
    spark = stream_df.sparkSession
    if recover(spark, pairs_path):
        return spark.read.parquet(pairs_path)
    if empty_schema is not None:
        return spark.createDataFrame([], empty_schema)
    return intra(prep(spark.createDataFrame([], stream_df.schema)))


def run_minhash_pair_stream(
    stream_df: DataFrame,
    pairs_path: str,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_jaccard: float = 0.7,
    hash_family: str = "md5",
) -> DataFrame:
    """END-TO-END streaming near-duplicate detection over documents
    (:func:`_run_pair_stream`): the batch self-pairs through
    dedup.minhash_near_dup_pairs, probes the persisted signature index
    through dedup.minhash_incremental_pairs (old text never rescanned),
    and merges its dedup.minhash_sig_index rows into that index. With
    hash_family='md5' the accumulated pair table sits under the same
    mhpairs oracle CTE as dedup_minhash_pairs."""
    from ..operators import dedup

    return _run_pair_stream(
        stream_df,
        pairs_path,
        index_path,
        id_col,
        lambda batch: batch,
        lambda docs: dedup.minhash_near_dup_pairs(
            docs, text_col, id_col, min_jaccard=min_jaccard,
            hash_family=hash_family,
        ),
        lambda docs, index: dedup.minhash_incremental_pairs(
            docs, index, text_col, id_col, min_jaccard=min_jaccard,
            hash_family=hash_family,
        ).filter(F.col("new_id") != F.col("old_id")),
        lambda docs: dedup.minhash_sig_index(
            docs, text_col, id_col, hash_family=hash_family
        ),
    )


def run_fingerprint_pair_stream(
    stream_df: DataFrame,
    fp_fn,
    pairs_path: str,
    index_path: str,
    id_col: str = "media_id",
    fp_col: str = "ahash",
    max_hamming: int = 3,
    bits: int = 16,
) -> DataFrame:
    """Streaming PERCEPTUAL-HASH near-dup detection
    (:func:`_run_pair_stream`): ``fp_fn`` turns the raw batch into an
    (id, fingerprint) relation (decode + image_ahash — the only place
    media bytes are touched); the batch self-pairs through
    dedup.fingerprint_near_dup_pairs, probes the persisted fingerprint
    index through dedup.fingerprint_incremental_pairs (old media never
    re-decoded), and its fingerprints merge into that index — one bigint
    per media item, never the bytes. The integer aHash is a pure
    function of the media bytes, so the streamed result sits under the
    SAME full SQL oracle as the batch query."""
    from ..operators import dedup

    return _run_pair_stream(
        stream_df,
        pairs_path,
        index_path,
        id_col,
        lambda batch: fp_fn(batch).select(id_col, fp_col),
        lambda fps: dedup.fingerprint_near_dup_pairs(
            fps, id_col=id_col, fp_col=fp_col, max_hamming=max_hamming, bits=bits
        ),
        lambda fps, index: dedup.fingerprint_incremental_pairs(
            fps, index, id_col=id_col, fp_col=fp_col,
            max_hamming=max_hamming, bits=bits,
        ).filter(F.col("new_id") != F.col("old_id")),
        lambda fps: fps,
        "id_a bigint, id_b bigint, hamming int",
    )


def run_embedding_pair_stream(
    stream_df: DataFrame,
    prep_fn,
    pairs_path: str,
    index_path: str,
    min_sim: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Streaming EMBEDDING near-dup detection (:func:`_run_pair_stream`):
    ``prep_fn`` turns the raw batch into an (id, vector) relation; the
    batch self-pairs through similarity.embedding_near_dup_pairs, probes
    the persisted hyperplane-bucket index through
    similarity.embedding_incremental_pairs (old vectors are never
    re-bucketed: their build-time bucket arrays ride the index), and its
    similarity.embedding_sig_index rows merge into that index. Both legs
    share one signature definition and one band join, which is what lets
    a planted-duplicate gate (recall 1 for exact copies, whatever the
    seeds) hold for the STREAM exactly as it does for the batch
    operator. Per batch: one Arrow matmul pass of bucketing."""
    from ..operators import similarity

    return _run_pair_stream(
        stream_df,
        pairs_path,
        index_path,
        id_col,
        lambda batch: prep_fn(batch).select(id_col, vec_col),
        lambda vecs: similarity.embedding_near_dup_pairs(
            vecs, min_sim, id_col, vec_col
        ),
        lambda vecs, index: similarity.embedding_incremental_pairs(
            vecs, index, min_sim, id_col, vec_col
        ),
        lambda vecs: similarity.embedding_sig_index(vecs, id_col, vec_col),
        "id_a bigint, id_b bigint, sim double",
    )


def run_bm25_index_stream(
    stream_df: DataFrame,
    prep_fn,
    index_base: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """Streaming BM25 index maintenance — the LEXICAL leg of the
    index-upkeep family (minhash sig index, embedding sig index, now the
    inverted index): each micro-batch of documents is built into its own
    small DELTA index (textstats.bm25_build_index — the one
    tokens-sized shuffle paid per batch, on the batch only), and after
    the stream drains every delta is folded ONCE by
    textstats.bm25_merge_many into ``index_base/current`` — postings
    union, dfreq/stats sums, no text ever re-tokenized, cost scaling
    with the sum of delta sizes, never the corpus. Returns the
    servable index path (bm25_search_index-compatible).

    Exactly-once without markers: the delta path is KEYED BY BATCH ID
    (``delta_<id>``) and written with mode=overwrite, so a re-delivered
    batch rewrites the same delta with the same integers — idempotent by
    construction, the simplest member of the family's replay-safety
    toolkit (dedup-by-key merges, associative sketches, batch-id
    markers). The disjoint-doc_id contract of bm25_merge_many carries
    over: upstream dedup (the ledger) must route each doc into exactly
    one batch, exactly as for minhash_sig_index appends.

    The fold enumerates ``delta_*`` ON DISK, not just this run's
    batches: a checkpointed RESUME (earlier batches committed by a
    previous run, only the tail re-processed) must fold the whole
    lineage, and a restart that finds no new input must still serve
    the previously-built deltas rather than fail.

    Because everything persisted is an exact integer, searching the
    folded index is value-identical to one built from the concatenated
    corpus in a single batch — the stream≡batch identity holds whatever
    the micro-batch boundaries (pytest-forced 1-doc batches + replay)
    and the full streaming lifecycle sits under the SAME batch oracle
    as bm25_persisted_batch/bm25_compacted_nway."""
    from ..io import _fs_and_path
    from ..operators import textstats as ts

    base = index_base.rstrip("/")

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        docs = prep_fn(batch).select(id_col, text_col)
        if docs.limit(1).count() == 0:
            return
        ts.bm25_build_index(
            docs,
            f"{base}/delta_{int(batch_id):08d}",
            id_col=id_col,
            text_col=text_col,
        )

    drain(stream_df, apply_batch, base + "__checkpoint")
    spark = stream_df.sparkSession
    fs, root, jvm = _fs_and_path(spark, base)
    paths = sorted(
        f"{base}/{st.getPath().getName()}"
        for st in (fs.listStatus(root) if fs.exists(root) else [])
        if st.isDirectory() and st.getPath().getName().startswith("delta_")
    )
    if not paths:
        raise ValueError("bm25 index stream saw no documents")
    if len(paths) == 1:
        return paths[0]
    out = base + "/current"
    ts.bm25_merge_many(spark, paths, out)
    return out
