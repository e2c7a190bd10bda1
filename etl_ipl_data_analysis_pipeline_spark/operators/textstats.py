"""Text analysis operators (SURVEY.md §2.11 X4): language-ID, quality
scoring, token counting, document fingerprinting.

All pure column expressions — a 100 TB corpus profile is one narrow pass +
one small aggregate; nothing leaves the JVM.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..functions import normalized_text, token_count

# Tiny per-language stopword marker sets for the n-gram/stopword heuristic.
# Real pipelines plug fastText/CLD3 in via pandas_udf; the heuristic keeps
# the operator dependency-free and deterministic.
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "fr": ("le", "la", "les", "et", "est", "une", "dans"),
    "es": ("el", "la", "los", "de", "que", "es", "una"),
}


def _marker_ratio(tokens, markers: tuple[str, ...]):
    hits = F.size(F.filter(tokens, lambda t: t.isin(*[F.lit(m) for m in markers])))
    return hits.cast("double") / F.greatest(F.size(tokens), F.lit(1)).cast("double")


def lang_id(text):
    """Stopword-marker language guess: highest marker-hit ratio wins;
    'und' (undetermined) when nothing matches."""
    tokens = F.split(normalized_text(text), " ")
    scores = [(lang, _marker_ratio(tokens, m)) for lang, m in _LANG_MARKERS.items()]
    best_score = F.greatest(*[s for _, s in scores])
    guess = F.lit("und")
    # reversed so earlier languages win ties deterministically
    for lang, score in reversed(scores):
        guess = F.when((score == best_score) & (best_score > 0), lang).otherwise(guess)
    return guess


def text_quality(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document quality signals: length, token count, mean word length,
    alpha/space/punct ratios, uppercase ratio, and a composite score in
    [0,1]. Heuristics follow the public Gopher/C4-style filters (length and
    symbol-ratio gates). ``keep`` names extra columns passed through
    untouched (e.g. a grouping key for corpus_profile)."""
    text = F.col(text_col)
    n_chars = F.length(text)
    n_tokens = token_count(text)
    n_alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    n_digit = F.length(F.regexp_replace(text, r"[^0-9]", ""))
    n_space = F.length(F.regexp_replace(text, r"[^ \t\n]", ""))
    n_punct = n_chars - n_alpha - n_digit - n_space
    safe_chars = F.greatest(n_chars, F.lit(1)).cast("double")
    mean_word_len = (n_chars - n_space).cast("double") / F.greatest(n_tokens, F.lit(1)).cast(
        "double"
    )
    alpha_ratio = n_alpha.cast("double") / safe_chars
    punct_ratio = n_punct.cast("double") / safe_chars
    # Composite: reward alpha-heavy, mid-length docs; punish punctuation soup.
    score = (
        F.least(n_tokens.cast("double") / F.lit(50.0), F.lit(1.0)) * 0.4
        + alpha_ratio * 0.4
        + (1.0 - F.least(punct_ratio * 5.0, F.lit(1.0))) * 0.2
    )
    return df.select(
        *keep,
        F.col(id_col),
        n_chars.alias("n_chars_m"),
        n_tokens.alias("n_tokens"),
        F.round(mean_word_len, 4).alias("mean_word_len"),
        F.round(alpha_ratio, 4).alias("alpha_ratio"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(score, 4).alias("quality_score"),
    )


_FP_MOD = 2_147_483_647  # 2^31 - 1 (Mersenne prime)


def doc_fingerprint(text, hash_family: str = "xx"):
    """Polynomial rolling hash over normalized tokens — an order-sensitive
    fingerprint (reordered text fingerprints differently, unlike a
    bag-of-words hash). fp = Σ hash(tok_i)·31^i mod (2^31-1); operands stay
    below 2^31 so products never overflow ANSI bigint arithmetic.

    ``hash_family="md5"`` swaps the xxhash64 token hash for the portable
    md5-derived one (functions.portable_hash31, salted ":42"): the
    rolling combination is already pure modular arithmetic, so the
    fingerprint becomes an exact cross-engine function of the text —
    the DuckDB oracle replays Σ h_i·31^i mod p over unnested tokens with
    a recursive power table."""
    from ..functions import portable_hash31

    toks = F.split(normalized_text(text), " ")
    mod = F.lit(_FP_MOD)
    if hash_family == "md5":
        tok_hash = lambda t: portable_hash31(t, ":42")  # noqa: E731
    else:
        tok_hash = lambda t: F.pmod(F.xxhash64(t, F.lit(42)), mod)  # noqa: E731
    return F.aggregate(
        toks,
        F.struct(F.lit(0).cast("long").alias("h"), F.lit(1).cast("long").alias("p")),
        lambda acc, t: F.struct(
            F.pmod(acc["h"] + tok_hash(t) * acc["p"], mod).alias("h"),
            F.pmod(acc["p"] * F.lit(31), mod).alias("p"),
        ),
        lambda acc: acc["h"],
    )


def corpus_profile(df: DataFrame, text_col: str = "text", group_col: str | None = None) -> DataFrame:
    """Aggregate corpus statistics (optionally per group): doc counts, token
    totals, length distribution quantiles — the summary a data curator reads
    before/after each filtering stage. One narrow pass + one small
    aggregate; no self-join (the grouping key rides through text_quality).

    Float discipline (oracle twin): token avg divides the exact integer sum
    in double; quality avg decimal-sums the per-doc 4-dp-rounded scores so
    summation order can't flip the rounded result; the median is sort-based
    (deterministic in both engines)."""
    from ..functions import stable_avg_long

    keys = [group_col] if group_col else []
    q = text_quality(df, text_col=text_col, id_col=df.columns[0], keep=tuple(keys))
    return q.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        stable_avg_long("n_tokens", 4).alias("avg_tokens"),
        F.round(F.expr("percentile(n_chars_m, 0.5)"), 4).alias("med_chars"),
        F.round(
            F.sum(F.col("quality_score").cast("decimal(38,10)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("avg_quality"),
    )


def _gram_base(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, non-empty normalized tokens) — materialized column first so the
    HOF gram lambda never re-runs the tokenizer per element (the measured
    30x trap, README scale notes). Parallelism-floored: the tokenize +
    gram explode that every consumer builds on is narrow, and a few-split
    input would run it on a few cores while the rest idle (no-op at scale
    — see functions.floor_parallelism)."""
    from ..functions import floor_parallelism
    from .dedup import tokens

    df = floor_parallelism(df, id_col)
    return df.select(
        F.col(id_col), tokens(text_col).alias("__t")
    ).select(
        F.col(id_col), F.filter("__t", lambda t: t != F.lit("")).alias("__t")
    )


def ngram_counts(
    df: DataFrame,
    n: int = 3,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide word n-gram counts with min-count pruning — the LM-prep
    / boilerplate-mining table (KenLM count files, C4-style "most common
    3-grams" analyses): (gram, n_occurrences, n_docs).

    Scale: one explode (narrow, ~tokens-per-doc fanout), then the
    standard two-phase distinct-count shape — a (gram, doc)-keyed
    exchange that collapses duplicates map-side, and a gram-keyed final
    aggregate (both partial-aggregated; verified in the executed plan).
    Pruning happens at the aggregate (HAVING), so rare grams cost a
    partial-agg cell but never a second pass. Gram keys are ~uniform
    (natural-language n-grams), so no salting needed; the hottest gram
    reduces counts, not payloads."""
    from .curation import _contiguous_grams

    base = _gram_base(df, id_col, text_col)
    grams = base.select(
        F.col(id_col), F.explode(_contiguous_grams("__t", n)).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct(id_col).alias("n_docs"),
        )
        .filter(F.col("n_occurrences") >= min_count)
    )


def gram_novelty(
    df: DataFrame,
    n: int = 3,
    common_df: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document novelty score: the fraction of a document's DISTINCT
    word n-grams that are corpus-rare (document frequency < common_df) —
    high novelty flags fresh content, low novelty flags boilerplate /
    template text. The quality-signal twin of benchmark decontamination
    (same distinct-gram machinery, corpus-internal instead of
    corpus-vs-benchmark).

    Scale: distinct (doc, gram) pairs feed BOTH the doc-frequency
    aggregate and the join probe, from one lazily checkpointed tokenize
    pass (the two copies never canonicalize equal, see below). Two
    gram-keyed shuffles + one doc-keyed aggregate; everything integer
    until the single rounded ratio, so the oracle twin is exact."""
    from .curation import _contiguous_grams

    base = _gram_base(df, id_col, text_col)
    # ONE physical tokenize pass for the gram-frequency table and the
    # per-doc probe: the probe copy acquires the final left join's
    # inferred isnotnull(id) while the frequency copy has id pruned
    # away, so the subtrees never canonicalize equal and each consumer
    # re-planned its own corpus scan+tokenize (2 text scans,
    # plan-verified) — the lm_surprisal sharing, pinned physically
    base = base.localCheckpoint(eager=False)
    dg = base.select(
        F.col(id_col),
        F.explode(F.array_distinct(_contiguous_grams("__t", n))).alias("gram"),
    )
    freq = dg.groupBy("gram").agg(F.count(F.lit(1)).alias("__df"))
    per_doc = (
        dg.join(freq, "gram")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("__df") >= common_df).cast("int")).alias("n_common"),
        )
    )
    ng = F.coalesce("n_grams", F.lit(0))
    nc = F.coalesce("n_common", F.lit(0))
    return df.select(id_col).join(per_doc, id_col, "left").select(
        F.col(id_col),
        ng.alias("n_grams"),
        nc.alias("n_common"),
        (
            F.floor(
                (ng - nc).cast("double") / F.greatest(ng, F.lit(1)) * 1e4
                + F.lit(0.5)
            )
            / 1e4
        ).alias("novelty"),
    )


def _terms(text_col: str):
    """A document's non-empty normalized tokens (array<string>) — the one
    tokenization BM25, its persisted index and chi_square_drift share."""
    return F.filter(
        F.split(normalized_text(F.col(text_col)), " "), lambda t: t != F.lit("")
    )


def _bm25_tables(
    df: DataFrame, id_col: str, text_col: str, hits=lambda occ: occ
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The BM25 tables ``(tf, dfreq, stats)`` over the documents with at
    least one token, built here for every BM25 caller. ``tf`` is
    (id_col, term, __tf, __dl) over the (doc, __dl, term) occurrences
    ``hits`` keeps — a search's query-term filter, or every term for
    bm25_build_index's postings; ``dfreq`` is (term, __df) over those
    terms; ``stats`` is the 1-row (__n_docs, __sum_dl) of the whole
    corpus, hit or not."""
    docs = (
        df.select(F.col(id_col), _terms(text_col).alias("__t"))
        .withColumn("__dl", F.size("__t"))
        .filter(F.col("__dl") > 0)
    )
    stats = docs.agg(
        F.count(F.lit(1)).alias("__n_docs"), F.sum("__dl").alias("__sum_dl")
    )
    occ = docs.select(id_col, "__dl", F.explode("__t").alias("term"))
    tf = hits(occ).groupBy(id_col, "term").agg(
        F.count(F.lit(1)).alias("__tf"), F.first("__dl").alias("__dl")
    )
    # the filter is vacuously true (a tf row exists only with >= 1 hit
    # and a positive doc length) but it references BOTH aggregate
    # outputs, which stops column pruning from rewriting this branch's
    # copy of the tf aggregate without first(__dl) — a rewrite that
    # de-canonicalizes the subtree and re-plans the whole corpus
    # scan+tokenize+hits pipeline for the document-frequency count
    # (plan-verified: without it, one more job and one more corpus scan;
    # the remaining second corpus pass is the full-corpus stats, the
    # documented ad-hoc cost)
    dfreq = (
        tf.filter((F.col("__tf") >= 1) & F.col("__dl").isNotNull())
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("__df"))
    )
    return tf, dfreq, stats


def _bm25_per_term(tf, dfreq, stats, id_col: str, *keep: str) -> DataFrame:
    """(id_col, *keep, __s): every tf row's rational-idf BM25 term score
    (see bm25_top_docs), floor-rounded to 4dp as DECIMAL(14,4)."""
    num = (
        F.lit(22) * F.col("__tf") * F.col("__sum_dl") * (2 * F.col("__n_docs") + 2)
    )
    den = (
        F.lit(10) * F.col("__tf") * F.col("__sum_dl")
        + F.lit(3) * F.col("__sum_dl")
        + F.lit(9) * F.col("__dl") * F.col("__n_docs")
    ) * (2 * F.col("__df") + 1)
    return (
        tf.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(stats))
        .select(
            id_col,
            *keep,
            (F.floor(num.cast("double") / den * 1e4 + F.lit(0.5)) / 1e4)
            .cast("decimal(14,4)")
            .alias("__s"),
        )
    )


def bm25_top_docs(
    df: DataFrame,
    query_terms: Sequence[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
) -> DataFrame:
    """BM25 lexical retrieval: rank documents against a fixed query-term
    set and return the top ``k`` with their scores — the sparse half of
    every hybrid (BM25 + embedding) retrieval stack, and the standard
    quality filter for "does this document actually talk about X" corpus
    slicing.

    Scoring is Okapi BM25 with k1 = 6/5, b = 3/4 and the +1-smoothed
    idf's ARGUMENT kept rational instead of log-transformed:

        idf'(t)        = (2N + 2) / (2 df_t + 1)
        tfsat(t, d)    = 22 tf sum_dl / (10 tf sum_dl + 3 sum_dl + 9 dl N)
        score(t, d)    = idf'(t) * tfsat(t, d)

    (both fractions are the k1/b constants cleared to integers: the
    numerator/denominator of each factor are exact BIGINTs, so the whole
    per-term score is ONE double division of two exact integers — the
    same no-libm discipline as tfidf_top_terms, because ln() differs in
    the last ulp across engines and would flip the hash gate. idf' is a
    strictly monotone transform of the classic ln(1 + (N-df+.5)/(df+.5))
    for a single term, so single-term rankings are identical; multi-term
    rankings weight rare terms more steeply than the log form — a
    documented property of this engine's scoring contract, not an
    accident. Integer products stay under 2^53 through ~50k-doc / 2.5M-
    token corpora; beyond that cast the two products to DECIMAL(38,0)
    before the division.)

    Per-term scores are floor-rounded to 4dp and summed as
    DECIMAL(14,4) — decimal addition is exact and order-independent, so
    the multi-term sum cannot flip on aggregation order — then cast back
    to DOUBLE in one deterministic rounding (the stable_sum discipline;
    engines disagree on which pandas dtype a low-precision DECIMAL
    becomes, but agree bit-for-bit on the double nearest an exact 4dp
    decimal). Ties broken by ``id_col``.

    Scale: the explode->filter keeps only query-term hits (the filter
    sits directly on the generator output, so non-query tokens never
    reach a shuffle); tf is one partial-agged (doc, term) shuffle over
    hits only; N/sum_dl is a single 1-row broadcast; df is a <=|q|-row
    broadcast; top-k is TakeOrderedAndProject (per-partition partial
    top-k, no global sort). The rank column is attached by a window
    AFTER the k-row limit, so the unpartitioned window sees k rows, not
    the corpus.

    Returns (id_col, score DOUBLE, rnk) with rnk 1..k.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    qlits = [str(t) for t in query_terms]
    tf, dfreq, stats = _bm25_tables(
        df, id_col, text_col, lambda occ: occ.filter(F.col("term").isin(qlits))
    )
    per_term = _bm25_per_term(tf, dfreq, stats, id_col)
    scored = per_term.groupBy(id_col).agg(
        F.sum("__s").cast("double").alias("score")
    )
    topk = scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)
    w = Window.partitionBy(F.lit(0)).orderBy(F.desc("score"), F.asc(id_col))
    return topk.select(
        id_col, "score", F.row_number().over(w).cast("int").alias("rnk")
    )


def chi_square_drift(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """Per-group term-distribution drift: the chi-square goodness-of-fit
    statistic of each group's term counts against the pooled corpus
    distribution — the "did source X's vocabulary shift away from the
    corpus" monitor a recurring crawl runs per snapshot, and the
    corpus-QA twin of gram_novelty (that flags documents; this flags
    SOURCES/segments).

    Restricted-vocabulary contract: both observed and expected counts
    are taken over the terms whose pooled corpus frequency is >=
    ``min_count`` (rare-term cells make chi-square unstable AND unbounded
    at 100 TB; the threshold is an integer compare, so both engines keep
    the identical vocabulary), and zero-observation cells are excluded —
    a kept term a group never observed contributes no (0-e)^2/e term for
    that group, so the score is a per-observed-term divergence, not the
    textbook statistic (see chi_square_from_counts for the trade-off).
    Expected count e = (ct * n_g) / C where
    ct = pooled count of the term, n_g = the group's kept-token total,
    C = the pooled kept-token total — one double division of exact
    BIGINTs (products < 2^53 through ~10^7-token corpora; decimal-cast
    beyond). Per-term contributions (o - e)^2 / e are floor-rounded to
    6dp and summed as DECIMAL(24,6), so the per-group statistic is
    addition-order-independent — the same no-libm / exact-ratio
    discipline as bm25_top_docs.

    Scale: one (group, term) partial-agg shuffle over the exploded
    corpus; the pooled vocabulary is the same exploded base re-aggregated
    by term (identical subplan — AQE reuses the exchange, the
    gram_novelty pattern); group totals are a bounded relation combined
    via an unpartitioned window (the gini/pareto class); one term-keyed
    join attaches pooled counts. No collect, no cartesian.

    Returns (group_col, n_terms, n_tokens, chi2) — chi2 DOUBLE, one row
    per group.
    """
    toked = df.select(F.col(group_col), F.explode(_terms(text_col)).alias("term"))
    obs = toked.groupBy(group_col, "term").agg(F.count(F.lit(1)).alias("__o"))
    return chi_square_from_counts(obs, group_col, "term", "__o", min_count)


def chi_square_from_counts(
    obs: DataFrame,
    group_col: str,
    term_col: str = "term",
    count_col: str = "__o",
    min_count: int = 5,
) -> DataFrame:
    """chi_square_drift from a pre-aggregated (group, term, count)
    relation instead of raw text — the entry point for INCREMENTALLY
    maintained count tables (streaming/sketch_stream.run_count_stream
    keeps (group, term) counts additively, so a recurring crawl updates
    state in O(batch) and recomputes the statistic in O(vocab), never
    rescanning history). Same restricted-vocabulary and float
    discipline as chi_square_drift; counts must be exact occurrence
    totals.

    Zero-observation cells are EXCLUDED: each group contributes
    (o-e)^2/e terms only for the vocabulary terms it actually observed
    (the inner join on the pooled vocab drops (group, term) cells with
    o=0), so the statistic is smaller than the classical goodness-of-fit
    value precisely for groups missing common terms entirely. That makes
    it a per-observed-term divergence score — comparable across groups
    and cheap to maintain incrementally (no group×vocab densification) —
    not the textbook chi-square; add the missing e contributions via a
    group×vocab left join if the classical statistic is required."""
    obs = obs.select(
        F.col(group_col), F.col(term_col).alias("term"), F.col(count_col).alias("__o")
    )
    # ONE evaluation of the (group, term, count) relation for its two
    # consumers (pooled vocabulary, kept cells): the totals join infers
    # isnotnull(group) into the kept copy only, so the subtrees never
    # canonicalize equal and the raw-text caller re-planned the whole
    # corpus scan+tokenize per consumer (plan-verified on
    # source_term_drift). The relation is group x vocabulary bounded —
    # pin it physically; a lazy mark adds no job.
    obs = obs.localCheckpoint(eager=False)
    pooled = (
        obs.groupBy("term")
        .agg(F.sum("__o").alias("__ct"))
        .filter(F.col("__ct") >= min_count)
    )
    kept = obs.join(pooled, "term")
    w = Window.partitionBy(F.lit(0))
    totals = (
        kept.groupBy(group_col)
        .agg(F.sum("__o").alias("__ng"))
        .withColumn("__call", F.sum("__ng").over(w))
    )
    e = F.col("__ct").cast("double") * F.col("__ng") / F.col("__call")
    contrib = (
        (F.col("__o").cast("double") - e) * (F.col("__o").cast("double") - e)
    ) / e
    return (
        kept.join(F.broadcast(totals), group_col)
        .select(
            group_col,
            F.col("__o"),
            ((F.floor(contrib * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).cast(
                "decimal(24,6)"
            )).alias("__chi"),
        )
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("__o").alias("n_tokens"),
            F.sum("__chi").cast("double").alias("chi2"),
        )
    )


def lm_surprisal(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_max_avg: float | None = None,
) -> DataFrame:
    """Per-document corpus-LM surprisal score — the CCNet-style
    "perplexity filter" stage of a crawl-curation pipeline (score every
    document under a language model trained on the corpus itself; drop
    the tail whose average surprisal says the LM finds them improbable:
    boilerplate, encoding noise, wordlists), re-expressed without libm so
    the score is bit-identical across engines.

    Model: add-one-smoothed bigram LM over normalized whitespace tokens.
    For each bigram occurrence (w1, w2) the smoothed probability is
    p = (c2 + 1) / (c1 + V) with c2 = corpus count of the bigram,
    c1 = bigram-marginal count of the context (sum of c2 over all
    successors of w1 — NOT the raw unigram count, so probabilities per
    context sum to exactly 1), and V = corpus distinct-token count. The
    per-occurrence surprisal is the INTEGER floor(log2(1/p)) =
    length(bin((c1 + V) div (c2 + 1))) - 1 — exact by the identity
    floor(log2(a/b)) = bit_length(a div b) - 1 for integers a >= b >= 1
    (proof: q = a div b >= 1 implies q <= a/b < q+1 <= 2^(bit_length(q)),
    and log2 is monotone) — so the whole pipeline is integer arithmetic
    until one final exact-ratio double division, rounded half-up to 4dp:
    the chi_square_drift no-libm discipline applied to perplexity.

    Per document: n_bigrams, sum_surprisal (BIGINT), avg_surprisal
    (NULL for docs with < 2 tokens), and — when ``keep_max_avg`` is set —
    a ``keep`` flag (avg <= threshold; short docs are kept: the filter
    targets improbable TEXT, not absence of text).

    Scale: one explode of the corpus into bigram occurrences feeds both
    the count aggregate and the scoring probe (identical subplans — AQE
    reuses the exchange, the gram_novelty pattern); the context-marginal
    c1 re-aggregates the c2 table (vocabulary-sized, never the corpus);
    V is a 1-row broadcast. Two gram-keyed shuffles + one w1-keyed join
    + one doc-keyed aggregate; natural-language gram keys are ~uniform,
    no salting needed. No collect, no cartesian, nothing unbounded.
    """
    from .curation import _contiguous_grams

    base = _gram_base(df, id_col, text_col)
    # ONE physical tokenize pass for the three corpus consumers (the
    # bigram probe, the bigram count table, and the unigram vocab
    # count). Declaratively they never share: the probe copy acquires
    # the final left join's inferred isnotnull(id) and the w1 join key
    # filter while the count copy has its id column pruned away, so the
    # canonicalized subtrees differ and each consumer re-planned its
    # own corpus scan+tokenize (3 text scans, plan-verified); the vocab
    # pass explodes unigrams and can never share an explode anyway.
    # NULL/short-doc semantics are untouched — same relation, shared
    # physically (lazy: the shuffle-map stage runs once by RDD
    # identity, no dedicated materialization job).
    base = base.localCheckpoint(eager=False)
    grams = base.select(
        F.col(id_col), F.explode(_contiguous_grams("__t", 2)).alias("gram")
    )
    c2 = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("__c2"))
    c1 = (
        c2.withColumn("__w1", F.substring_index("gram", " ", 1))
        .groupBy("__w1")
        .agg(F.sum("__c2").alias("__c1"))
    )
    vstats = (
        base.select(F.explode("__t").alias("__tok"))
        .agg(F.countDistinct("__tok").alias("__v"))
    )
    # integer div, NOT double /: the bit_length identity needs the exact
    # integer quotient (bin() of a double would round through 2^53)
    s = (
        F.length(F.bin(F.expr("(__c1 + __v) div (__c2 + 1)"))) - F.lit(1)
    ).cast("bigint")
    per_doc = (
        grams.join(c2, "gram")
        .withColumn("__w1", F.substring_index("gram", " ", 1))
        .join(c1, "__w1")
        .crossJoin(F.broadcast(vstats))
        .select(F.col(id_col), s.alias("__s"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("__s").alias("sum_surprisal"),
        )
    )
    nb = F.coalesce("n_bigrams", F.lit(0).cast("bigint"))
    ss = F.coalesce("sum_surprisal", F.lit(0).cast("bigint"))
    avg = F.when(
        nb > 0,
        F.floor(ss.cast("double") / nb * F.lit(1e4) + F.lit(0.5)) / F.lit(1e4),
    )
    out = df.select(id_col).join(per_doc, id_col, "left").select(
        F.col(id_col),
        nb.alias("n_bigrams"),
        ss.alias("sum_surprisal"),
        avg.alias("avg_surprisal"),
    )
    if keep_max_avg is not None:
        out = out.withColumn(
            "keep",
            F.coalesce(F.col("avg_surprisal") <= F.lit(keep_max_avg), F.lit(True)),
        )
    return out


def nb_classify(
    df: DataFrame,
    class_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Multinomial Naive Bayes classifier trained ON the corpus and
    applied back to it (resubstitution), returning the confusion matrix
    (class_col, predicted, n_docs) — the trained twin of the heuristic
    ``lang_id`` stage: a curation pipeline trains exactly this shape
    (fastText-style label-from-bag-of-words) to audit whether a labeled
    attribute is actually predictable from the text, and to route
    unlabeled documents.

    No-libm discipline: the usual sum-of-log-probabilities is replaced
    by INTEGER surprisal weights — per (class, term) occurrence
    wt = floor(log2((N_c + V) / (n_cw + 1))) and per class prior
    sp = floor(log2(D / D_c)), both exact via the bit_length identity
    (see lm_surprisal). A document's class score is
    sp(c) + sum(m_w * wt(c, w)) over its term multiplicities; predicted
    = argmin score with lexicographic class tie-break. Everything is
    BIGINT end to end, so the oracle twin is exact.

    Scale: one explode into (doc, term) occurrences, pre-aggregated to
    (doc, term, multiplicity) so the class fanout multiplies the DISTINCT
    doc-term relation, not raw occurrences; the model tables (class x
    vocab counts, class totals, priors) aggregate off that same explode
    and stay vocabulary-bounded; classes (a handful) broadcast onto the
    probe, so scoring is one term-keyed shuffle + one doc-keyed
    aggregate + one per-doc argmin window (partitioned by doc). The
    1-row corpus aggregates (V, D) ride broadcast nested loops — the
    accepted k-row shape.
    """
    from .dedup import tokens as _tokens

    # ONE tokenization pass with the class label carried through the
    # select (guide §2.3/§2.4): the r12 shape tokenized the corpus THREE
    # times (the occurrence relation, a separate vocab explode, and the
    # probe's re-derivation) and attached the class by joining documents
    # onto their own exploded occurrences — an occurrence-sized shuffle
    # that a projection does for free.
    base = df.select(
        F.col(id_col), F.col(class_col), _tokens(text_col).alias("__t")
    ).select(
        F.col(id_col),
        F.col(class_col),
        F.filter("__t", lambda t: t != F.lit("")).alias("__t"),
    )
    occ = base.select(
        F.col(id_col), F.col(class_col), F.explode("__t").alias("term")
    )
    # (doc, term, multiplicity) — the class rides the grouping for free
    # (id determines it), so every model table DERIVES from this one
    # aggregate instead of re-tokenizing: cls_term = sum of multiplicities,
    # vocab = distinct terms of the (class x term) relation (every corpus
    # term appears in >= 1 class) — identical values, vocabulary-bounded.
    dt_c = occ.groupBy(id_col, class_col, "term").agg(
        F.count(F.lit(1)).alias("__m")
    )
    # ONE physical evaluation of the (doc, term, multiplicity) relation.
    # Its three consumers (probe, class-term model, vocab count) acquire
    # DIFFERENT inferred isnotnull() pushdowns (the probe's final join
    # infers isnotnull(id), the model joins infer isnotnull(class), the
    # vocab branch infers nothing), so the canonicalized subtrees never
    # match and ReuseExchange planned three separate corpus
    # scan+tokenize pipelines (plan-verified). No declarative fix is
    # value-preserving for NULL ids/labels (unlabeled docs must stay
    # scorable — the routing contract), so pin the sharing physically:
    # everything downstream reads these blocks, one tokenize pass total.
    dt_c = dt_c.localCheckpoint(eager=False)
    cls_term = dt_c.groupBy(class_col, "term").agg(
        F.sum("__m").alias("__ncw")
    )
    cls_tot = cls_term.groupBy(class_col).agg(F.sum("__ncw").alias("__nc"))
    vstats = cls_term.agg(F.countDistinct("term").alias("__v"))
    doc_counts = df.groupBy(class_col).agg(F.count(F.lit(1)).alias("__dc"))
    dstats = df.agg(F.count(F.lit(1)).alias("__d"))
    priors = (
        doc_counts.crossJoin(F.broadcast(dstats))
        .select(
            F.col(class_col).alias("__cls"),
            (F.length(F.bin(F.expr("__d div __dc"))) - F.lit(1))
            .cast("bigint")
            .alias("__sp"),
        )
    )
    classes = cls_tot.select(
        F.col(class_col).alias("__cls"), F.col("__nc")
    )
    # probe: distinct (doc, term, multiplicity) x classes
    dt = dt_c.select(F.col(id_col), F.col("term"), F.col("__m"))
    wt = (
        F.length(F.bin(F.expr("(__nc + __v) div (coalesce(__ncw, 0) + 1)")))
        - F.lit(1)
    ).cast("bigint")
    scored = (
        dt.crossJoin(F.broadcast(classes))
        .join(
            cls_term.select(
                F.col(class_col).alias("__cls"), "term", "__ncw"
            ),
            ["__cls", "term"],
            "left",
        )
        .crossJoin(F.broadcast(vstats))
        .select(F.col(id_col), F.col("__cls"), (F.col("__m") * wt).alias("__s"))
        .groupBy(id_col, "__cls")
        .agg(F.sum("__s").alias("__score"))
        .join(F.broadcast(priors), "__cls")
        .select(
            F.col(id_col),
            F.col("__cls"),
            (F.col("__score") + F.col("__sp")).alias("__total"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.asc("__total"), F.asc("__cls"))
    predicted = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(F.col(id_col), F.col("__cls").alias("predicted"))
    )
    return (
        df.select(F.col(id_col), F.col(class_col))
        .join(predicted, id_col, "left")
        .groupBy(class_col, "predicted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def bpe_train(
    df: DataFrame,
    n_merges: int = 8,
    top_words: int = 2000,
    text_col: str = "text",
) -> DataFrame:
    """Train byte-pair-encoding merges on the corpus — the tokenizer-
    TRAINING stage of an LLM data pipeline (the catalog already tokenizes
    with a fixed BPE-ish regex; this learns the merge table itself).
    Returns one row per merge round: (step, pair, merged, pair_count).

    Classic word-level BPE: the corpus collapses to a (word, freq) table
    capped at the ``top_words`` most frequent words (freq desc, word asc —
    deterministic cap); each word starts as its space-joined characters
    plus a terminal '</w>' symbol; each round counts freq-weighted
    adjacent symbol pairs, merges the argmax (count desc, pair asc
    tie-break) everywhere, and repeats.

    The merge application is pure string replace, made exact and
    portable by a TWO-PASS padded replace: searching ' a b ' in
    ' '||s||' ' consumes the trailing space, so a single left-to-right
    pass skips the second of two adjacent occurrences ('a b a b').
    After one pass the skipped occurrences are isolated singles (two
    adjacent leftovers would require the scan to have consumed both
    boundaries, impossible), and a merge never creates a fresh
    occurrence of its own pair (the merged symbol is strictly longer
    than either side), so a second identical pass reaches the
    no-occurrence fixpoint. The result is deterministic and
    bit-identical across engines (plain replace is left-to-right
    non-overlapping in Spark and DuckDB alike; no regex, no libm);
    note that for runs of a SELF-adjacent pair ('a a a a a') the
    pass-1 skip makes the merge positions differ from reference BPE's
    single-sweep greedy ('aa a aa' here vs 'aa aa a') — a valid BPE
    variant; cross-engine exactness, not reference-implementation
    parity, is the contract.

    Scale: the corpus is touched ONCE — the (word, freq) cap is CACHED
    after its first materialization, because each round's 1-row argmax
    ``.collect()`` is a separate Spark job and exchange reuse does not
    span jobs (without the cache every round would re-run the corpus
    word-frequency aggregate, n_merges+1 scans). Every round then runs
    on the bounded top_words relation: a pair explode (~chars per
    word), a pair-keyed aggregate, and a 1-row argmax collect — the
    kmeans k-row-collect shape. Rounds chain lazily on a
    vocabulary-sized frame, so plan depth grows with n_merges, never
    with the corpus."""
    from .curation import _contiguous_grams
    from .dedup import tokens

    toks = df.select(tokens(text_col).alias("__t")).select(
        F.filter("__t", lambda t: t != F.lit("")).alias("__t")
    )
    words = (
        toks.select(F.explode("__t").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("word"))
        .limit(top_words)
        .cache()  # ≤top_words rows; keeps round-k argmax jobs off the corpus
    )
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.col("word").substr(i, F.lit(1)),
    )
    cur = words.select(
        "word",
        "freq",
        F.concat(F.concat_ws(" ", chars), F.lit(" </w>")).alias("s"),
    )
    spark = df.sparkSession
    out_rows = []
    for step in range(1, n_merges + 1):
        syms = cur.select("freq", F.split("s", " ").alias("__sy"))
        top = (
            syms.select(
                "freq", F.explode(_contiguous_grams("__sy", 2)).alias("pair")
            )
            .groupBy("pair")
            .agg(F.sum("freq").alias("pair_count"))
            .orderBy(F.desc("pair_count"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not top:
            raise ValueError(f"bpe_train: no adjacent pairs left at step {step}")
        pair, cnt = top[0]["pair"], top[0]["pair_count"]
        merged = pair.replace(" ", "")
        out_rows.append((step, pair, merged, cnt))
        padded = F.concat(F.lit(" "), F.col("s"), F.lit(" "))
        search, repl = F.lit(f" {pair} "), F.lit(f" {merged} ")
        cur = cur.select(
            "word",
            "freq",
            F.trim(F.replace(F.replace(padded, search, repl), search, repl)).alias(
                "s"
            ),
        )
    words.unpersist()
    return spark.createDataFrame(
        out_rows, "step int, pair string, merged string, pair_count bigint"
    )


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer APPLICATION: segment every distinct corpus word with a
    trained BPE merge list (:func:`bpe_train`'s (pair, merged) rows, in
    training order). Returns one row per distinct word:
    (word, subtokens array<string>, n_sub).

    Encoding is dictionary-style: the corpus collapses to its DISTINCT
    word set first, each word is char-split (+ terminal '</w>') and the
    merges are applied as the same TWO-PASS padded replace the trainer
    used (see bpe_train's fixpoint argument — deterministic,
    left-to-right non-overlapping, engine-identical). OOV words (outside
    the trainer's top_words cap) are segmented by the same merge table,
    exactly like real BPE inference.

    Scale: the merge list is bounded (n_merges rows of driver-side
    literals — the kmeans k-row-collect shape), so the whole application
    is ONE vocabulary-sized projection: 2·n_merges nested replaces in a
    single whole-stage-codegen'd select, no joins, no shuffles beyond
    the distinct-word aggregate. Callers re-attach segmentations to the
    corpus by joining on the word key — and should pre-aggregate the
    corpus side to (group, word, cnt) first so a frequent word costs one
    join row, not one per occurrence."""
    from .dedup import tokens

    toks = df.select(tokens(text_col).alias("__t")).select(
        F.filter("__t", lambda t: t != F.lit("")).alias("__t")
    )
    words = toks.select(F.explode("__t").alias("word")).distinct()
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.col("word").substr(i, F.lit(1)),
    )
    s = F.concat(F.concat_ws(" ", chars), F.lit(" </w>"))
    for pair, merged in merges:
        padded = F.concat(F.lit(" "), s, F.lit(" "))
        search, repl = F.lit(f" {pair} "), F.lit(f" {merged} ")
        s = F.trim(F.replace(F.replace(padded, search, repl), search, repl))
    sub = F.col("__sub")
    return (
        words.select("word", F.split(s, " ").alias("__sub"))
        .select("word", sub.alias("subtokens"), F.size(sub).alias("n_sub"))
    )


def bm25_batch_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    term_col: str = "term",
) -> DataFrame:
    """BM25 retrieval for a BATCH of queries at once — the RAG-eval /
    corpus-slicing shape where hundreds of probes share one corpus scan.
    ``queries`` is long-form (query_id, term). The tables come from
    ``_bm25_tables``, shared with :func:`bm25_top_docs`, and the score
    is its rational-idf integer BM25 (``_bm25_per_term``), computed ONCE
    per (doc, term) over the union of all query terms, then fanned out
    to queries by a broadcast term join — per-query cost is independent
    of corpus size no matter how many queries ride the batch. The corpus
    text is tokenized TWICE (the 1-row n_docs/sum_dl stats need every
    doc's length, hit or not, and live in a separate aggregate subtree):
    the honest ad-hoc cost. When the batch cadence justifies it, the
    persisted index (bm25_build_index + bm25_search_index) pays the
    tokenization once and every later batch reads only its terms'
    postings partitions.

    Scale: hits filter against a broadcast distinct-term set (non-query
    tokens never reach a shuffle), one (doc, term) partial-agg, the
    per-query top-k through the skew-free two-phase topk_per_query, and
    ranks attached per query over k-row groups only.

    Returns (query_id, id_col, score, rnk)."""
    qt = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(term_col).alias("term")
    ).distinct()
    allterms = qt.select("term").distinct()
    tf, dfreq, stats = _bm25_tables(
        df, id_col, text_col, lambda occ: occ.join(F.broadcast(allterms), "term")
    )
    return _bm25_rank(tf, dfreq, stats, qt, k, id_col)


def _bm25_rank(tf, dfreq, stats, qt, k: int, id_col: str) -> DataFrame:
    """Shared BM25 scoring tail: rank documents per query from the
    (doc, term, tf, dl) / (term, df) / 1-row stats relations — the same
    rational-idf integer arithmetic (_bm25_per_term) whether the tables
    were just built (_bm25_tables, for bm25_batch_topk) or read back from
    a persisted index (bm25_search_index). Restricting df to query-term
    rows is exact: a term's document frequency does not depend on which
    terms were asked about."""
    from .similarity import topk_per_query

    qdoc = (
        _bm25_per_term(tf, dfreq, stats, id_col, "term")
        .join(F.broadcast(qt), "term")
        .groupBy("query_id", id_col)
        .agg(F.sum("__s").cast("double").alias("score"))
    )
    top = topk_per_query(
        qdoc.select(
            "query_id", F.col(id_col).alias("vec_id"), F.col("score").alias("sim")
        ),
        k,
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return top.select(
        "query_id",
        F.col("vec_id").alias(id_col),
        F.col("sim").alias("score"),
        F.row_number().over(w).cast("int").alias("rnk"),
    )


def bm25_term_bucket_py(term: str, num_buckets: int) -> int:
    """Driver-side twin of the index's term-bucket assignment
    (portable_hash64 % num_buckets): lets a search compute its literal
    partition-pruning bucket set from the query terms alone."""
    import hashlib

    return int(hashlib.md5(term.encode()).hexdigest()[:15], 16) % num_buckets


BM25_BUCKETS = 64  # term-hash partitions of a persisted BM25 index


def bm25_build_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = BM25_BUCKETS,
) -> None:
    """Persist the FULL BM25 inverted index — the index-once / query-many
    retrieval lifecycle (the persisted-IVF pattern applied to lexical
    search): postings (term, doc, tf, dl) PARTITIONED by a term-hash
    bucket so a query's loads prune to its terms' partitions, per-term
    document frequencies (same layout), and the 1-row corpus stats.
    Everything persisted is an exact integer, so a search from disk is
    value-identical to scoring freshly-built tables — the whole
    lifecycle sits under the batch oracle.

    Scale: one corpus scan, one (term, doc)-keyed partial-agg shuffle
    for postings (~tokens-sized, the unavoidable index cost paid ONCE),
    a term-keyed rollup for df, and a 1-row stats aggregate. The
    partition column is the PORTABLE md5 bucket (functions.
    portable_hash64 % num_buckets) with a driver-side twin
    (bm25_term_bucket_py), so searches can enumerate their buckets as
    literals without touching the index."""
    from ..functions import portable_hash64

    postings, _, _ = _bm25_tables(df, id_col, text_col)
    bucket = F.pmod(portable_hash64(F.col("term")), F.lit(num_buckets)).cast(
        "int"
    )
    # repartition on the bucket before the partitioned write: without it
    # every (doc, term)-hashed task writes a sliver into ~every bucket
    # directory (tasks x num_buckets small files — per-file open overhead
    # taxes every later partition-pruned search); with it each bucket is
    # ONE file. The extra shuffle moves the index relation once, at build
    # time — the side that is paid once by construction.
    keyed = postings.withColumn("term_bucket", bucket)
    (
        keyed.repartition(num_buckets, "term_bucket")
        .write.mode("overwrite")
        .partitionBy("term_bucket")
        .parquet(path.rstrip("/") + "/postings")
    )
    # ONE corpus tokenize pass, not three: dfreq and stats are exact
    # integer re-aggregations of the postings relation, so derive them
    # from the just-written postings files (index-sized reads) instead of
    # re-running the tokenize+explode+groupBy pipeline per output. The
    # read is schema-pinned so an empty postings directory (all-empty
    # corpus) still resolves. Values are identical: every (doc, term) row
    # carries the doc's __dl, each term lives in exactly one bucket, and
    # df/stats are plain sums over those rows.
    spark = df.sparkSession
    pread = spark.read.schema(keyed.schema).parquet(
        path.rstrip("/") + "/postings"
    )
    dfreq = pread.groupBy("term", "term_bucket").agg(
        F.count(F.lit(1)).alias("__df")
    )
    stats = (
        pread.groupBy(id_col)
        .agg(F.first("__dl").alias("__dl"))
        .agg(
            F.count(F.lit(1)).alias("__n_docs"),
            F.sum("__dl").alias("__sum_dl"),
        )
    )

    def _write_dfreq() -> None:
        (
            dfreq.select("term", "__df", "term_bucket")
            .repartition(num_buckets, "term_bucket")
            .write.mode("overwrite")
            .partitionBy("term_bucket")
            .parquet(path.rstrip("/") + "/dfreq")
        )

    def _write_stats() -> None:
        stats.write.mode("overwrite").parquet(path.rstrip("/") + "/stats")

    # the two derived writes read the same postings files and are
    # independent — submit them concurrently so the small stats job
    # back-fills executors the dfreq write's tail leaves idle (§2.6);
    # exceptions propagate through result()
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(2) as ex:
        futs = [ex.submit(_write_dfreq), ex.submit(_write_stats)]
        for f in futs:
            f.result()


def bm25_search_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    term_col: str = "term",
) -> DataFrame:
    """Search a persisted BM25 index (bm25_build_index, BM25_BUCKETS
    buckets) for a batch of queries WITHOUT touching the corpus: the
    query terms' buckets are computed driver-side (bm25_term_bucket_py)
    and pushed as literal partition filters, so only
    ~|terms|/BM25_BUCKETS of the postings and
    df partitions are read; scoring is the shared _bm25_rank tail on the
    loaded integer tables — value-identical to scoring a fresh build,
    hence to the batch oracle. Returns (query_id, id_col, score, rnk)."""
    qt = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(term_col).alias("term")
    ).distinct()
    terms = sorted({r["term"] for r in qt.select("term").distinct().collect()})
    buckets = sorted({bm25_term_bucket_py(t, BM25_BUCKETS) for t in terms})
    base = path.rstrip("/")
    prune = F.col("term_bucket").isin(buckets) & F.col("term").isin(terms)
    tf = spark.read.parquet(base + "/postings").filter(prune).drop("term_bucket")
    dfreq = spark.read.parquet(base + "/dfreq").filter(prune).drop("term_bucket")
    stats = spark.read.parquet(base + "/stats")
    return _bm25_rank(tf, dfreq, stats, qt, k, id_col)


def lm_backoff_surprisal(
    df: DataFrame,
    train: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Held-out LM scoring with stupid backoff (Brants et al. 2007,
    "Large Language Models in Machine Translation" — the web-scale LM
    scoring recipe): a 3-gram model with raw relative frequencies is
    "trained" on the rows where ``train`` is true, and every OTHER
    document is scored token by token, backing off to lower orders when
    the higher-order count is zero — the proper train/held-out
    perplexity-evaluation shape, where backoff actually fires (unlike
    resubstitution scoring, where every trigram trivially contains
    itself).

    Integer scoring contract (the lm_surprisal libm-free discipline):
    for each held-out token w3 with full context (w1, w2) —

      level 0 (c3 > 0):             s = bit_length(c2ctx div c3) - 1
      level 1 (c3 = 0, c2 > 0):     s = bit_length(c1ctx div c2) - 1 + 1
      level 2 (c2 = 0, c1 > 0):     s = bit_length(N div c1) - 1 + 2
      OOV     (c1 = 0):             s = bit_length(N) - 1 + 3

    where c3/c2/c1 are train counts of the trigram/bigram/unigram,
    c2ctx/c1ctx the corresponding context marginals (sums over the
    count tables, never a second corpus pass), N the train token count,
    and the +k terms are one integer penalty bit per backoff level —
    the engine's deterministic stand-in for the paper's alpha = 0.4
    multiplier (floor(log2(1/0.4)) = 1). Every quantity is integer
    arithmetic on exact counts, so the whole evaluation carries an
    exact SQL oracle.

    Returns one row per HELD-OUT document: (id, n_scored, n_l0, n_l1,
    n_l2, n_oov, sum_surprisal, avg_surprisal 4dp; docs with < 3 tokens
    score nothing and report zeros/NULL avg).

    Scale: the train half is exploded once into trigram occurrences
    whose aggregate feeds every count table (the marginals re-aggregate
    the vocabulary-sized c3/c2 tables); scoring is four gram-keyed
    joins of the held-out occurrences against vocabulary-sized count
    relations plus a 1-row broadcast N — the lm_surprisal shape one
    order higher, nothing unbounded."""
    from .curation import _contiguous_grams

    base = _gram_base(df, id_col, text_col).join(
        df.select(F.col(id_col), train.alias("__train")), id_col
    )
    # ONE physical tokenize pass for the train-side trigram/bigram/
    # unigram explodes and the held-out probe (each planned its own
    # corpus scan+tokenize — 3 text scans, plan-verified): the
    # lm_surprisal sharing, pinned physically
    base = base.localCheckpoint(eager=False)
    tr = base.filter(F.col("__train"))
    ho = base.filter(~F.col("__train"))

    tri_tr = tr.select(F.explode(_contiguous_grams("__t", 3)).alias("g3"))
    c3 = tri_tr.groupBy("g3").agg(F.count(F.lit(1)).alias("__c3"))
    c2ctx = (
        c3.withColumn("__ctx", F.substring_index("g3", " ", 2))
        .groupBy("__ctx")
        .agg(F.sum("__c3").alias("__c2ctx"))
    )
    bi_tr = tr.select(F.explode(_contiguous_grams("__t", 2)).alias("g2"))
    c2 = bi_tr.groupBy("g2").agg(F.count(F.lit(1)).alias("__c2"))
    c1ctx = (
        c2.withColumn("__w", F.substring_index("g2", " ", 1))
        .groupBy("__w")
        .agg(F.sum("__c2").alias("__c1ctx"))
    )
    uni_tr = tr.select(F.explode("__t").alias("w"))
    c1 = uni_tr.groupBy("w").agg(F.count(F.lit(1)).alias("__c1"))
    nstat = uni_tr.agg(F.count(F.lit(1)).alias("__n"))

    occ = ho.select(
        F.col(id_col), F.explode(_contiguous_grams("__t", 3)).alias("g3")
    ).select(
        F.col(id_col),
        "g3",
        F.substring_index("g3", " ", 2).alias("__ctx"),
        F.substring_index("g3", " ", -2).alias("g2"),
        F.substring_index("g3", " ", -1).alias("w"),
    )
    j = (
        occ.join(F.broadcast(c3), "g3", "left")
        .join(F.broadcast(c2ctx), "__ctx", "left")
        .join(F.broadcast(c2), "g2", "left")
        .withColumn("__w", F.substring_index("g2", " ", 1))
        .join(F.broadcast(c1ctx), "__w", "left")
        .join(F.broadcast(c1), "w", "left")
        .crossJoin(F.broadcast(nstat))
    )
    blen = lambda e: (F.length(F.bin(e)) - F.lit(1)).cast("bigint")
    level = (
        F.when(F.col("__c3").isNotNull(), F.lit(0))
        .when(F.col("__c2").isNotNull(), F.lit(1))
        .when(F.col("__c1").isNotNull(), F.lit(2))
        .otherwise(F.lit(3))
    )
    s = (
        F.when(level == 0, blen(F.expr("__c2ctx div __c3")))
        .when(level == 1, blen(F.expr("__c1ctx div __c2")) + F.lit(1))
        .when(level == 2, blen(F.expr("__n div __c1")) + F.lit(2))
        .otherwise(blen(F.col("__n")) + F.lit(3))
    )
    per_doc = (
        j.select(F.col(id_col), level.alias("__lvl"), s.alias("__s"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_scored"),
            F.sum((F.col("__lvl") == 0).cast("bigint")).alias("n_l0"),
            F.sum((F.col("__lvl") == 1).cast("bigint")).alias("n_l1"),
            F.sum((F.col("__lvl") == 2).cast("bigint")).alias("n_l2"),
            F.sum((F.col("__lvl") == 3).cast("bigint")).alias("n_oov"),
            F.sum("__s").alias("sum_surprisal"),
        )
    )
    ns = F.coalesce("n_scored", F.lit(0).cast("bigint"))
    z = F.lit(0).cast("bigint")
    avg = F.when(
        ns > 0,
        F.floor(
            F.coalesce("sum_surprisal", F.lit(0).cast("bigint")).cast("double")
            / ns
            * F.lit(1e4)
            + F.lit(0.5)
        )
        / F.lit(1e4),
    )
    return (
        df.select(F.col(id_col), train.alias("__train"))
        .filter(~F.col("__train"))
        .select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            ns.alias("n_scored"),
            F.coalesce("n_l0", z).alias("n_l0"),
            F.coalesce("n_l1", z).alias("n_l1"),
            F.coalesce("n_l2", z).alias("n_l2"),
            F.coalesce("n_oov", z).alias("n_oov"),
            F.coalesce("sum_surprisal", z).alias("sum_surprisal"),
            avg.alias("avg_surprisal"),
        )
    )


def bm25_merge_indexes(
    spark,
    path_a: str,
    path_b: str,
    out_path: str,
) -> None:
    """Merge two persisted BM25 indexes over DISJOINT corpora (crawl N +
    batch N+1) WITHOUT touching any text — see
    :func:`bm25_merge_many`, of which this is the 2-ary case."""
    bm25_merge_many(spark, [path_a, path_b], out_path)


def bm25_merge_many(
    spark,
    paths: list[str],
    out_path: str,
    num_buckets: int = BM25_BUCKETS,
) -> None:
    """Compact N >= 2 persisted BM25 indexes over DISJOINT corpora into
    one, WITHOUT touching any text — the daily-cadence maintenance
    shape: a pipeline accumulates one small delta index per ingest
    batch, and a periodic N-way fold re-establishes one
    partition-prunable index. One fold of N indexes, not N-1 pairwise
    rewrites: postings union as-is (disjoint doc sets can't share a
    (doc, term) row) in a single partitioned write, per-term document
    frequencies SUM across all N, the 1-row corpus stats SUM. Everything
    persisted is an exact integer, so searching the compacted index is
    value-identical to an index rebuilt from the concatenated corpora —
    pytest- and oracle-gated.

    Cost scales with the MERGED INDEX size (sum of delta sizes), never
    the corpus text: nothing is re-tokenized, and each input's postings
    are already bucketed by the same portable term hash, so the
    partitioned rewrite moves rows without a shuffle stage keyed on the
    corpus.

    Contract: the corpora's ``doc_id`` sets must be pairwise disjoint
    (re-ingesting a doc would double-count its postings; dedup upstream
    is the ledger's job, exactly as for minhash_sig_index), and every
    input must have been BUILT with the same num_buckets (the merged
    index inherits the inputs' term_bucket values verbatim)."""
    import pyspark.sql.functions as F

    if len(paths) < 2:
        raise ValueError("bm25_merge_many needs at least two indexes")
    ins = [p.rstrip("/") for p in paths]
    out = out_path.rstrip("/")

    def _union(sub: str):
        dfs = [spark.read.parquet(p + "/" + sub) for p in ins]
        u = dfs[0]
        for d in dfs[1:]:
            u = u.unionByName(d)
        return u

    # bucket-keyed write distribution: the fold is ALSO the small-file
    # compaction point — N delta indexes' per-bucket slivers collapse to
    # one file per bucket directory (same medicine as ivf_compact_index)
    (
        _union("postings")
        .repartition(num_buckets, "term_bucket")
        .write.mode("overwrite")
        .partitionBy("term_bucket")
        .parquet(out + "/postings")
    )
    # carry each term's BUILD-TIME bucket through the re-aggregation
    # (every input bucketed a term identically — same portable hash,
    # same build num_buckets, which is part of the disjoint-corpora
    # contract) instead of recomputing from this call's num_buckets: a
    # caller passing a different num_buckets here would otherwise write
    # dfreq under one bucketing and postings (unioned as-is) under
    # another, and later bucket-pruned searches would silently miss
    # terms. num_buckets now only sizes the write repartition.
    dfreq = (
        _union("dfreq")
        .groupBy("term", "term_bucket")
        .agg(F.sum("__df").alias("__df"))
    )
    (
        dfreq.repartition(num_buckets, "term_bucket")
        .write.mode("overwrite")
        .partitionBy("term_bucket")
        .parquet(out + "/dfreq")
    )
    stats = _union("stats").agg(
        F.sum("__n_docs").alias("__n_docs"),
        F.sum("__sum_dl").alias("__sum_dl"),
    )
    stats.write.mode("overwrite").parquet(out + "/stats")
