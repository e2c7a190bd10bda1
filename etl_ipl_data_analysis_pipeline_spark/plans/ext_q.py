"""Extended-surface queries: multimodal plumbing (X5), the Arrow UDF
surfaces (U3 scalar pandas_udf, U5 grouped-agg pandas_udf "UDAF"), the
collect-to-list report (A3), and the emptiness guard (SE3).

Multimodal inputs are synthesized deterministically from the documents
fixture (text bytes + magic-byte headers keyed on doc_id) — the binary
plumbing, sniffing, and Arrow batching are the real article; only the
payload is synthetic because the testdata ships no media files.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators import multimodal
from . import load, register

_MAGIC = {0: "89504E470D0A1A0A", 1: "FFD8FFE0", 2: "52494646", 3: "00010203"}


def _media_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(path, content, length) shaped like a binaryFile scan, built from the
    documents fixture: content = magic bytes (by doc_id % 4) + utf8 text."""
    d = load(spark, sf_dir, "documents")
    magic = F.unhex(
        F.when(F.col("doc_id") % 4 == 0, _MAGIC[0])
        .when(F.col("doc_id") % 4 == 1, _MAGIC[1])
        .when(F.col("doc_id") % 4 == 2, _MAGIC[2])
        .otherwise(_MAGIC[3])
    )
    return d.select(
        F.concat(F.lit("mem://doc/"), F.col("doc_id")).alias("path"),
        F.col("doc_id"),
        F.concat(magic, F.encode("text", "UTF-8")).alias("content"),
    ).withColumn("length", F.octet_length("content").cast("long"))


@register(
    "multimodal_metadata",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                           WHEN 2 THEN 'riff' ELSE 'unknown' END AS format,
           octet_length(encode(text)) + CASE doc_id % 4 WHEN 0 THEN 8 ELSE 4 END
               AS n_bytes
    FROM documents
    """,
    tags=("X5",),
)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 metadata path: binary payloads through attach_metadata's
    magic-byte sniffing (JVM-side), verified against the constructed
    headers. Payload size = utf8 text + header length."""
    media = _media_from_documents(spark, sf_dir)
    tagged = multimodal.attach_metadata(media.drop("doc_id"))
    ids = media.select("path", "doc_id")
    return tagged.join(ids, "path").select("doc_id", "format", "n_bytes")


@register(
    "multimodal_features",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                             WHEN 2 THEN 'riff' ELSE 'unknown' END AS format,
             hex(unhex(CASE doc_id % 4 WHEN 0 THEN '89504E470D0A1A0A'
                                       WHEN 1 THEN 'FFD8FFE0'
                                       WHEN 2 THEN '52494646'
                                       ELSE '00010203' END)
                 || encode(text)) AS hx,
             octet_length(encode(text))
                 + CASE doc_id % 4 WHEN 0 THEN 8 ELSE 4 END AS n_bytes
      FROM documents),
    h AS (
      SELECT doc_id, format, n_bytes,
             (('0x' || substr(md5(substr(hx, 1, 128)), 1, 8))::BIGINT
                 & 2147483647) AS h
      FROM m)
    SELECT doc_id, format, n_bytes,
           (16 + h % 1024)::INT AS width,
           (16 + (h >> 10) % 1024)::INT AS height,
           array_to_string(
             list_transform(generate_series(0, 7),
                            i -> ((h >> (i % 24)) & 255)::VARCHAR),
             ',') AS feat_u8
    FROM h
    """,
    tags=("X5", "U4"),
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 decode path: Arrow-batched mapInPandas with the deterministic
    fake decoder (real decode covers the lib-free formats; entropy codecs
    absent from the container stay env-gated). r10: the fake is the
    PORTABLE md5-seeded twin (multimodal._fake_decode_md5), so the whole
    pipeline — binary construction, Arrow batching, decode, featurize —
    is reproduced in ANSI SQL and this query is now FULLY oracled (it was
    rows-only while the seed was crc32, which DuckDB lacks). Features are
    emitted as the exact u8 lattice points (feature[i]*255 is integral by
    construction) serialized to csv, because the driver's canonicalizer
    cannot hash raw float-array cells."""
    media = _media_from_documents(spark, sf_dir)
    tagged = multimodal.attach_metadata(media.drop("doc_id"))
    feats = multimodal.extract_features(tagged, fake=True, portable=True)
    ids = media.select(
        F.xxhash64("path").alias("media_id"), F.col("doc_id")
    )
    return (
        feats.join(ids, "media_id")
        .select(
            "doc_id",
            "format",
            "n_bytes",
            "width",
            "height",
            F.concat_ws(
                ",",
                F.transform(
                    "feature", lambda x: F.round(x * 255).cast("int").cast("string")
                ),
            ).alias("feat_u8"),
        )
        .orderBy("doc_id")
    )


@register(
    "multimodal_frames",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             octet_length(encode(text))
                 + CASE doc_id % 4 WHEN 0 THEN 8 ELSE 4 END AS plen
      FROM documents),
    f AS (
      SELECT doc_id, plen,
             unnest(generate_series(
                 0, least(greatest(plen // 256, 1), 8) - 1)) AS frame_idx
      FROM m)
    SELECT doc_id, frame_idx::INT AS frame_idx,
           least(64, plen - frame_idx * 64)::INT AS frame_bytes
    FROM f
    """,
    tags=("X5", "U4"),
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 frame-sampling plumbing: per-media fan-out to frame rows via
    mapInPandas. r10: fully oracled — the fake sampler is a pure function
    of payload length (n = max(1, len // (every_n·64)) frames capped at 8,
    each a 64-byte slice), which DuckDB reproduces with a
    generate_series fan-out over the reconstructed payload length."""
    media = _media_from_documents(spark, sf_dir)
    tagged = multimodal.attach_metadata(media.drop("doc_id"))
    ids = media.select(F.xxhash64("path").alias("media_id"), F.col("doc_id"))
    return (
        multimodal.sample_frames(tagged, every_n=4)
        .join(ids, "media_id")
        .select("doc_id", "frame_idx", F.octet_length("frame").alias("frame_bytes"))
        .orderBy("doc_id", "frame_idx")
    )


@register(
    "scalar_pandas_udf_score",
    oracle="""
    SELECT doc_id,
           floor(length(text)::DOUBLE /
                 (1 + CASE WHEN length(trim(text)) = 0 THEN 0
                           ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)
                 * 10000 + 0.5) / 10000 AS density
    FROM documents
    """,
    tags=("U3",),
)
def scalar_pandas_udf_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3: scalar Arrow pandas_udf (chars-per-token density). The stance
    stands — built-ins beat UDFs and every hot path here uses them — but
    the vectorized escape hatch is part of the declared surface, so it is
    exercised and oracle-checked.

    Rounding is floor(x·10⁴+0.5)/10⁴ on BOTH sides: numpy's round() is
    half-to-even while DuckDB's is half-away, and len/(1+toks) ratios land
    on exact .xxxx5 boundaries often enough to flip the hash (22 docs at
    sf0.1). The explicit form is the same double arithmetic in both
    engines."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def density(text: pd.Series) -> pd.Series:
        toks = text.str.strip().str.split().str.len().fillna(0)
        raw = text.str.len() / (1 + toks)
        return np.floor(raw * 10000 + 0.5) / 10000

    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", density("text").alias("density"))


@register(
    "udaf_median_pandas",
    oracle="""
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.5), 4) AS median_price
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("U5",),
)
def udaf_median_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5: grouped-aggregate pandas_udf (a UDAF). Median is sort-based, so
    the float result is order-independent — safe to oracle-check, unlike a
    summation-based custom aggregate."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def median(v: pd.Series) -> float:
        return round(float(v.median()), 4)

    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(median("o_totalprice").alias("median_price"))


@register(
    "agg_collect_list",
    oracle="""
    SELECT lang, array_to_string(list_sort(list(DISTINCT source)), '|') AS sources,
           count(DISTINCT source) AS n_sources
    FROM documents
    GROUP BY lang
    """,
    tags=("A3",),
)
def agg_collect_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 collect-to-list report (the reference's driver-side accumulation
    as a distributed agg): sorted distinct sources per language, serialized
    to a '|'-joined string because the driver's canonicalizer (pandas
    sort_values) cannot hash raw array cells."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.concat_ws("|", F.sort_array(F.collect_set("source"))).alias("sources"),
        F.countDistinct("source").alias("n_sources"),
    )


@register(
    "emptiness_guard",
    oracle="""
    SELECT count(*) = 0 AS is_empty, count(*) AS n_violations
    FROM orders WHERE o_totalprice < 0
    """,
    tags=("P7", "SE3"),
)
def emptiness_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7/SE3 emptiness gate as a query: a data-quality predicate whose
    violation set must be empty (the drift gate's isEmpty check in
    relational form). Plans to a partial-count — no full scan
    materialization."""
    o = load(spark, sf_dir, "orders")
    violations = o.filter(F.col("o_totalprice") < 0)
    return violations.agg(
        (F.count(F.lit(1)) == 0).alias("is_empty"),
        F.count(F.lit(1)).alias("n_violations"),
    )


@register(
    "profile_table",
    oracle="""
    SELECT 'o_orderkey' AS column, count(*) AS n_rows,
           count(*) - count(o_orderkey) AS n_nulls,
           count(DISTINCT o_orderkey) AS n_distinct,
           CAST(min(o_orderkey) AS VARCHAR) AS min_value,
           CAST(max(o_orderkey) AS VARCHAR) AS max_value
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
           count(DISTINCT o_orderstatus),
           CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderdate', count(*), count(*) - count(o_orderdate),
           count(DISTINCT o_orderdate),
           CAST(min(o_orderdate) AS VARCHAR), CAST(max(o_orderdate) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
           count(DISTINCT o_orderpriority),
           CAST(min(o_orderpriority) AS VARCHAR), CAST(max(o_orderpriority) AS VARCHAR)
    FROM orders
    """,
    tags=("A4", "A5", "F3"),
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-scan data profile of orders (operators/profile.py): null counts,
    exact NDV, min/max per column. String/int/date columns only — double
    min/max stringification differs between engines."""
    from ..operators.profile import profile

    o = load(spark, sf_dir, "orders")
    return profile(o, ["o_orderkey", "o_orderstatus", "o_orderdate", "o_orderpriority"])


_HEXPOS = "strpos('0123456789abcdef', substr(d, {i}, 1)) - 1"
_SYN_WORDS = (
    "['alpha','bravo','charlie','delta','echo','foxtrot','golf','hotel',"
    "'india','juliet','kilo','lima','mike','november','oscar','papa',"
    "'quebec','romeo','sierra','tango']"
)


@register(
    "synthetic_source_scan",
    oracle=f"""
    WITH ids AS (
      SELECT i AS doc_id, md5(CAST(i AS VARCHAR)) AS d
      FROM generate_series(0, 4999) t(i)
    ), x AS (
      SELECT doc_id,
             ['en','es','zh','de','fr'][1 + ({_HEXPOS.format(i=1)}) % 5] AS lang,
             array_to_string(list_transform(range(0, 16), j ->
               {_SYN_WORDS}[1 + ((strpos('0123456789abcdef', substr(d, 2*j + 1, 1)) - 1) * 16
                              + (strpos('0123456789abcdef', substr(d, 2*j + 2, 1)) - 1)) % 20]
             ), ' ') AS text
      FROM ids
    )
    SELECT doc_id, text, lang, CAST(length(text) AS INT) AS n_chars FROM x
    """,
    tags=("SRC5", "U4"),
)
def synthetic_source_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource (Spark 4 V2 read path,
    sources/synthetic.py): 5,000 synthetic documents generated straight on
    the executors — partition planning + per-partition iterators, no
    backing storage, no driver materialization. Every cell derives from
    md5(doc_id), so DuckDB REGENERATES the identical table from
    generate_series — the source itself is under the exact-hash gate."""
    from ..sources import register_synthetic_source

    register_synthetic_source(spark)
    return (
        spark.read.format("synthetic_docs")
        .option("n", 5000)
        .option("num_partitions", 8)
        .load()
    )
