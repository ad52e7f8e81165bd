"""Multimodal/binary-column queries: real binary columns (encode text ->
bytes), byte lengths, content digests — and the real-codec pipeline
(q169), where payloads are genuine BMP/WAV/RBV1 bytes encoded AND decoded
executor-side by functions/codecs.py. decode_stats' capture-mode
quarantine is also unit-tested in tests/test_multimodal.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reddit_big_data_spark.functions.multimodal import (
    MEDIA_EVERY,
    decode_stats,
    synth_codec_media,
)
from reddit_big_data_spark.registry import register
from reddit_big_data_spark.sources.io import read_table


# --------------------------------------------------------------------------
# q52 — binary payload plumbing over `documents`: text -> binary payload,
# octet length, md5 digest dedup, hex prefix bucketing. Proves binary
# columns flow through scans/aggregations like any other type.
# --------------------------------------------------------------------------
@register(
    "q52_binary_payloads",
    oracle="""
    WITH b AS (
      SELECT source,
             encode(text) AS payload,
             octet_length(encode(text)) AS n_bytes,
             md5(text) AS digest
      FROM documents
    )
    SELECT source,
           COUNT(*) AS cnt,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           COUNT(DISTINCT digest) AS nd_digests,
           CAST(SUM(CASE WHEN substr(digest, 1, 1) < '8' THEN 1 ELSE 0 END) AS BIGINT)
             AS low_bucket
    FROM b
    GROUP BY source
    ORDER BY source
    """,
    doc="binary payloads: encode/octet_length/md5 digest aggregation",
)
def q52_binary_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    b = docs.select(
        "source",
        F.encode("text", "UTF-8").alias("payload"),
        F.length(F.encode("text", "UTF-8")).alias("n_bytes"),
        F.md5(F.encode("text", "UTF-8")).alias("digest"),
    )
    return (
        b.groupBy("source")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("n_bytes").alias("total_bytes"),
            F.countDistinct("digest").alias("nd_digests"),
            F.sum(
                F.when(F.substring("digest", 1, 1) < "8", 1).otherwise(0)
            ).alias("low_bucket"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q169 — REAL-codec decoded stats (VERDICT r12 #2) + PERMISSIVE quarantine
# (VERDICT r13 #5). One media row per documents row with doc_id % 29 == 0;
# payload unit values are a closed form of (doc_id, unit index), so Spark
# goes formula -> encode (real 24-bit BMP / 16-bit PCM WAV / RBV1 frame
# container) -> bytes -> DECODE -> integer stats, while the oracle replays
# the generative arithmetic directly. Position-weighted sums make the
# compare sensitive to row order, BGR<->RGB channel order, row padding,
# and RIFF chunk walking — any codec bug breaks the hash.
#
# PLANTED CORRUPTION: every media row with rank % 5 == 3 (rank = doc_id //
# 29) has its payload truncated to 3 bytes before decoding — at 500 docs
# that is exactly one corrupt payload per kind (ranks 3/8/13). The decode
# runs with on_error="capture", and the aggregate carries per-kind
# quarantine columns (count, quarantined-id sum, the codec's exact error
# message) that the oracle reproduces — proving under the driver hash
# that one bad blob costs one row, not the stage. All emissions are exact
# integers or fixed strings (operators/exact.py discipline: no
# cross-engine rounding exposure).
# --------------------------------------------------------------------------
@register(
    "q169_codec_stats",
    oracle="""
    WITH m AS (
      SELECT doc_id, doc_id // 29 AS rnk
      FROM documents
      WHERE doc_id % 29 = 0
    ),
    img AS (
      SELECT doc_id, rnk, 8 + rnk % 9 AS w, 8 + rnk % 7 AS h
      FROM m WHERE rnk % 3 = 0
    ),
    img_units AS (
      SELECT doc_id, w, h, unnest(range(w * h * 3)) AS i
      FROM img WHERE rnk % 5 <> 3
    ),
    img_doc AS (
      SELECT doc_id,
             SUM((doc_id * 7 + i * 13) % 256) AS vs,
             SUM((1 + i % 7) * ((doc_id * 7 + i * 13) % 256)) AS ws
      FROM img_units GROUP BY doc_id
    ),
    img_stats AS (
      SELECT 'image' AS kind,
             COUNT(*) FILTER (WHERE rnk % 5 <> 3) AS cnt,
             COALESCE(SUM(54 + h * ((w * 3 + 3) // 4 * 4))
                      FILTER (WHERE rnk % 5 <> 3), 0) AS pb,
             COALESCE(SUM(w * h * 3) FILTER (WHERE rnk % 5 <> 3), 0) AS un,
             COALESCE(SUM(d.vs), 0) AS vsum,
             COALESCE(SUM(d.ws), 0) AS wsum,
             COALESCE(SUM(w + h) FILTER (WHERE rnk % 5 <> 3), 0) AS dsum,
             COUNT(*) FILTER (WHERE rnk % 5 = 3) AS quar,
             COALESCE(SUM(doc_id) FILTER (WHERE rnk % 5 = 3), 0) AS qsum,
             CASE WHEN COUNT(*) FILTER (WHERE rnk % 5 = 3) > 0
                  THEN 'ValueError: decode_bmp: truncated header (3 bytes)'
                  ELSE '' END AS eclass
      FROM img LEFT JOIN img_doc d USING (doc_id)
      GROUP BY kind
    ),
    aud AS (
      SELECT doc_id, rnk, 256 + rnk % 199 AS n, 8000 + 100 * (rnk % 5) AS rate
      FROM m WHERE rnk % 3 = 1
    ),
    aud_units AS (
      SELECT doc_id, n, unnest(range(n)) AS i
      FROM aud WHERE rnk % 5 <> 3
    ),
    aud_doc AS (
      SELECT doc_id,
             SUM((doc_id * 31 + i * 17) % 4001 - 2000) AS vs,
             SUM((1 + i % 7) * ((doc_id * 31 + i * 17) % 4001 - 2000)) AS ws
      FROM aud_units GROUP BY doc_id
    ),
    aud_stats AS (
      SELECT 'audio' AS kind,
             COUNT(*) FILTER (WHERE rnk % 5 <> 3) AS cnt,
             COALESCE(SUM(44 + 2 * n) FILTER (WHERE rnk % 5 <> 3), 0) AS pb,
             COALESCE(SUM(n) FILTER (WHERE rnk % 5 <> 3), 0) AS un,
             COALESCE(SUM(d.vs), 0) AS vsum,
             COALESCE(SUM(d.ws), 0) AS wsum,
             COALESCE(SUM(rate) FILTER (WHERE rnk % 5 <> 3), 0) AS dsum,
             COUNT(*) FILTER (WHERE rnk % 5 = 3) AS quar,
             COALESCE(SUM(doc_id) FILTER (WHERE rnk % 5 = 3), 0) AS qsum,
             CASE WHEN COUNT(*) FILTER (WHERE rnk % 5 = 3) > 0
                  THEN 'ValueError: decode_wav: not a RIFF/WAVE stream'
                  ELSE '' END AS eclass
      FROM aud LEFT JOIN aud_doc d USING (doc_id)
      GROUP BY kind
    ),
    vid AS (
      SELECT doc_id, rnk, 1 + rnk % 4 AS nf FROM m WHERE rnk % 3 = 2
    ),
    vid_units AS (
      SELECT doc_id, nf, f, unnest(range(48)) AS i
      FROM (SELECT doc_id, nf, unnest(range(nf)) AS f
            FROM vid WHERE rnk % 5 <> 3)
    ),
    vid_doc AS (
      SELECT doc_id,
             SUM((doc_id * 7 + f * 29 + i * 13) % 256) AS vs,
             SUM((1 + (f * 48 + i) % 7)
                 * ((doc_id * 7 + f * 29 + i * 13) % 256)) AS ws
      FROM vid_units GROUP BY doc_id
    ),
    vid_stats AS (
      SELECT 'video' AS kind,
             COUNT(*) FILTER (WHERE rnk % 5 <> 3) AS cnt,
             COALESCE(SUM(8 + 106 * nf) FILTER (WHERE rnk % 5 <> 3), 0) AS pb,
             COALESCE(SUM(48 * nf) FILTER (WHERE rnk % 5 <> 3), 0) AS un,
             COALESCE(SUM(d.vs), 0) AS vsum,
             COALESCE(SUM(d.ws), 0) AS wsum,
             COALESCE(SUM(nf) FILTER (WHERE rnk % 5 <> 3), 0) AS dsum,
             COUNT(*) FILTER (WHERE rnk % 5 = 3) AS quar,
             COALESCE(SUM(doc_id) FILTER (WHERE rnk % 5 = 3), 0) AS qsum,
             CASE WHEN COUNT(*) FILTER (WHERE rnk % 5 = 3) > 0
                  THEN 'ValueError: decode_frames: bad RBV1 magic'
                  ELSE '' END AS eclass
      FROM vid LEFT JOIN vid_doc d USING (doc_id)
      GROUP BY kind
    )
    SELECT kind,
           CAST(cnt AS BIGINT) AS cnt,
           CAST(pb AS BIGINT) AS total_payload_bytes,
           CAST(un AS BIGINT) AS total_units,
           CAST(vsum AS BIGINT) AS value_sum,
           CAST(wsum AS BIGINT) AS weighted_sum,
           CAST(dsum AS BIGINT) AS dim_sum,
           CAST(quar AS BIGINT) AS quarantined,
           CAST(qsum AS BIGINT) AS quarantine_id_sum,
           eclass AS decode_error_class
    FROM (
      SELECT * FROM img_stats
      UNION ALL SELECT * FROM aud_stats
      UNION ALL SELECT * FROM vid_stats
    )
    ORDER BY kind
    """,
    doc=(
        "real BMP/WAV/RBV1 codec round trip with planted corrupt payloads: "
        "decoded integer stats + quarantine columns per kind"
    ),
)
def q169_codec_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ids = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % MEDIA_EVERY == 0)
    )
    media = synth_codec_media(ids)
    # plant corruption: truncate every rank%5==3 payload to 3 bytes — too
    # short for any of the three formats' magic, so each kind's codec
    # rejects it with its own deterministic ValueError
    rank = F.expr(f"media_id div {MEDIA_EVERY}")
    corrupted = media.withColumn(
        "payload",
        F.when(
            rank % 5 == 3, F.substring("payload", 1, 3).cast("binary")
        ).otherwise(F.col("payload")),
    )
    stats = decode_stats(corrupted, on_error="capture")
    good = F.col("decode_error").isNull()
    return (
        stats.groupBy("kind")
        .agg(
            F.sum(good.cast("long")).alias("cnt"),
            F.sum(F.when(good, F.col("payload_bytes")).otherwise(F.lit(0)))
            .alias("total_payload_bytes"),
            F.sum(F.when(good, F.col("units")).otherwise(F.lit(0)))
            .alias("total_units"),
            F.sum(F.when(good, F.col("value_sum")).otherwise(F.lit(0)))
            .alias("value_sum"),
            F.sum(F.when(good, F.col("weighted_sum")).otherwise(F.lit(0)))
            .alias("weighted_sum"),
            F.sum(F.when(good, F.col("dim_sum")).otherwise(F.lit(0)))
            .alias("dim_sum"),
            F.sum((~good).cast("long")).alias("quarantined"),
            F.sum(F.when(~good, F.col("media_id")).otherwise(F.lit(0)))
            .alias("quarantine_id_sum"),
            F.coalesce(
                F.max(F.when(~good, F.col("decode_error"))), F.lit("")
            ).alias("decode_error_class"),
        )
        .orderBy("kind")
    )
