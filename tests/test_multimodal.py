"""Media decode tests: decode_stats (the q169 decoder) over genuine
BMP/WAV/RBV1 payloads, with its on_error="capture" quarantine."""

from __future__ import annotations

import pytest

from reddit_big_data_spark.functions.multimodal import synth_codec_media


def test_decode_stats_capture_quarantines_and_raise_fails(spark):
    """decode_stats(on_error='capture') (VERDICT r13 #5, the q169 path):
    a truncated payload becomes ONE zero-stat row carrying the codec's
    ValueError, good rows keep their exact decoded stats, row count is
    preserved; raise mode still fails the stage on the same input."""
    from pyspark.sql import functions as F

    from reddit_big_data_spark.functions.multimodal import (
        DECODED_STATS_CAPTURE_SCHEMA,
        MEDIA_EVERY,
        decode_stats,
    )

    ids = spark.range(6).select((F.col("id") * MEDIA_EVERY).alias("doc_id"))
    media = synth_codec_media(ids)
    corrupted = media.withColumn(
        "payload",
        F.when(
            F.col("media_id") == 3 * MEDIA_EVERY,  # rank 3: an image
            F.substring("payload", 1, 3).cast("binary"),
        ).otherwise(F.col("payload")),
    )
    out = decode_stats(corrupted, on_error="capture")
    assert out.schema == DECODED_STATS_CAPTURE_SCHEMA
    rows = {r["media_id"]: r for r in out.collect()}
    assert len(rows) == 6
    bad = rows[3 * MEDIA_EVERY]
    assert bad["decode_error"] == (
        "ValueError: decode_bmp: truncated header (3 bytes)"
    )
    assert (bad["units"], bad["value_sum"], bad["weighted_sum"]) == (0, 0, 0)
    assert bad["payload_bytes"] == 3
    good = {r for mid, r in rows.items() if mid != 3 * MEDIA_EVERY}
    assert all(r["decode_error"] is None and r["units"] > 0 for r in good)
    with pytest.raises(Exception):
        decode_stats(corrupted).collect()
    with pytest.raises(ValueError, match="on_error"):
        decode_stats(media, on_error="ignore")


def test_decode_stats_capture_quarantines_null_payload_and_bad_kind(spark):
    """Review r14: MEDIA_SCHEMA leaves payload nullable and kind is
    caller data — a NULL payload or an unknown kind must cost ONE
    quarantined row in capture mode (honest messages, not TypeError
    failing the stage or 'bad RBV1 magic' misattributed to a bad kind)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from reddit_big_data_spark.functions.multimodal import (
        MEDIA_EVERY,
        decode_stats,
    )

    media = synth_codec_media(
        spark.range(3).select((F.col("id") * MEDIA_EVERY).alias("doc_id"))
    )
    broken = media.withColumn(
        "payload",
        F.when(F.col("media_id") == 0, F.lit(None).cast("binary")).otherwise(
            F.col("payload")
        ),
    ).withColumn(
        "kind",
        F.when(F.col("media_id") == MEDIA_EVERY, F.lit("hologram")).otherwise(
            F.col("kind")
        ),
    )
    rows = {r["media_id"]: r for r in decode_stats(broken, on_error="capture").collect()}
    assert len(rows) == 3
    assert rows[0]["decode_error"] == "ValueError: decode_stats: NULL payload"
    assert rows[0]["payload_bytes"] == 0 and rows[0]["units"] == 0
    assert rows[MEDIA_EVERY]["decode_error"] == (
        "ValueError: decode_stats: unknown kind 'hologram'"
    )
    assert rows[2 * MEDIA_EVERY]["decode_error"] is None
