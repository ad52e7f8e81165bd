"""Multimodal columns: image/audio/video as opaque `binary` payloads with
typed metadata, processed via Arrow-batched `mapInPandas`.

Not in the reference (text-only corpus); an LLM-pipeline extension. One
encode path and one decode path, both run by q169:

- ``synth_codec_media`` encodes REAL payloads (24-bit BMP images, 16-bit
  PCM WAV audio, RBV1 frame-container video) through functions/codecs.py;
- ``decode_stats`` decodes them with the same codecs, which raise
  ValueError on malformed payloads; ``on_error="capture"`` quarantines
  such rows instead of failing the stage. A production deployment swaps
  in PIL/torchaudio behind the same contract.

Scale notes: payloads stay in executor Arrow batches end to end — no
collect, no base64 detours through strings; mapInPandas streams
batch-by-batch so one huge payload doesn't pin a whole partition in
memory at once.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from reddit_big_data_spark.functions import codecs

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("sample_rate", T.IntegerType()),
                    T.StructField("duration_s", T.DoubleType()),
                ]
            ),
        ),
    ]
)

# ---------------------------------------------------------------------------
# Real-codec media synthesis + decoded-stats — the q169 pipeline.
#
# Payload CONTENT is a closed-form function of (doc_id, unit index), so a
# DuckDB oracle can replay the generative arithmetic while the Spark side
# goes the long way round: formula -> encode_bmp/encode_wav/encode_frames
# -> real bytes -> decode -> stats. Any header, padding, row-order,
# channel-order, or chunk-walk bug in the codecs breaks the match.
# ---------------------------------------------------------------------------

# One media row per doc with doc_id % MEDIA_EVERY == 0; rank = doc_id //
# MEDIA_EVERY drives kind + dimensions. Mirrored verbatim in the q169
# oracle SQL (queries/multimodal.py) — change BOTH or neither.
MEDIA_EVERY = 29


def _codec_media_params(doc_id: int) -> dict:
    rank = doc_id // MEDIA_EVERY
    kind = ("image", "audio", "video")[rank % 3]
    return {
        "rank": rank,
        "kind": kind,
        "width": 8 + rank % 9,        # image
        "height": 8 + rank % 7,
        "n_samples": 256 + rank % 199,  # audio
        "sample_rate": 8000 + 100 * (rank % 5),
        "n_frames": 1 + rank % 4,     # video (4x4 BMP frames)
    }


def _synth_payload(doc_id: int) -> tuple[str, bytes]:
    """(kind, REAL encoded payload) for one media row, from the closed-form
    unit values the oracle replays."""
    p = _codec_media_params(doc_id)
    if p["kind"] == "image":
        w, h = p["width"], p["height"]
        px = bytes((doc_id * 7 + i * 13) % 256 for i in range(w * h * 3))
        return "image", codecs.encode_bmp(px, w, h)
    if p["kind"] == "audio":
        n = p["n_samples"]
        samples = [(doc_id * 31 + i * 17) % 4001 - 2000 for i in range(n)]
        return "audio", codecs.encode_wav(samples, p["sample_rate"])
    frames = [
        codecs.encode_bmp(
            bytes((doc_id * 7 + f * 29 + i * 13) % 256 for i in range(48)), 4, 4
        )
        for f in range(p["n_frames"])
    ]
    return "video", codecs.encode_frames(frames)


def synth_codec_media(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """One REAL-format media row per input id: BMP / WAV / RBV1 payloads
    encoded executor-side via mapInPandas (Arrow batches; no driver bytes).
    Returns MEDIA_SCHEMA."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"media_id": [], "kind": [], "payload": [], "meta": []}
            for doc_id in pdf[id_col]:
                doc_id = int(doc_id)
                p = _codec_media_params(doc_id)
                kind, payload = _synth_payload(doc_id)
                rows["media_id"].append(doc_id)
                rows["kind"].append(kind)
                rows["payload"].append(payload)
                rows["meta"].append(
                    {
                        "width": p["width"] if kind != "audio" else 0,
                        "height": p["height"] if kind != "audio" else 0,
                        "sample_rate": p["sample_rate"] if kind == "audio" else 0,
                        "duration_s": (
                            p["n_samples"] / p["sample_rate"]
                            if kind == "audio"
                            else float(p["n_frames"] if kind == "video" else 0)
                        ),
                    }
                )
            yield pd.DataFrame(rows)

    return ids.select(id_col).mapInPandas(run, schema=MEDIA_SCHEMA)


DECODED_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("payload_bytes", T.LongType(), False),
        T.StructField("units", T.LongType(), False),       # pixel bytes / samples
        T.StructField("value_sum", T.LongType(), False),   # sum of unit values
        T.StructField("weighted_sum", T.LongType(), False),  # sum (1 + i%7) * v_i
        T.StructField("dim_sum", T.LongType(), False),     # w+h / rate / n_frames
    ]
)


# decode_stats(on_error="capture"): Spark's PERMISSIVE malformed-record
# convention applied to media blobs — the stat columns stay non-null
# (zeroed) and decode_error carries the codec's ValueError for rejected
# payloads.
DECODED_STATS_CAPTURE_SCHEMA = T.StructType(
    DECODED_STATS_SCHEMA.fields
    + [T.StructField("decode_error", T.StringType(), True)]
)


def decode_stats(media: DataFrame, on_error: str = "raise") -> DataFrame:
    """Integer stats computed from the DECODED payloads (never from the
    generative formula): position-weighted sums make the check sensitive
    to row order, channel order, and padding handling, not just totals.

    `on_error="capture"` quarantines malformed payloads (codec
    ValueError) as zero-stat rows with the message in `decode_error`
    instead of failing the stage — one bad blob costs one row, the
    100 TB media-corpus behavior. Non-ValueError exceptions are decoder
    implementation bugs and propagate either way (ADVICE r13)."""
    if on_error not in ("raise", "capture"):
        raise ValueError(f"on_error must be 'raise' or 'capture', got {on_error!r}")
    capture = on_error == "capture"

    def stats_of(kind: str, payload: bytes) -> tuple[int, int, int, int]:
        # NULL payload and unknown kind are MALFORMED-ROW conditions, not
        # code bugs: raise ValueError so capture mode quarantines them
        # per-row instead of a TypeError failing the stage (review r14;
        # MEDIA_SCHEMA declares payload nullable, and misattributing a
        # bad `kind` to decode_frames would report 'bad RBV1 magic' for
        # a row whose payload may be perfectly valid).
        if payload is None:
            raise ValueError("decode_stats: NULL payload")
        data = bytes(payload)
        if kind == "image":
            w, h, px = codecs.decode_bmp(data)
            vals = list(px)
            dim = w + h
        elif kind == "audio":
            rate, _ch, vals = codecs.decode_wav(data)
            dim = rate
        elif kind == "video":
            decoded = [codecs.decode_bmp(f) for f in codecs.decode_frames(data)]
            vals = [v for _, _, px in decoded for v in px]
            dim = len(decoded)
        else:
            raise ValueError(f"decode_stats: unknown kind {kind!r}")
        return (
            len(vals),
            sum(vals),
            sum((1 + i % 7) * v for i, v in enumerate(vals)),
            dim,
        )

    schema = DECODED_STATS_CAPTURE_SCHEMA if capture else DECODED_STATS_SCHEMA

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k.name: [] for k in schema.fields}
            for mid, kind, payload in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"]
            ):
                err = None
                if capture:
                    try:
                        units, vsum, wsum, dim = stats_of(kind, payload)
                    except ValueError as exc:
                        units = vsum = wsum = dim = 0
                        err = f"{type(exc).__name__}: {exc}"
                else:
                    units, vsum, wsum, dim = stats_of(kind, payload)
                out["media_id"].append(int(mid))
                out["kind"].append(kind)
                out["payload_bytes"].append(0 if payload is None else len(payload))
                out["units"].append(units)
                out["value_sum"].append(vsum)
                out["weighted_sum"].append(wsum)
                out["dim_sum"].append(dim)
                if capture:
                    out["decode_error"].append(err)
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=schema)

