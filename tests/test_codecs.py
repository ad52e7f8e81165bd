"""Unit tests for the pure-Python media codecs (functions/codecs.py):
byte-exact round trips across awkward dimensions (row padding, bottom-up
vs top-down storage, odd RIFF chunks) and specific ValueError failures
on malformed input — real codec behavior, replacing the
NotImplementedError stubs (VERDICT r12 #2).
No Spark session needed: these are the bytes-level kernels the
mapInPandas plumbing calls executor-side."""

from __future__ import annotations

import struct

import pytest

from reddit_big_data_spark.functions.codecs import (
    bmp_row_stride,
    decode_bmp,
    decode_frames,
    decode_wav,
    encode_bmp,
    encode_frames,
    encode_wav,
)


@pytest.mark.parametrize(
    "w,h", [(1, 1), (4, 4), (9, 7), (16, 14), (8, 8), (3, 2), (5, 1)]
)
def test_bmp_round_trip_all_padding_widths(w, h):
    px = bytes((i * 13 + 5) % 256 for i in range(w * h * 3))
    enc = encode_bmp(px, w, h)
    assert len(enc) == 54 + h * bmp_row_stride(w)
    assert enc[:2] == b"BM"
    assert decode_bmp(enc) == (w, h, px)


def test_bmp_decode_top_down_variant():
    """Negative biHeight = top-down row storage must decode to the same
    top-down RGB pixels as the bottom-up default."""
    px = bytes(range(4 * 2 * 3))
    enc = encode_bmp(px, 4, 2)
    hdr = bytearray(enc[:54])
    struct.pack_into("<i", hdr, 22, -2)  # biHeight -> -2
    stride = bmp_row_stride(4)
    body = enc[54:]
    top_down = bytes(hdr) + body[stride:] + body[:stride]
    assert decode_bmp(top_down) == (4, 2, px)


def test_bmp_errors_are_specific():
    with pytest.raises(ValueError, match="truncated header"):
        decode_bmp(b"")
    with pytest.raises(ValueError, match="bad magic"):
        decode_bmp(b"XX" + bytes(60))
    with pytest.raises(ValueError, match="truncated pixel data"):
        decode_bmp(encode_bmp(bytes(3), 1, 1)[:-1])
    with pytest.raises(ValueError, match="only 24-bit"):
        bad = bytearray(encode_bmp(bytes(3), 1, 1))
        struct.pack_into("<H", bad, 28, 8)  # bpp -> 8
        decode_bmp(bytes(bad))
    with pytest.raises(ValueError, match="need 12 RGB bytes"):
        encode_bmp(bytes(5), 2, 2)


def test_wav_round_trip_and_header_size():
    samples = [((i * 17) % 4001) - 2000 for i in range(300)]
    wav = encode_wav(samples, 16000)
    assert len(wav) == 44 + 2 * len(samples)
    assert decode_wav(wav) == (16000, 1, samples)
    assert decode_wav(encode_wav([], 8000)) == (8000, 1, [])


def test_wav_skips_unknown_odd_chunks():
    """RIFF chunk walk: an unknown odd-sized chunk (padded to even, per
    the spec) before `data` must be skipped, not break parsing."""
    samples = [1, -2, 3]
    wav = encode_wav(samples, 8000)
    extra = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"
    patched = wav[:12] + extra + wav[12:]
    patched = patched[:4] + struct.pack("<I", len(patched) - 8) + patched[8:]
    assert decode_wav(patched) == (8000, 1, samples)


def test_wav_errors_are_specific():
    with pytest.raises(ValueError, match="not a RIFF/WAVE"):
        decode_wav(b"abcd" + bytes(20))
    with pytest.raises(ValueError, match="missing fmt or data"):
        decode_wav(b"RIFF" + struct.pack("<I", 4) + b"WAVE")
    with pytest.raises(ValueError, match="only PCM"):
        bad = bytearray(encode_wav([0], 8000))
        struct.pack_into("<H", bad, 20, 3)  # IEEE float fmt tag
        decode_wav(bytes(bad))
    # ADVICE r13: an odd data chunk cannot hold whole 16-bit samples —
    # strict raise, never a silent last-byte drop
    with pytest.raises(ValueError, match="odd data chunk length 3"):
        wav = encode_wav([1, 2], 8000)
        odd = wav[:40] + struct.pack("<I", 3) + wav[44:47]
        decode_wav(odd)


def test_frames_container_round_trip():
    f1 = encode_bmp(bytes(48), 4, 4)
    f2 = encode_bmp(bytes(range(48)), 4, 4)
    c = encode_frames([f1, f2])
    assert len(c) == 8 + 2 * (4 + 102)
    assert decode_frames(c) == [f1, f2]
    assert decode_frames(encode_frames([])) == []


def test_frames_container_errors():
    with pytest.raises(ValueError, match="bad RBV1 magic"):
        decode_frames(b"XXXX" + bytes(8))
    with pytest.raises(ValueError, match="truncated at frame 0 body"):
        decode_frames(b"RBV1" + struct.pack("<I", 1) + struct.pack("<I", 5))
    with pytest.raises(ValueError, match="trailing bytes"):
        decode_frames(encode_frames([b"ab"]) + b"junk")


# ---------------------------------------------------------------------------
# Property tests (hypothesis): round-trip identity over ARBITRARY inputs —
# the codec invariants a fixed fixture can't pin (pure Python, no Spark,
# so these afford many examples).
# ---------------------------------------------------------------------------
from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=50, deadline=None)
@given(
    w=st.integers(1, 24),
    h=st.integers(1, 16),
    data=st.data(),
)
def test_bmp_round_trip_property(w, h, data):
    px = bytes(
        data.draw(
            st.lists(
                st.integers(0, 255), min_size=w * h * 3, max_size=w * h * 3
            )
        )
    )
    assert decode_bmp(encode_bmp(px, w, h)) == (w, h, px)


@settings(max_examples=50, deadline=None)
@given(
    samples=st.lists(st.integers(-32768, 32767), max_size=600),
    rate=st.integers(1, 192000),
)
def test_wav_round_trip_property(samples, rate):
    assert decode_wav(encode_wav(samples, rate)) == (rate, 1, samples)


@settings(max_examples=50, deadline=None)
@given(frames=st.lists(st.binary(max_size=200), max_size=10))
def test_frames_round_trip_property(frames):
    assert decode_frames(encode_frames(frames)) == frames


def test_wav_decodes_stereo_interleaved():
    """Multi-channel PCM: hand-build a 2-channel fmt + interleaved data
    chunk (the encoder is mono-only by design; the decoder must still
    report channels=2 and the interleaved samples verbatim)."""
    import struct as _struct

    samples = [10, -10, 20, -20, 30, -30]  # L,R interleaved
    data = _struct.pack("<6h", *samples)
    fmt = _struct.pack("<HHIIHH", 1, 2, 8000, 8000 * 4, 4, 16)
    wav = (
        b"RIFF"
        + _struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt " + _struct.pack("<I", len(fmt)) + fmt
        + b"data" + _struct.pack("<I", len(data)) + data
    )
    assert decode_wav(wav) == (8000, 2, samples)


# --------------------------------------------------------------------------
# Malformed-input fuzz (round 14): capture-mode quarantine
# (functions/multimodal.py) propagates every NON-ValueError as a decoder
# implementation bug that fails the whole stage — so the codec contract
# "malformed bytes raise ValueError, nothing else" is load-bearing for
# the 100 TB corrupt-blob story. Pin it over arbitrary byte soup AND
# over every truncation prefix of VALID payloads (the realistic
# corruption: a blob cut off mid-write).
# --------------------------------------------------------------------------
@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=400))
def test_decoders_raise_only_valueerror_on_arbitrary_bytes(data):
    for dec in (decode_bmp, decode_wav, decode_frames):
        try:
            dec(data)
        except ValueError:
            pass  # the contract — anything else propagates and fails


@settings(max_examples=80, deadline=None)
@given(st.data())
def test_decoders_raise_only_valueerror_on_truncated_valid_payloads(data):
    kind = data.draw(st.sampled_from(["bmp", "wav", "frames"]))
    if kind == "bmp":
        payload = encode_bmp(bytes(range(9)) * 5, 5, 3)
        dec = decode_bmp
    elif kind == "wav":
        payload = encode_wav([i * 37 % 4001 - 2000 for i in range(40)], 8000)
        dec = decode_wav
    else:
        payload = encode_frames([encode_bmp(bytes(48), 4, 4)] * 2)
        dec = decode_frames
    cut = data.draw(st.integers(0, len(payload) - 1))
    try:
        dec(payload[:cut])
    except ValueError:
        pass  # the contract
