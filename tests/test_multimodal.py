"""Multimodal plumbing tests: binary payload column + mapInPandas
decode/feature/frame-sample (stub codec — SURVEY north-star)."""

from __future__ import annotations

import hashlib

import pytest

from pyspark.sql import functions as F

from i3cols_spark.functions.multimodal import (
    attach_fake_media,
    extract_features,
    frame_sample,
)
from i3cols_spark.sources.tables import table


def test_extract_features_shapes_and_determinism(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").limit(50)
    media = attach_fake_media(docs)
    feats = extract_features(media)
    rows = {r["media_id"]: r for r in feats.collect()}
    assert len(rows) == 50
    src = {r["doc_id"]: r["text"] for r in docs.collect()}
    for mid, r in rows.items():
        payload = src[mid].encode()
        assert r["n_bytes"] == len(payload)
        assert r["checksum"] == hashlib.md5(payload).hexdigest()
        expected = [float(b) for b in payload[::8][:32]]
        assert r["features"] == pytest.approx(expected)


def test_unknown_media_type_raises_cleanly(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").limit(1)
    media = attach_fake_media(docs).withColumn("media_type", F.lit("video/mp4"))
    with pytest.raises(Exception, match="NotImplementedError|unknown media_type"):
        extract_features(media).collect()


def test_frame_sample_reduces_payload(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").limit(10)
    media = attach_fake_media(docs)
    sampled = frame_sample(media, every_n=4)
    joined = (
        media.select("media_id", F.octet_length("payload").alias("n0"))
        .join(
            sampled.select("media_id", F.octet_length("payload").alias("n1")),
            "media_id",
        )
        .collect()
    )
    for r in joined:
        assert r["n1"] <= r["n0"] // 4 + 8


def test_resize_halves_payload_and_metadata(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").limit(10)
    media = attach_fake_media(docs).withColumn("width", F.lit(640)).withColumn(
        "height", F.lit(480)
    )
    from i3cols_spark.functions.multimodal import resize_media

    resized = resize_media(media, factor=2)
    rows = (
        media.select("media_id", F.octet_length("payload").alias("n0"))
        .join(
            resized.select(
                "media_id",
                F.octet_length("payload").alias("n1"),
                "width",
                "height",
            ),
            "media_id",
        )
        .collect()
    )
    assert rows
    for r in rows:
        assert r["n1"] == (r["n0"] + 1) // 2
        assert r["width"] == 320 and r["height"] == 240


def test_video_with_zero_frames_raises_value_error(spark):
    """An AVI whose movi list holds no frames must produce a clear
    per-payload ValueError, not a NaN mean_luma."""
    import struct

    from i3cols_spark.functions.multimodal import extract_video_features

    avih = b"avih" + struct.pack("<I", 56) + struct.pack(
        "<14I", 0, 0, 0, 0, 0, 0, 0, 0, 16, 16, 0, 0, 0, 0
    )
    strh = (
        b"strh" + struct.pack("<I", 28)
        + b"vids" + b"MJPG" + b"\x00" * 12 + struct.pack("<II", 1, 10)
    )
    body = b"AVI " + avih + strh
    payload = b"RIFF" + struct.pack("<I", len(body)) + body

    df = spark.createDataFrame([(1, bytearray(payload))], "media_id long, payload binary")
    with pytest.raises(Exception, match="no frames"):
        extract_video_features(df).collect()


def test_ahash_bits_closed_form():
    """Pure-Python aHash pins: a uniform image has NO bits set (no
    sample strictly exceeds the mean), and a half-black/half-white
    image sets exactly the bright half's bits."""
    from i3cols_spark.functions.multimodal import ahash_bits

    uniform = bytes([7, 7, 7]) * (8 * 8)
    assert ahash_bits(8, 8, uniform) == 0

    # top 4 rows black, bottom 4 rows white (8x8 RGB): grid rows 0-1
    # sample rows 0,2 (black), grid rows 2-3 sample rows 4,6 (white).
    px = bytes([0, 0, 0]) * (8 * 4) + bytes([255, 255, 255]) * (8 * 4)
    h = ahash_bits(8, 8, px)
    assert h == sum(1 << k for k in range(8, 16))


def test_image_ahash_duplicates_collide_and_distinct_split(spark):
    """The dedup claim itself: identical pixel content under different
    media ids produces the SAME ahash; clearly different content does
    not — through the real BMP encode→decode→hash path."""
    from i3cols_spark.functions.codecs import ImageData, encode_bmp
    from i3cols_spark.functions.multimodal import image_ahash

    def bmp(seed: int) -> bytearray:
        px = bytes((seed * 31 + 7 * i) % 256 for i in range(6 * 4 * 3))
        return bytearray(encode_bmp(ImageData(width=6, height=4, channels=3, pixels=px)))

    rows = [(0, bmp(1)), (2, bmp(1)), (4, bmp(2)), (6, bmp(200))]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r["ahash"] for r in image_ahash(df).collect()}
    assert got[0] == got[2]
    assert len({got[0], got[4], got[6]}) == 3


def test_audio_delta_fingerprint_closed_form():
    """Pure-Python fingerprint pins: monotone-rising PCM sets every
    bit, constant PCM none, and a single-sample clip fingerprints 0."""
    from i3cols_spark.functions.multimodal import audio_delta_fingerprint

    assert audio_delta_fingerprint(list(range(100))) == 0xFFFF
    assert audio_delta_fingerprint([5] * 100) == 0
    assert audio_delta_fingerprint([42]) == 0
    # one falling step in an otherwise rising ramp clears exactly the
    # bits whose grid interval spans the drop
    samples = list(range(8)) + [0] + list(range(9, 17))  # 17 samples
    fp = audio_delta_fingerprint(samples)  # grid = every sample (n-1=16)
    assert fp == 0xFFFF - (1 << 7)  # the k=7→8 step (7→0) is the one drop


def test_audio_fingerprints_duplicates_collide(spark):
    """Identical PCM under different media ids fingerprints identically
    through the real WAV encode→decode path; different content splits."""
    from i3cols_spark.functions.codecs import AudioData, encode_wav
    from i3cols_spark.functions.multimodal import audio_fingerprints

    def wav(seed: int) -> bytearray:
        frames = bytes((seed * 37 + 11 * i) % 256 for i in range(40))
        return bytearray(encode_wav(AudioData(
            sample_rate=8000, channels=1, sample_width=2,
            n_frames=20, frames=frames,
        )))

    rows = [(1, wav(3)), (3, wav(3)), (5, wav(8))]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r["afp"] for r in audio_fingerprints(df).collect()}
    assert got[1] == got[3]
    assert got[5] != got[1]


def test_hamming_band_split_has_perfect_recall():
    """The 6/5/5 band split's pigeonhole guarantee, exhaustively: for
    EVERY 16-bit xor pattern with ≤2 set bits, at least one band is
    all-zero (so the banded self-join cannot miss a ≤2-distance pair)."""
    import itertools

    def bands(x: int) -> tuple[int, int, int]:
        return (x & 63, (x >> 6) & 31, (x >> 11) & 31)

    patterns = [0] + [1 << i for i in range(16)] + [
        (1 << i) | (1 << j) for i, j in itertools.combinations(range(16), 2)
    ]
    for p in patterns:
        assert 0 in bands(p), f"xor pattern {p:#06x} escapes every band"
    # and the guarantee is TIGHT: some 3-bit pattern escapes all bands
    assert any(
        0 not in bands((1 << a) | (1 << b) | (1 << c))
        for a, b, c in itertools.combinations(range(16), 3)
    )
