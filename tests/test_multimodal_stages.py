"""Multimodal pipeline stages (SURVEY.md §2 C5): frame sampling and
resize over opaque binary payloads — the Spark-side plumbing (schemas,
Arrow batching, one-to-many fan-out) with deterministic byte-level fakes
standing in for codec work."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.multimodal import (
    build_codec_assets,
    decode_asset,
    decode_bmp,
    decode_codec_features,
    decode_image,
    decode_ppm,
    decode_wav,
    encode_bmp_gray,
    encode_ppm_gray,
    encode_wav_pcm16,
    resize_assets,
    sample_frames,
)


@pytest.fixture(scope="module")
def assets(spark):
    rows = [
        (1, "video", bytes(range(256)) * 2),   # 512 B → 8 frames of 64
        (2, "video", b"tiny"),                 # < one frame
        (3, "image", bytes(range(100, 200))),  # 100 B → 2 frames
    ]
    return spark.createDataFrame(
        rows, "asset_id long, modality string, payload binary"
    )


def test_sample_frames_one_to_many(assets):
    out = sample_frames(assets).collect()
    by_asset = {}
    for r in out:
        by_asset.setdefault(r["asset_id"], []).append(r)
    # 512 B → 8 frames, sampled at 0,4
    a1 = sorted(by_asset[1], key=lambda r: r["frame_idx"])
    assert [r["frame_idx"] for r in a1] == [0, 4]
    assert all(r["n_frames"] == 8 for r in a1)
    assert a1[0]["frame"] == bytes(range(64))
    # tiny payload → exactly one frame containing everything
    (a2,) = by_asset[2]
    assert (a2["frame_idx"], a2["n_frames"], bytes(a2["frame"])) == (0, 1, b"tiny")
    # 100 B → 2 frames, every 4th → only frame 0
    (a3,) = by_asset[3]
    assert a3["n_frames"] == 2 and a3["frame_idx"] == 0


def test_resize_assets_exact_target(assets):
    out = {r["asset_id"]: r for r in resize_assets(assets, target_bytes=32).collect()}
    assert out[1]["n_bytes"] == 32 and len(out[1]["payload"]) == 32
    # stride sampling keeps first byte
    assert out[1]["payload"][0] == 0
    # short payloads pass through untouched
    assert bytes(out[2]["payload"]) == b"tiny" and out[2]["n_bytes"] == 4
    assert out[1]["modality"] == "video"


def test_resize_is_deterministic(assets):
    a = resize_assets(assets, target_bytes=32).orderBy("asset_id").collect()
    b = resize_assets(assets, target_bytes=32).orderBy("asset_id").collect()
    assert [bytes(r["payload"]) for r in a] == [bytes(r["payload"]) for r in b]


VALUES = [0, 1, 17, 128, 200, 255, 3]  # odd length exercises RIFF padding


def test_wav_roundtrip():
    d = decode_wav(encode_wav_pcm16(VALUES, sample_rate=8000))
    assert (d["sample_rate"], d["n_channels"], d["bit_depth"]) == (8000, 1, 16)
    assert list(d["values"]) == VALUES


def test_wav_negative_samples_roundtrip():
    samples = [-32768, -1, 0, 32767]
    assert list(decode_wav(encode_wav_pcm16(samples))["values"]) == samples


def test_bmp_roundtrip_unreverses_bottom_up_rows():
    d = decode_bmp(encode_bmp_gray(VALUES))
    assert (d["width"], d["height"], d["bit_depth"]) == (1, len(VALUES), 24)
    assert list(d["values"]) == VALUES  # order restored despite bottom-up file


def test_ppm_roundtrip_and_comment_tolerance():
    d = decode_ppm(encode_ppm_gray(VALUES))
    assert (d["width"], d["height"], d["bit_depth"]) == (1, len(VALUES), 8)
    assert list(d["values"]) == VALUES
    with_comment = b"P6\n# a comment\n1 2\n255\n" + bytes((9, 9, 9, 4, 4, 4))
    d2 = decode_ppm(with_comment)
    assert (d2["width"], d2["height"], list(d2["values"])) == (1, 2, [9, 4])


def test_decode_asset_dispatch_and_errors():
    assert decode_asset(encode_wav_pcm16([5]))["container"] == "wav"
    assert decode_asset(encode_bmp_gray([5]))["container"] == "bmp"
    assert decode_asset(encode_ppm_gray([5]))["container"] == "ppm"
    with pytest.raises(ValueError):       # unknown magic (PNG needs a codec lib)
        decode_asset(b"\x89PNG\r\n\x1a\n")
    with pytest.raises(ValueError):       # truncated raster
        decode_asset(encode_bmp_gray(VALUES)[:-3])
    with pytest.raises(ValueError):       # truncated data chunk
        decode_asset(encode_wav_pcm16(VALUES)[:-1])


def test_decode_image_rejects_audio():
    assert decode_image(encode_ppm_gray([7]))["container"] == "ppm"
    with pytest.raises(ValueError):
        decode_image(encode_wav_pcm16([7]))


def test_codec_assets_spark_roundtrip(spark):
    docs = spark.createDataFrame(
        [(0, "abc"), (1, "Z"), (2, "hello!"), (3, "é€ x")],
        "doc_id long, text string",
    )
    feats = {
        r["asset_id"]: r
        for r in decode_codec_features(build_codec_assets(docs)).collect()
    }
    assert feats[0]["container"] == "wav" and feats[0]["sample_rate"] == 16000
    assert feats[1]["container"] == "bmp" and feats[1]["height"] == 1
    assert feats[2]["container"] == "ppm" and feats[2]["n_values"] == 6
    # code points mod 256, independent of container
    for doc_id, text in ((0, "abc"), (1, "Z"), (2, "hello!"), (3, "é€ x")):
        vals = [ord(c) % 256 for c in text]
        r = feats[doc_id]
        assert r["value_sum_mod"] == sum(vals) % 997
        assert r["value_min"] == min(vals) and r["value_max"] == max(vals)
        assert r["n_values"] == len(vals)
