"""Multimodal pipeline stages (SURVEY.md §2 C5): the dependency-free
WAV / BMP / PPM codecs round-trip byte-exactly, and the Arrow-batched
decode stage reads them back in Spark."""

from __future__ import annotations

import pytest

from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators import multimodal
from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.multimodal import (
    build_codec_assets,
    decode_asset,
    decode_bmp,
    decode_codec_features,
    decode_ppm,
    decode_wav,
    encode_bmp_gray,
    encode_ppm_gray,
    encode_wav_pcm16,
)

VALUES = [0, 1, 17, 128, 200, 255, 3]  # odd length exercises RIFF padding


def test_wav_roundtrip(monkeypatch):
    monkeypatch.setattr(multimodal, "WAV_SAMPLE_RATE", 8000)
    d = decode_wav(encode_wav_pcm16(VALUES))
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
