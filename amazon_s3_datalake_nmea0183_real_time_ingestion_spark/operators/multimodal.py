"""Multimodal columns (SURVEY.md §2 Tier C5): opaque ``binary`` payloads +
typed metadata structs, with Arrow-batched feature extraction.

Design for 100 TB:
- assets are rows of (id, modality, payload binary, meta struct) — the
  payload is NEVER interpreted by Catalyst, so scans prune it unless a
  stage actually needs bytes;
- decode / feature-extraction runs through ``mapInPandas`` (Arrow batch
  transfer, one Python worker per core, zero per-row overhead) and each
  batch yields a columnar frame;
- real container decode is implemented dependency-free for WAV (PCM16),
  BMP (24-bit uncompressed) and PPM (P6): header parse + sample/pixel
  stats in pure Python/numpy inside the same ``mapInPandas`` batch loop
  (``decode_codec_features``).  Compressed codecs (PNG/JPEG/MP4) would
  plug a library into the identical batch loop; ``decode_asset`` raises
  ``ValueError`` for containers it cannot parse so unparseable payloads
  route to an error sink exactly like the ingest pipeline's bad-JSON
  branch.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

ASSET_FEATURE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("modality", StringType()),
        StructField("n_bytes", IntegerType()),
        StructField("first_byte", IntegerType()),
        StructField("byte_sum_mod", LongType()),
    ]
)


def pack_assets(docs: DataFrame, embeddings: DataFrame) -> DataFrame:
    """Pack text + metadata + vector into one typed multimodal row:
    (asset_id, modality, payload binary, meta struct, vector)."""
    joined = docs.join(
        embeddings, docs.doc_id == embeddings.vec_id, "inner"
    )
    return joined.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("text").alias("modality"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.col("lang"), F.col("source"), F.col("n_chars"), F.col("label")
        ).alias("meta"),
        F.col("embedding").alias("vector"),
    )


def extract_features(assets: DataFrame) -> DataFrame:
    """Arrow-batched byte-level feature extraction over the binary payload.

    This is the sanctioned pattern for decode/resize/frame-sample stages:
    per-batch vectorized Python, schema declared up front, no driver
    round-trip.  Real image decode would replace `_fake_decode`.
    """

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf["payload"]
            # feature fake is defined over the decoded text's CODE POINTS
            # (not raw UTF-8 bytes) so the SQL oracle can reproduce it
            # exactly with unicode(); n_bytes stays a true byte length.
            texts = payloads.map(lambda b: bytes(b).decode("utf-8"))
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "modality": pdf["modality"],
                    "n_bytes": payloads.map(len).astype("int32"),
                    "first_byte": texts.map(lambda t: ord(t[0]) if t else -1).astype("int32"),
                    "byte_sum_mod": texts.map(
                        lambda t: sum(ord(c) for c in t) % 997
                    ).astype("int64"),
                }
            )

    return assets.select("asset_id", "modality", "payload").mapInPandas(
        _batches, ASSET_FEATURE_SCHEMA
    )


# ---------------------------------------------------------------------------
# Real container codecs — dependency-free WAV / BMP / PPM
# ---------------------------------------------------------------------------
#
# Encoders emit byte-exact standard containers; decoders parse headers the
# way a real reader does (chunk walk for RIFF, DIB header + bottom-up row
# order + 4-byte row padding for BMP, whitespace/comment-tolerant header
# for PPM).  Training-data relevance: these are the "decode" stage of an
# audio/image pipeline with the codec swapped for formats the container can
# handle without libraries; PNG/JPEG would replace one function here.

WAV_SAMPLE_RATE = 16000


def encode_wav_pcm16(values: Sequence[int]) -> bytes:
    """Canonical 44-byte RIFF/WAVE header + mono PCM16 data chunk."""
    data = np.asarray(values, dtype="<i2").tobytes()
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, WAV_SAMPLE_RATE, WAV_SAMPLE_RATE * 2, 2, 16)
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def decode_wav(payload: bytes) -> dict:
    """RIFF chunk-walk decode of a mono/stereo PCM16 WAV."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid, size = payload[pos:pos + 4], struct.unpack("<I", payload[pos + 4:pos + 8])[0]
        body = payload[pos + 8:pos + 8 + size]
        if len(body) < size:
            raise ValueError("truncated WAV chunk")
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # RIFF chunks are 2-byte aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format, n_channels, sample_rate, _, _, bits = fmt
    if audio_format != 1 or bits != 16:
        raise ValueError(f"unsupported WAV encoding (fmt={audio_format}, bits={bits})")
    samples = np.frombuffer(data, dtype="<i2")
    return {
        "container": "wav",
        "sample_rate": sample_rate,
        "n_channels": n_channels,
        "bit_depth": bits,
        "values": samples.astype(np.int64),
    }


def encode_bmp_gray(values: Sequence[int]) -> bytes:
    """24-bit uncompressed BMP, width 1 × height n, one gray pixel per
    value — written bottom-up with 4-byte row padding like any real BMP."""
    n = len(values)
    row_stride = 4  # width 1 → 3 pixel bytes + 1 pad byte
    header = b"BM" + struct.pack("<IHHI", 14 + 40 + row_stride * n, 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, 1, n, 1, 24, 0, row_stride * n, 2835, 2835, 0, 0)
    rows = b"".join(bytes((v, v, v, 0)) for v in reversed(values))
    return header + dib + rows


def decode_bmp(payload: bytes) -> dict:
    """BITMAPFILEHEADER + BITMAPINFOHEADER parse; un-reverses bottom-up
    row order; returns the blue channel as the pixel value."""
    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_offset = struct.unpack("<I", payload[10:14])[0]
    (hdr_size, width, height, planes, bpp, compression) = struct.unpack(
        "<IiiHHI", payload[14:34]
    )
    if hdr_size < 40 or planes != 1 or bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={compression})")
    bottom_up = height > 0
    height = abs(height)
    stride = ((width * 3 + 3) // 4) * 4
    if len(payload) < data_offset + stride * height:
        raise ValueError("truncated BMP pixel array")
    rows = []
    for r in range(height):
        row = payload[data_offset + r * stride: data_offset + r * stride + width * 3]
        rows.append(np.frombuffer(row, dtype=np.uint8)[0::3])  # blue channel
    if bottom_up:
        rows.reverse()
    values = np.concatenate(rows) if rows else np.array([], dtype=np.uint8)
    return {
        "container": "bmp",
        "width": width,
        "height": height,
        "bit_depth": bpp,
        "values": values.astype(np.int64),
    }


def encode_ppm_gray(values: Sequence[int]) -> bytes:
    """Binary PPM (P6), width 1 × height n, gray triples, maxval 255."""
    header = f"P6\n1 {len(values)}\n255\n".encode("ascii")
    return header + b"".join(bytes((v, v, v)) for v in values)


def decode_ppm(payload: bytes) -> dict:
    """P6 header parse (whitespace- and comment-tolerant, per the netpbm
    spec) + RGB raster; returns the red channel as the pixel value."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    pos, tokens = 2, []
    while len(tokens) < 3:
        if pos >= len(payload):
            raise ValueError("truncated PPM header")
        c = payload[pos:pos + 1]
        if c == b"#":
            while pos < len(payload) and payload[pos:pos + 1] != b"\n":
                pos += 1
        elif c.isspace():
            pos += 1
        else:
            start = pos
            while pos < len(payload) and not payload[pos:pos + 1].isspace():
                pos += 1
            tokens.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval
    width, height, maxval = tokens
    if maxval != 255:
        raise ValueError(f"unsupported PPM maxval {maxval}")
    raster = payload[pos:pos + width * height * 3]
    if len(raster) < width * height * 3:
        raise ValueError("truncated PPM raster")
    values = np.frombuffer(raster, dtype=np.uint8)[0::3]
    return {
        "container": "ppm",
        "width": width,
        "height": height,
        "bit_depth": 8,
        "values": values.astype(np.int64),
    }


def decode_asset(payload: bytes) -> dict:
    """Magic-byte dispatch over the supported containers.  Raises
    ``ValueError`` on anything unparseable — callers route those rows to
    an error sink (same contract as the ingest pipeline's bad-JSON
    branch)."""
    payload = bytes(payload)
    if payload[:4] == b"RIFF":
        return decode_wav(payload)
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:2] == b"P6":
        return decode_ppm(payload)
    raise ValueError(f"unsupported container (magic={payload[:4]!r})")


DECODED_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("container", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("bit_depth", IntegerType()),
        StructField("n_values", LongType()),
        StructField("value_sum_mod", LongType()),
        StructField("value_min", IntegerType()),
        StructField("value_max", IntegerType()),
    ]
)

ENCODED_ASSET_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("container", StringType()),
        StructField("payload", BinaryType()),
    ]
)


def build_codec_assets(docs: DataFrame) -> DataFrame:
    """Deterministic asset synthesis: each document becomes ONE real
    container file (wav/bmp/ppm by ``id % 3``) whose sample/pixel values
    are the text's code points mod 256 — so an engine-independent oracle
    can predict the decoded stats without running the codec.

    This is the test-data generator half of the C5 contract; production
    replaces it with `spark.read.format("binaryFile")`."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        encoders = {0: encode_wav_pcm16, 1: encode_bmp_gray, 2: encode_ppm_gray}
        names = {0: "wav", 1: "bmp", 2: "ppm"}
        for pdf in it:
            ids, containers, payloads = [], [], []
            for aid, text in zip(pdf["doc_id"], pdf["text"]):
                kind = int(aid) % 3
                values = [ord(c) % 256 for c in text]
                ids.append(aid)
                containers.append(names[kind])
                payloads.append(encoders[kind](values))
            yield pd.DataFrame(
                {"asset_id": ids, "container": containers, "payload": payloads}
            )

    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    ).mapInPandas(_batches, ENCODED_ASSET_SCHEMA)


def decode_codec_features(assets: DataFrame) -> DataFrame:
    """The REAL decode stage: parse each payload with the container's
    actual format rules and emit header fields + value stats.  Arrow
    batches in, Arrow batches out; the payload column never reaches the
    driver."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {k.name: [] for k in DECODED_SCHEMA.fields}
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                d = decode_asset(bytes(payload))
                values = d["values"]
                rows["asset_id"].append(int(aid))
                rows["container"].append(d["container"])
                rows["width"].append(d.get("width"))
                rows["height"].append(d.get("height"))
                rows["sample_rate"].append(d.get("sample_rate"))
                rows["n_channels"].append(d.get("n_channels"))
                rows["bit_depth"].append(d["bit_depth"])
                rows["n_values"].append(int(values.size))
                rows["value_sum_mod"].append(int(values.sum()) % 997 if values.size else 0)
                rows["value_min"].append(int(values.min()) if values.size else None)
                rows["value_max"].append(int(values.max()) if values.size else None)
            yield pd.DataFrame(rows)

    return assets.select("asset_id", "payload").mapInPandas(_batches, DECODED_SCHEMA)
