"""Multimodal columns: opaque binary payloads + typed metadata (SURVEY.md U2/U8).

The model: media lives in a ``payload binary`` column next to typed
metadata (mime, n_bytes, …) and derived features — exactly how the
reference's NetCDF/GeoTIFF bytes would sit in a table
(``dmi_ingestor/ingestor.py:200``: bytes → decode → arrays).

Decode / feature-extract / frame-sample run through
:func:`~dmi_ingestor_spark.operators.rowmap.map_rows`, one
``mapInPandas`` each (one input row may emit many output rows, the U2
"cube explode" shape). The codec call is
isolated in :func:`_decode_bytes`, a deterministic byte-statistics
decoder that is the one decoder whatever is installed (no image/audio
codec library is imported); the Spark-side plumbing (schemas, Arrow
batches, partition behavior) is real and tested.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from dmi_ingestor_spark.operators.rowmap import map_rows

N_FEATURES = 8
N_FRAMES = 4

DECODED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("mime", StringType()),
        StructField("n_bytes", LongType()),
        StructField("checksum", StringType()),
        StructField("features", ArrayType(DoubleType())),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("frame_payload", BinaryType()),
        StructField("frame_checksum", StringType()),
    ]
)


def _decode_bytes(payload: bytes) -> list[float]:
    """Decode a media payload into a feature vector.

    A *deterministic* byte-statistics decoder, not an image/audio codec:
    tests and oracles pin its output, so it is the contract on every
    host and no installed library changes it.
    """
    digest = hashlib.sha256(payload).digest()
    n = max(len(payload), 1)
    feats = [float(len(payload))]
    feats += [digest[i] / 255.0 for i in range(N_FEATURES - 2)]
    feats.append(sum(payload[:256]) / (255.0 * min(n, 256)))
    return feats


def attach_payloads(documents: DataFrame) -> DataFrame:
    """documents → multimodal table: (doc_id, mime, payload binary).

    Stands in for ``spark.read.format("binaryFile")`` over a media
    bucket; the payload is the utf-8 document body so everything stays
    deterministic and self-contained.
    """
    return documents.select(
        "doc_id",
        F.lit("application/octet-stream").alias("mime"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )


def decode_features(media: DataFrame) -> DataFrame:
    """Decode: payload → checksum + feature vector, one row per row.

    A :func:`map_rows` pass (not a scalar UDF), so output need not be
    1:1 with input. Partitioning is preserved — no shuffle.
    """

    def _decode(row):
        raw = bytes(row.payload)
        return [
            (
                row.doc_id,
                row.mime,
                len(raw),
                hashlib.sha256(raw).hexdigest(),
                _decode_bytes(raw),
            )
        ]

    return map_rows(media, DECODED_SCHEMA, _decode)


def sample_frames(media: DataFrame, n_frames: int = N_FRAMES) -> DataFrame:
    """Frame sampling: one input payload → n output frame rows.

    The U2 explode shape (one blob in, many rows out) — for video this
    is ffmpeg keyframe extraction; the stub slices the payload into
    n_frames even chunks.
    """

    def _sample(row):
        raw = bytes(row.payload)
        step = max(len(raw) // n_frames, 1)
        chunks = (raw[i * step : (i + 1) * step] for i in range(n_frames))
        return [
            (row.doc_id, i, chunk, hashlib.sha256(chunk).hexdigest())
            for i, chunk in enumerate(chunks)
        ]

    return map_rows(media, FRAME_SCHEMA, _sample)


RESIZED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes_in", LongType()),
        StructField("payload_out", BinaryType()),
    ]
)


def resize_payloads(media: DataFrame, factor: int = 2) -> DataFrame:
    """U2 resize stage: payload → downscaled payload, Arrow-batched.

    The real op is an image resample (PIL/cv2, absent from this
    container); the stub keeps every ``factor``-th byte — a genuine
    1-D downsample with the same data-flow shape (binary in, smaller
    binary out, size metadata alongside). A :func:`map_rows` pass; at
    100 TB this is a map-only stage, no shuffle, output partition
    count = input partition count.
    """

    def _resize(row):
        raw = bytes(row.payload)
        return [(row.doc_id, len(raw), raw[::factor])]

    return map_rows(media.select("doc_id", "payload"), RESIZED_SCHEMA, _resize)


AUDIO_FRAME = 128  # samples per analysis window

AUDIO_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("energy", LongType()),
    ]
)


def audio_energy(media: DataFrame, frame: int = AUDIO_FRAME) -> DataFrame:
    """Audio modality stub: PCM16-LE windowed energy, Arrow-batched.

    Interprets each payload as little-endian int16 samples (the real
    librosa/soundfile decode is the codec stub, same policy as
    :func:`_decode_bytes`) and emits one row per COMPLETE ``frame``-
    sample window with its integer energy Σ s² — the map-only windowed
    feature-extraction shape (VAD, loudness normalization, silence
    trimming) over an opaque audio column. numpy-vectorized per payload
    in a :func:`map_rows` pass; partitioning preserved, no shuffle,
    output rows ≠ input rows.
    """

    def _energy(row):
        raw = bytes(row.payload)
        arr = np.frombuffer(raw[: 2 * (len(raw) // 2)], dtype="<i2")
        nf = len(arr) // frame
        windows = arr[: nf * frame].astype(np.int64).reshape(nf, frame)
        energy = (windows * windows).sum(axis=1)
        return [(row.doc_id, i, int(e)) for i, e in enumerate(energy)]

    return map_rows(media, AUDIO_SCHEMA, _energy)


IMG_SIDE = 16  # synthetic grayscale image side (bytes)
IMG_PATCH = 4  # ViT-style square patch side

IMG_PATCH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("patch_row", LongType()),
        StructField("patch_col", LongType()),
        StructField("sum_intensity", LongType()),
    ]
)


def image_patches(
    media: DataFrame, side: int = IMG_SIDE, patch: int = IMG_PATCH
) -> DataFrame:
    """Image modality stub: ViT-style patch grid, Arrow-batched.

    Interprets the first ``side²`` payload bytes as an 8-bit grayscale
    ``side×side`` image (real PIL/cv2 decode is the codec stub, same
    policy as :func:`_decode_bytes`) and emits one row per ``patch×
    patch`` block with its integer intensity sum — the patch-embedding
    front half of every vision transformer pipeline, as a map-only
    Spark op: numpy reshape-sum per payload in a :func:`map_rows` pass,
    no shuffle, documents shorter than one image are skipped
    (complete-frames-only, like :func:`audio_energy`)."""
    n_px = side * side
    grid = side // patch

    def _patches(row):
        raw = bytes(row.payload)
        if len(raw) < n_px:
            return []
        img = np.frombuffer(raw[:n_px], dtype=np.uint8).astype(np.int64)
        blocks = img.reshape(grid, patch, grid, patch).sum(axis=(1, 3))
        return [
            (row.doc_id, pr, pc, int(blocks[pr, pc]))
            for pr in range(grid)
            for pc in range(grid)
        ]

    return map_rows(media, IMG_PATCH_SCHEMA, _patches)


def ahash64(media: DataFrame, side: int = IMG_SIDE) -> DataFrame:
    """Perceptual average-hash (aHash) per image payload, Arrow-batched.

    The first ``side²`` payload bytes form an 8-bit grayscale image;
    2×2 block sums downsample it to 8×8, and bit j is set when block
    j's sum exceeds the image mean (``block*64 > total`` in exact
    integers — no float mean). The 64-bit fingerprint is returned as
    two 32-bit halves so both engines stay in non-negative BIGINT
    space. Identical-looking images (e.g. exact duplicate content)
    collide; near-identical images differ in few bits, which is what
    Hamming-bucketed near-dup join runs on (dedup_simhash's pigeonhole
    applies unchanged)."""
    n_px = side * side
    grid = 8
    blk = side // grid

    def _hash(row):
        raw = bytes(row.payload)
        if len(raw) < n_px:
            return []
        img = np.frombuffer(raw[:n_px], dtype=np.uint8).astype(np.int64)
        flat = img.reshape(grid, blk, grid, blk).sum(axis=(1, 3)).reshape(-1)
        bits = (flat * 64 > int(flat.sum())).astype(np.int64)
        lo = int((bits[:32] << np.arange(32, dtype=np.int64)).sum())
        hi = int((bits[32:] << np.arange(32, dtype=np.int64)).sum())
        return [(row.doc_id, hi, lo)]

    return map_rows(media, "doc_id long, hash_hi long, hash_lo long", _hash)
