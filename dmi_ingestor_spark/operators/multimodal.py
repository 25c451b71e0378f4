"""Multimodal columns: opaque binary payloads + typed metadata (SURVEY.md U2/U8).

The model: media lives in a ``payload binary`` column next to typed
metadata (mime, n_bytes, …) and derived features — exactly how the
reference's NetCDF/GeoTIFF bytes would sit in a table
(``dmi_ingestor/ingestor.py:200``: bytes → decode → arrays).

Decode / feature-extract / frame-sample run as Arrow-batched
``mapInPandas`` transforms (iterator→iterator: one input row may emit
many output rows, the U2 "cube explode" shape). The codec call is
isolated in :func:`_decode_bytes`, a deterministic byte-statistics
decoder that is the one decoder whatever is installed (no image/audio
codec library is imported); the Spark-side plumbing (schemas, Arrow
batches, partition behavior) is real and tested.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
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
    """Arrow-batched decode: payload → checksum + feature vector.

    mapInPandas (not a scalar UDF) so one task handles a whole Arrow
    batch, the decoder can be vectorized, and output need not be 1:1
    with input. Partitioning is preserved — no shuffle.
    """

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "mime": pdf["mime"],
                    "n_bytes": payloads.map(len),
                    "checksum": payloads.map(
                        lambda b: hashlib.sha256(bytes(b)).hexdigest()
                    ),
                    "features": payloads.map(lambda b: _decode_bytes(bytes(b))),
                }
            )

    return media.mapInPandas(_decode, DECODED_SCHEMA)


def sample_frames(media: DataFrame, n_frames: int = N_FRAMES) -> DataFrame:
    """Frame sampling: one input payload → n output frame rows.

    The U2 explode shape (one blob in, many rows out) — for video this
    is ffmpeg keyframe extraction; the stub slices the payload into
    n_frames even chunks.
    """

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [],
                "frame_idx": [],
                "frame_payload": [],
                "frame_checksum": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(payload)
                step = max(len(raw) // n_frames, 1)
                for i in range(n_frames):
                    chunk = raw[i * step : (i + 1) * step]
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i)
                    out["frame_payload"].append(chunk)
                    out["frame_checksum"].append(
                        hashlib.sha256(chunk).hexdigest()
                    )
            yield pd.DataFrame(out)

    return media.mapInPandas(_sample, FRAME_SCHEMA)


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
    binary out, size metadata alongside). Runs as ``mapInPandas`` so
    the per-batch work is vectorized and the exchange stays Arrow; at
    100 TB this is a map-only stage, no shuffle, output partition
    count = input partition count.
    """

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes_in": pdf["payload"].map(len),
                    "payload_out": pdf["payload"].map(
                        lambda b: bytes(b[::factor])
                    ),
                }
            )

    return media.select("doc_id", "payload").mapInPandas(
        _resize, schema=RESIZED_SCHEMA
    )


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
    trimming) over an opaque audio column. numpy-vectorized per Arrow
    batch; partitioning preserved, no shuffle, output rows ≠ input rows.
    """
    import numpy as np

    def _energy(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            idxs: list[int] = []
            es: list[int] = []
            for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(b)
                arr = np.frombuffer(raw[: 2 * (len(raw) // 2)], dtype="<i2")
                nf = len(arr) // frame
                if nf == 0:
                    continue
                windows = arr[: nf * frame].astype(np.int64).reshape(nf, frame)
                energy = (windows * windows).sum(axis=1)
                ids.extend([doc_id] * nf)
                idxs.extend(range(nf))
                es.extend(int(e) for e in energy)
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs, "energy": es})

    return media.mapInPandas(_energy, AUDIO_SCHEMA)


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
    Spark op: numpy reshape-sum per Arrow batch, no shuffle, documents
    shorter than one image are skipped (complete-frames-only, like
    :func:`audio_energy`)."""
    import numpy as np

    n_px = side * side
    grid = side // patch

    def _patches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            prs: list[int] = []
            pcs: list[int] = []
            sums: list[int] = []
            for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(b)
                if len(raw) < n_px:
                    continue
                img = np.frombuffer(raw[:n_px], dtype=np.uint8).astype(np.int64)
                blocks = img.reshape(grid, patch, grid, patch).sum(axis=(1, 3))
                for pr in range(grid):
                    for pc in range(grid):
                        ids.append(doc_id)
                        prs.append(pr)
                        pcs.append(pc)
                        sums.append(int(blocks[pr, pc]))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "patch_row": prs,
                    "patch_col": pcs,
                    "sum_intensity": sums,
                }
            )

    return media.mapInPandas(_patches, IMG_PATCH_SCHEMA)


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
    import numpy as np

    n_px = side * side
    grid = 8
    blk = side // grid

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            his: list[int] = []
            los: list[int] = []
            for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(b)
                if len(raw) < n_px:
                    continue
                img = np.frombuffer(raw[:n_px], dtype=np.uint8).astype(np.int64)
                blocks = img.reshape(grid, blk, grid, blk).sum(axis=(1, 3))
                flat = blocks.reshape(-1)
                total = int(flat.sum())
                bits = (flat * 64 > total).astype(np.int64)
                lo = int((bits[:32] << np.arange(32, dtype=np.int64)).sum())
                hi = int((bits[32:] << np.arange(32, dtype=np.int64)).sum())
                ids.append(doc_id)
                his.append(hi)
                los.append(lo)
            yield pd.DataFrame(
                {"doc_id": ids, "hash_hi": his, "hash_lo": los}
            )

    return media.mapInPandas(
        _hash, schema="doc_id long, hash_hi long, hash_lo long"
    )
