"""Multimodal plumbing invariants (SURVEY.md U2/U8)."""

from __future__ import annotations

import hashlib

from dmi_ingestor_spark.catalog import table
from dmi_ingestor_spark.operators.multimodal import (
    N_FEATURES,
    N_FRAMES,
    attach_payloads,
    decode_features,
    sample_frames,
)
from dmi_ingestor_spark.registry import load_all

REGISTRY = load_all()


def test_decode_schema_and_checksums(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    media = attach_payloads(docs)
    decoded = decode_features(media)
    assert [f.name for f in decoded.schema.fields] == [
        "doc_id", "mime", "n_bytes", "checksum", "features",
    ]
    rows = {r.doc_id: r for r in decoded.collect()}
    src = {r.doc_id: r.text for r in docs.collect()}
    assert set(rows) == set(src)
    for doc_id, text in list(src.items())[:25]:
        raw = text.encode("utf-8")
        r = rows[doc_id]
        assert r.n_bytes == len(raw)
        assert r.checksum == hashlib.sha256(raw).hexdigest()
        assert len(r.features) == N_FEATURES
        assert r.features[0] == float(len(raw))


def test_frame_sample_explodes_rows(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    frames = sample_frames(attach_payloads(docs))
    n_docs = docs.count()
    assert frames.count() == n_docs * N_FRAMES
    one = frames.filter("doc_id = 0").orderBy("frame_idx").collect()
    assert [r.frame_idx for r in one] == list(range(N_FRAMES))
    for r in one:
        assert r.frame_checksum == hashlib.sha256(bytes(r.frame_payload)).hexdigest()


def test_decode_preserves_partitioning(spark, sf_dir):
    # mapInPandas is a narrow transform: partition count unchanged → no shuffle
    media = attach_payloads(table(spark, sf_dir, "documents")).repartition(7)
    decoded = decode_features(media)
    assert decoded.rdd.getNumPartitions() == 7


def test_resize_stride_halves_bytes(spark, sf_dir):
    """resize keeps ceil(n/factor) bytes, and resizing by 2 twice
    equals resizing by 4 once (stride composition — the invariant a
    real image pyramid also satisfies)."""
    from pyspark.sql import functions as F

    from dmi_ingestor_spark.operators.multimodal import resize_payloads

    media = attach_payloads(table(spark, sf_dir, "documents")).limit(40)
    once = {
        r["doc_id"]: (r["n_bytes_in"], bytes(r["payload_out"]))
        for r in resize_payloads(media, factor=2).collect()
    }
    assert len(once) == 40
    for n_in, out in once.values():
        assert len(out) == (n_in + 1) // 2

    twice = resize_payloads(
        resize_payloads(media, factor=2)
        .select("doc_id", F.col("payload_out").alias("payload")),
        factor=2,
    )
    by4 = resize_payloads(media, factor=4)
    a = {r["doc_id"]: bytes(r["payload_out"]) for r in twice.collect()}
    b = {r["doc_id"]: bytes(r["payload_out"]) for r in by4.collect()}
    assert a == b


def test_decode_behavior_independent_of_codec_libs(monkeypatch):
    """VERDICT r5 #5: a codec lib appearing in the container must not
    change (or crash) the deterministic decode contract."""
    import sys
    import types

    from dmi_ingestor_spark.operators.multimodal import _decode_bytes

    before = _decode_bytes(b"hello multimodal")
    fake_pil = types.ModuleType("PIL")
    fake_pil.Image = types.ModuleType("PIL.Image")
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", fake_pil.Image)
    after = _decode_bytes(b"hello multimodal")
    assert after == before
