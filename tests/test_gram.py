"""operators/gram.py against the untiled formulas it replaces (pure numpy)."""

from __future__ import annotations

import tracemalloc

import numpy as np
import pytest

from dmi_ingestor_spark.operators import gram


def _untiled_cos(v):
    dots = v @ v.T
    nrm = np.sqrt(np.einsum("ij,ij->i", v, v))
    den = nrm[:, None] * nrm[None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(den > 0, dots / den, 0.0)


@pytest.fixture(scope="module")
def group():
    """3000 quantized rows (more than gram._BLOCK) in shuffled id order,
    with exact duplicates, scaled copies (tied cosines) and a zero row."""
    rng = np.random.default_rng(7)
    n = 3000
    assert n > gram._BLOCK
    v = np.round(rng.normal(size=(n, 64)) * 300)
    v[10] = v[2500]
    v[11] = v[2500]
    v[1200] = 2 * v[40]
    v[77] = 0.0
    ids = rng.permutation(10 * n)[:n].astype(np.int64)
    return ids, v


def test_pairs_at_least_matches_untiled(group):
    ids, v = group
    order = np.argsort(ids)
    sid, cos = ids[order], _untiled_cos(v[order])
    iu, ju = np.triu_indices(len(ids), k=1)
    keep = cos[iu, ju] >= 0.25
    a, b, sim = gram.pairs_at_least(ids, v, 0.25)
    assert len(a) > 0
    np.testing.assert_array_equal(a, sid[iu[keep]])
    np.testing.assert_array_equal(b, sid[ju[keep]])
    np.testing.assert_array_equal(sim, cos[iu[keep], ju[keep]])


def test_has_smaller_neighbour_matches_untiled(group):
    ids, v = group
    order = np.argsort(ids)
    want = np.tril(_untiled_cos(v[order]) >= 0.25, -1).any(axis=1)
    got = gram.has_smaller_neighbour(ids, v, 0.25)
    assert want.any() and not want.all()
    np.testing.assert_array_equal(got[order], want)


def test_eps_neighbour_counts_matches_untiled(group):
    ids, v = group
    nsq = np.einsum("ij,ij->i", v, v)
    close = nsq[:, None] + nsq[None, :] - 2.0 * (v @ v.T) <= 5_000_000
    np.fill_diagonal(close, False)
    got = gram.eps_neighbour_counts(v, 5_000_000)
    assert close.sum() > 0
    np.testing.assert_array_equal(got, close.sum(axis=1))


def test_cosine_and_topk_match_per_query_loop(group):
    ids, v = group
    q, qids = v[[10, 77, 1200, 5]], ids[[10, 77, 1200, 5]]
    cos = gram.cosine(q, v)
    np.testing.assert_array_equal(cos, _untiled_cos(np.vstack([q, v]))[:4, 4:])
    keep = (ids % 3 != 0)[None, :].repeat(4, axis=0)
    for mask in (None, keep):
        r, c = gram.topk(ids, cos, 5, qids=qids, keep=mask)
        for qi in range(4):
            ok = ids != qids[qi]
            if mask is not None:
                ok &= mask[qi]
            cand = np.flatnonzero(ok)
            want = cand[np.lexsort((ids[cand], -cos[qi, cand]))[:5]]
            np.testing.assert_array_equal(c[r == qi], want)


def test_sign_buckets_matches_bit_loop(group):
    _, v = group
    planes = np.where(np.random.default_rng(3).random((8, 64)) < 0.5, -1.0, 1.0)
    want = sum(
        (v @ planes[j] >= 0).astype(np.int64) << j for j in range(len(planes))
    )
    np.testing.assert_array_equal(gram.sign_buckets(v, planes), want)


def test_pairs_memory_is_tiled():
    """8000 rows in one bucket: an untiled float64 gram alone is 512 MB;
    256-row tiles peak near 54 MB."""
    rng = np.random.default_rng(11)
    n = 8000
    v = np.round(rng.normal(size=(n, 64)) * 300)
    ids = np.arange(n, dtype=np.int64)
    tracemalloc.start()
    try:
        gram.pairs_at_least(ids, v, 0.5)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 128 * 2**20, f"peak {peak / 2**20:.0f} MB"


def test_inexact_inputs_raise():
    v = np.ones((4, 64))
    with pytest.raises(ValueError, match="integer-valued"):
        gram.cosine(v + 0.5, v)
    with pytest.raises(ValueError, match="2\\^53"):
        gram.pairs_at_least(np.arange(4), v * 2.0**24, 0.5)
    with pytest.raises(ValueError, match="2\\^53"):
        gram.eps_neighbour_counts(v * 2.0**23, 1.0)
