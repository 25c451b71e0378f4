"""Exact-integer gram over quantized vectors — the one numpy kernel behind
the cosine / squared-distance similarity, dedup and clustering queries.

Callers feed integer-valued float64 vectors (``round(x*1000)`` or
``floor(x*1000)`` quantization). While every partial sum of a dot
product is an integer below 2^53 it is exact under ANY summation order
(BLAS blocking and FMA included), so ``dots / (‖a‖·‖b‖)`` with
``‖a‖ = sqrt(a·a)`` rounds exactly like the DuckDB oracle's
``list_dot_product`` tree. :func:`_check_exact` enforces that
precondition once per call.

The self-gram reducers (:func:`pairs_at_least`,
:func:`has_smaller_neighbour`, :func:`eps_neighbour_counts`) run over
one group in row tiles of at most ``_BLOCK`` rows, so a group of n
vectors holds O(``_BLOCK`` × n) of its gram at a time, plus the output —
never the n × n matrix.
"""

from __future__ import annotations

import numpy as np

_BLOCK = 256
_EXACT_LIMIT = 2.0**53


def _check_exact(*mats: np.ndarray, terms: int = 1) -> None:
    """Raise ``ValueError`` unless every matrix is integer-valued and
    ``terms · dim · max|x|² < 2^53``.

    ``dim · max|x|²`` bounds every partial sum of one dot product (and
    of a squared norm); ``terms`` is how many such sums the caller adds
    up (4 for ``‖a‖² + ‖b‖² − 2a·b``).
    """
    peak = 0.0
    for m in mats:
        if m.size == 0:
            continue
        if not np.array_equal(m, np.round(m)):  # NaN fails here too
            raise ValueError("exact gram needs integer-valued vectors")
        peak = max(peak, float(np.abs(m).max()))
    bound = terms * mats[0].shape[-1] * peak * peak
    if not bound < _EXACT_LIMIT:
        raise ValueError(
            f"exact gram bound {bound:.3g} is not below 2^53 "
            f"(dim {mats[0].shape[-1]}, max |x| {peak:g})"
        )


def _norms(v: np.ndarray) -> np.ndarray:
    return np.sqrt(np.einsum("ij,ij->i", v, v))


def _cos(a, an, b, bn) -> np.ndarray:
    """(na × nb) cosine from precomputed norms; 0.0 where a norm is 0."""
    out = np.asarray(a @ b.T, dtype=np.float64)
    den = an[:, None] * bn[None, :]
    pos = den > 0
    np.divide(out, den, out=out, where=pos)
    out[~pos] = 0.0
    return out


def cosine(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """The (na × nb) cosine matrix ``a·b / (‖a‖·‖b‖)``, 0.0 when the
    denominator is 0 (the oracle's ``CASE WHEN den > 0``)."""
    _check_exact(a, b)
    return _cos(a, _norms(a), b, _norms(b))


def topk(ids, scores, k, qids=None, keep=None):
    """Per row of ``scores`` (nq × n, columns aligned with ``ids``), the
    columns of its top ``k`` by (score DESC, id ASC).

    A column is never selected for a row where ``ids`` equals that row's
    ``qids`` entry (self), or where ``keep`` (nq × n bool) is False.
    Returns ``(rows, cols)`` index arrays, in rank order within a row.
    Ascending orders (distances) pass the negated score, which is exact
    for integer distances.

    Applied per batch this is the partition-local half of a top-k: any
    globally-ranked row is in its batch's top-k, so a final window over
    the batch winners sees a superset of the true top-k.
    """
    drop = np.zeros(scores.shape, dtype=bool) if keep is None else ~keep
    if qids is not None:
        drop |= ids[None, :] == qids[:, None]
    order = np.lexsort(
        (np.broadcast_to(ids, scores.shape), -scores, drop), axis=-1
    )[:, :k]
    rows = np.repeat(np.arange(len(scores)), order.shape[1])
    cols = order.ravel()
    ok = ~drop[rows, cols]
    return rows[ok], cols[ok]


def _tiles(n: int):
    for s in range(0, n, _BLOCK):
        yield s, min(s + _BLOCK, n)


def pairs_at_least(ids, v, tau):
    """All pairs ``a_id < b_id`` of one group with cosine ≥ ``tau``.

    Returns ``(a_ids, b_ids, sims)`` in ``np.triu_indices`` order over
    the id-sorted group. Each tile scores only the columns at or right
    of its own rows.
    """
    order = np.argsort(ids)
    ids, v = ids[order], v[order]
    _check_exact(v)
    nrm = _norms(v)
    ii, jj, ss = [np.empty(0, np.int64)], [np.empty(0, np.int64)], [np.empty(0)]
    for s, e in _tiles(len(ids)):
        cos = _cos(v[s:e], nrm[s:e], v[s:], nrm[s:])
        r, c = np.nonzero(np.triu(cos >= tau, k=1))
        ii.append(r + s)
        jj.append(c + s)
        ss.append(cos[r, c])
    i, j = np.concatenate(ii), np.concatenate(jj)
    return ids[i], ids[j], np.concatenate(ss)


def has_smaller_neighbour(ids, v, tau):
    """Per row of one group (input order): does a row with a smaller id
    have cosine ≥ ``tau`` to it? Each tile scores only the columns left
    of its last row."""
    order = np.argsort(ids)
    vs = v[order]
    _check_exact(vs)
    nrm = _norms(vs)
    dup = np.empty(len(ids), dtype=bool)
    for s, e in _tiles(len(ids)):
        cos = _cos(vs[s:e], nrm[s:e], vs[:e], nrm[:e])
        # tile row r is group row s + r: keep columns c < s + r
        dup[order[s:e]] = np.tril(cos >= tau, k=s - 1).any(axis=1)
    return dup


def eps_neighbour_counts(v, eps2):
    """Per row of one group: how many OTHER rows lie within squared
    distance ``eps2``, with ``d² = ‖a‖² + ‖b‖² − 2a·b``."""
    _check_exact(v, terms=4)
    nsq = np.einsum("ij,ij->i", v, v)
    counts = np.empty(len(v), dtype=np.int64)
    for s, e in _tiles(len(v)):
        close = nsq[s:e, None] + nsq[None, :] - 2.0 * (v[s:e] @ v.T) <= eps2
        close[np.arange(e - s), np.arange(s, e)] = False
        counts[s:e] = close.sum(axis=1)
    return counts


def sign_buckets(v, planes):
    """Random-hyperplane LSH key per row: bit j is set iff
    ``v · planes[j] ≥ 0``, i.e. ``Σ_j (v @ H ≥ 0) · 2^j``."""
    h = np.asarray(planes, dtype=np.float64)
    _check_exact(v, h)
    weights = 2 ** np.arange(len(h), dtype=np.int64)
    return ((v @ h.T >= 0) * weights).sum(axis=1)
