"""The exact-int64 IVF-PQ kernels of operators/ivfpq.py against
brute-force per-vector Python loops: no SparkSession, seeded random
int64 vectors, constructed equal-distance ties (lowest id wins) and
non-dense centroid ids."""

from __future__ import annotations

import numpy as np
import pytest

from kinesis_stream_reader_spark.operators import ivfpq


def _d2(a, b) -> int:
    return sum((int(x) - int(y)) ** 2 for x, y in zip(a, b))


def _ref_assign(v, cmat, cids):
    out = []
    for row in v:
        best = min((_d2(row, c), int(cid)) for c, cid in zip(cmat, cids))
        out.append((best[1], best[0]))
    return out


def _ref_pq_encode(r, cb, m):
    sub = r.shape[1] // m
    out = []
    for row in r:
        out.append([
            min(
                (_d2(row[s * sub:(s + 1) * sub], c[s * sub:(s + 1) * sub]), j)
                for j, c in enumerate(cb)
            )
            for s in range(m)
        ])
    return out


def _rand(rng, *shape):
    return rng.integers(-1000, 1001, size=shape, dtype=np.int64)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_assign_matches_loop(seed):
    rng = np.random.default_rng(seed)
    v, cmat = _rand(rng, 50, 16), _rand(rng, 7, 16)
    cids = np.arange(7, dtype=np.int64)
    lst, d2 = ivfpq.assign(v, cmat, cids, 7)
    assert list(zip(lst.tolist(), d2.tolist())) == _ref_assign(v, cmat, cids)


def test_assign_ties_go_to_lowest_cid():
    # every centroid equidistant from the origin; a duplicated centroid
    # under two ids ties exactly
    cmat = np.array([[3, 0], [0, 3], [-3, 0], [3, 0]], np.int64)
    cids = np.array([0, 1, 2, 3], np.int64)
    lst, d2 = ivfpq.assign(np.array([[0, 0], [3, 0]], np.int64), cmat, cids, 4)
    assert lst.tolist() == [0, 0] and d2.tolist() == [9, 0]
    lst, _ = ivfpq.assign(np.array([[3, 0]], np.int64), cmat[::-1], cids[::-1], 4)
    assert lst.tolist() == [0]


def test_assign_non_dense_cids_decode_list_and_residual():
    rng = np.random.default_rng(7)
    cids = np.array([0, 2, 5], np.int64)  # Lloyd emptied lists 1, 3, 4
    cmat, v = _rand(rng, 3, 8), _rand(rng, 40, 8)
    lst, d2 = ivfpq.assign(v, cmat, cids, 6)
    want = _ref_assign(v, cmat, cids)
    assert list(zip(lst.tolist(), d2.tolist())) == want
    resid = v - cmat[np.searchsorted(cids, lst)]
    by_cid = dict(zip(cids.tolist(), cmat))
    for row, got, (cid, _) in zip(v, resid, want):
        assert got.tolist() == (row - by_cid[cid]).tolist()


@pytest.mark.parametrize("seed", [0, 1])
def test_probe_matches_loop(seed):
    rng = np.random.default_rng(seed)
    cmat, q = _rand(rng, 9, 12), _rand(rng, 12)
    cids = np.array([0, 1, 3, 4, 6, 7, 9, 10, 12], np.int64)
    ranked = sorted((_d2(q, c), int(cid)) for c, cid in zip(cmat, cids))
    for nprobe in (1, 3, 9, 20):
        got = ivfpq.probe(q, cmat, cids, nprobe)
        assert cids[got].tolist() == [cid for _, cid in ranked[:nprobe]]


def test_probe_ties_go_to_lowest_cid():
    cmat = np.array([[0, 2], [2, 0], [0, -2], [5, 5]], np.int64)
    cids = np.array([4, 1, 2, 0], np.int64)
    got = ivfpq.probe(np.zeros(2, np.int64), cmat, cids, 3)
    assert cids[got].tolist() == [1, 2, 4]


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_pq_encode_matches_loop(seed):
    rng = np.random.default_rng(seed)
    r, cb = _rand(rng, 30, 16), _rand(rng, 5, 16)
    codes, dmin = ivfpq.pq_encode(r, cb, 4)
    want = _ref_pq_encode(r, cb, 4)
    assert dmin.tolist() == [[d for d, _ in row] for row in want]
    assert codes.tolist() == [[j for _, j in row] for row in want]


def test_pq_encode_ties_go_to_lowest_code():
    # codes 1 and 3 are identical and nearest in both subspaces
    cb = np.array([[9, 9, 9, 9], [1, 1, 1, 1], [-9, 0, 0, 9], [1, 1, 1, 1]],
                  np.int64)
    codes, dmin = ivfpq.pq_encode(np.array([[1, 1, 1, 1]], np.int64), cb, 2)
    assert codes.tolist() == [[1, 1]] and dmin.tolist() == [[0, 0]]
    # distinct codes at equal distance (4) from the origin in each subspace
    cb = np.array([[2, 0, 0, 2], [0, 2, 2, 0]], np.int64)
    for book in (cb, cb[::-1]):
        codes, dmin = ivfpq.pq_encode(np.zeros((1, 4), np.int64), book, 2)
        assert codes.tolist() == [[0, 0]] and dmin.tolist() == [[4, 4]]


@pytest.mark.parametrize("seed", [0, 1])
def test_adc_lut_matches_loop(seed):
    rng = np.random.default_rng(seed)
    rq, cb, r = _rand(rng, 16), _rand(rng, 6, 16), _rand(rng, 20, 16)
    lut = ivfpq.adc_lut(rq, cb, 4)
    assert lut.shape == (4, 6) and lut.dtype == np.int64
    assert lut.tolist() == [
        [_d2(rq[s * 4:(s + 1) * 4], c[s * 4:(s + 1) * 4]) for c in cb]
        for s in range(4)
    ]
    # a coded vector's ADC distance is the LUT gathered at its codes
    codes, _ = ivfpq.pq_encode(r, cb, 4)
    adc = lut[np.arange(4)[None, :], codes].sum(1)
    assert adc.tolist() == [
        sum(_d2(rq[s * 4:(s + 1) * 4], cb[c][s * 4:(s + 1) * 4])
            for s, c in enumerate(row))
        for row in codes.tolist()
    ]
