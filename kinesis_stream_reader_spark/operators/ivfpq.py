"""Exact-int64 IVF-PQ kernels: coarse assignment, probe ranking, PQ
encoding and the ADC lookup table, each defined once.

Pure numpy, no Spark: the same functions run inside the Arrow map
kernels on executors and on the driver (probe ranking, LUTs, codebook
seeding). Every input is an int64 array of milli-quantized
coordinates, so every distance is an exact integer (dim x |x|^2 stays
far below 2^62) and every result is bit-identical to the SQL oracles.

Ties always go to the LOWEST id through one packing convention: the
argmin over candidates with ids ``ids`` and distances ``d2`` is
``min(d2 * n + ids)`` for any modulus ``n`` greater than every id;
``% n`` decodes the winning id and ``// n`` its distance.
"""

from __future__ import annotations

import numpy as np


def assign(
    v: np.ndarray, cmat: np.ndarray, cids: np.ndarray, n: int
) -> tuple[np.ndarray, np.ndarray]:
    """Nearest centroid of every row of ``v`` (rows x dim) against the
    centroid table ``cmat`` (len(cids) x dim) with ids ``cids``.

    Returns ``(list_id, d2min)``: the winning cid (not its row
    position) and its squared L2 distance. ``n`` must be the TRAINED
    list count, not ``len(cids)``: Lloyd can empty a cluster, leaving
    surviving cids whose max is >= len(cids), and a ``len(cids)``
    modulus would both mis-decode the argmin and alias distinct
    centroids' packed keys."""
    d2 = (
        (v * v).sum(1)[:, None]
        - 2 * (v @ cmat.T)
        + (cmat * cmat).sum(1)[None, :]
    )
    packed = (d2 * n + cids[None, :]).min(1)
    return packed % n, packed // n


def probe(
    q: np.ndarray, cmat: np.ndarray, cids: np.ndarray, nprobe: int
) -> np.ndarray:
    """Row positions (into ``cmat`` / ``cids``) of the ``nprobe`` lists
    nearest to the query ``q``, ranked by (squared L2, cid)."""
    qd2 = ((q[None, :] - cmat) ** 2).sum(1)
    return np.lexsort((cids, qd2))[:nprobe]


def pq_encode(
    r: np.ndarray, cb: np.ndarray, m: int
) -> tuple[np.ndarray, np.ndarray]:
    """PQ codes of the residuals ``r`` (rows x dim) against the codebook
    ``cb`` (n_codes x dim), split into ``m`` equal subspaces.

    Returns ``(codes, dmin)``, both (rows x m): per subspace the
    nearest code (ties to the lowest code) and its sub-distance."""
    n_codes = len(cb)
    sub = r.shape[1] // m
    code_ids = np.arange(n_codes)[None, :]
    codes = np.zeros((len(r), m), np.int64)
    dmin = np.zeros((len(r), m), np.int64)
    for s in range(m):
        rs, cs = r[:, s * sub:(s + 1) * sub], cb[:, s * sub:(s + 1) * sub]
        dist = (
            (rs * rs).sum(1)[:, None]
            - 2 * (rs @ cs.T)
            + (cs * cs).sum(1)[None, :]
        )
        packed = (dist * n_codes + code_ids).min(1)
        codes[:, s] = packed % n_codes
        dmin[:, s] = packed // n_codes
    return codes, dmin


def adc_lut(rq: np.ndarray, cb: np.ndarray, m: int) -> np.ndarray:
    """ADC lookup table (m x n_codes) of the query residual ``rq``
    (dim,): entry [s, j] is the squared L2 between subspace s of ``rq``
    and of code j, so a coded vector's ADC distance is
    ``lut[arange(m), codes].sum()``."""
    sub = len(rq) // m
    return np.stack(
        [
            ((rq[s * sub:(s + 1) * sub][None, :] - cb[:, s * sub:(s + 1) * sub])
             ** 2).sum(1)
            for s in range(m)
        ]
    )
