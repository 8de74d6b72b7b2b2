"""Exact integer sequence DP kernels: token edit distance (WER),
longest common subsequence (ROUGE-L) and Sakoe-Chiba banded DTW, each
defined once.

Pure numpy, no Spark: the per-row kernels of ``wer_pairs_report``,
``rouge_l_pairs_report`` and ``dtw_timeseries_similarity`` call these
inside ``rowmap.map_rows``, and the property tests check them against
the cell-by-cell recurrences. Inputs are int64 sequences (token hashes
or daily counts); every result is exact integer arithmetic. Each DP
keeps one row at a time and resolves the in-row left dependency with a
running ``minimum``/``maximum.accumulate``, so a row is a few
vectorized passes instead of a Python loop over cells.
"""

from __future__ import annotations

import numpy as np

# Unreachable-cell cost for the banded DTW: far above any reachable
# alignment cost, far below int64 overflow when a step cost is added.
DTW_SENTINEL = 1 << 40


def edit_distance(a, r) -> int:
    """Levenshtein distance between the int64 sequences ``a`` and
    ``r`` (unit insert, delete and substitute costs)."""
    a = np.asarray(a, dtype=np.int64)
    r = np.asarray(r, dtype=np.int64)
    m = len(r)
    # one DP row at a time; the left-dependency resolves via the
    # classic minimum.accumulate(t - j) + j trick
    prev = np.arange(m + 1, dtype=np.int64)
    idx = np.arange(m + 1, dtype=np.int64)
    for i in range(len(a)):
        t = np.empty(m + 1, dtype=np.int64)
        t[0] = i + 1
        cost = (a[i] != r).astype(np.int64)
        t[1:] = np.minimum(prev[1:] + 1, prev[:-1] + cost)
        t = np.minimum(t, np.minimum.accumulate(t - idx) + idx)
        prev = t
    return int(prev[m])


def lcs_length(a, r) -> int:
    """Length of the longest common subsequence of ``a`` and ``r``.
    The row recurrence new[j] = max(t[j], new[j-1]) is a running
    maximum, so each row is two vectorized passes."""
    a = np.asarray(a, dtype=np.int64)
    r = np.asarray(r, dtype=np.int64)
    m = len(r)
    prev = np.zeros(m + 1, dtype=np.int64)
    for i in range(len(a)):
        t = np.empty(m + 1, dtype=np.int64)
        t[0] = 0
        eq = (a[i] == r).astype(np.int64)
        t[1:] = np.maximum(prev[1:], prev[:-1] + eq)
        prev = np.maximum.accumulate(t)
    return int(prev[m])


def banded_dtw(a, b, band: int = 7) -> int:
    """DTW cost between the int64 series ``a`` and ``b`` with step cost
    |a_i - b_j| and the Sakoe-Chiba band |i - j| <= ``band``. Cells
    outside the band, and every cost at or above it, read
    ``DTW_SENTINEL``. Within a row, D[i][j] = cc[j] + min over the band
    of (min(D[i-1][q], D[i-1][q-1]) - cc[q-1]), cc the row's cost
    prefix sum: one running minimum per row."""
    sent = DTW_SENTINEL
    a = np.asarray(a, dtype=np.int64)
    b = np.asarray(b, dtype=np.int64)
    n, m = len(a), len(b)
    prev = np.full(m + 1, sent, dtype=np.int64)
    prev[0] = 0
    for i in range(1, n + 1):
        cost = np.abs(a[i - 1] - b)
        cc = np.concatenate(([0], np.cumsum(cost)))
        t = np.minimum(prev[1:], prev[:-1])
        lo, hi = max(1, i - band), min(m, i + band)
        tprime = np.full(m + 1, sent, dtype=np.int64)
        tprime[lo : hi + 1] = t[lo - 1 : hi] - cc[lo - 1 : hi]
        run = np.minimum.accumulate(tprime)
        new = np.full(m + 1, sent, dtype=np.int64)
        new[lo : hi + 1] = np.minimum(sent, cc[lo : hi + 1] + run[lo : hi + 1])
        new[0] = sent
        prev = new
    return int(prev[m])
