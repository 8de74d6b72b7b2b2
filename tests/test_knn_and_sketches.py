"""Semantic tests for the round-3 additions: exact kNN graph,
mutual-kNN components, n-gram novelty, Theil-Sen trend, and
mergeable-histogram quantiles — each checked against an independent
driver-side replay (numpy / pure Python), not the DuckDB oracle."""

from __future__ import annotations

import math
import statistics
from collections import defaultdict

from kinesis_stream_reader_spark.registry import QUERIES
from kinesis_stream_reader_spark.sources.tables import load_table


def _quantized_matrix(spark, sf_dir):
    import numpy as np

    rows = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    mat = np.array(
        [[math.floor(float(x) * 1000 + 0.5) for x in r.embedding] for r in rows],
        dtype=np.int64,
    )
    order = np.argsort(ids)
    return ids[order], mat[order]


def test_knn_graph_matches_numpy_bruteforce(spark, sf_dir):
    import numpy as np

    ids, mat = _quantized_matrix(spark, sf_dir)
    D = mat @ mat.T
    # sentinel must survive negation below (int64.min negates to itself)
    np.fill_diagonal(D, -(2**62))
    got = QUERIES["knn_graph"](spark, sf_dir).collect()
    by_query = defaultdict(list)
    for r in got:
        by_query[r.vec_id].append((r.rank, r.neighbor_id, r.dot_q))
    assert set(by_query) == set(ids.tolist())
    for qi, vid in enumerate(ids):
        row = D[qi]
        want = sorted(zip(-row, ids))[:5]
        mine = sorted(by_query[vid])
        assert len(mine) == 5
        for (rank, nbr, dot), (negdot, wid) in zip(mine, want):
            assert nbr == wid and dot == -negdot, (vid, rank)


def test_mutual_knn_components_union_find(spark, sf_dir):
    got = {
        r.vec_id: r.component_id
        for r in QUERIES["knn_graph_components"](spark, sf_dir).collect()
    }
    knn = defaultdict(set)
    for r in QUERIES["knn_graph"](spark, sf_dir).collect():
        knn[r.vec_id].add(r.neighbor_id)
    parent = {v: v for v in got}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, nbrs in knn.items():
        for b in nbrs:
            if a in knn[b]:  # mutual edge
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    want = {v: find(v) for v in got}
    assert got == want
    # sanity: at least one non-singleton component OR all singleton —
    # either way every component id is its minimum member
    for v, c in got.items():
        assert c <= v


def test_ngram_novelty_replay(spark, sf_dir):
    got = {r.doc_id: r for r in QUERIES["ngram_novelty_curve"](spark, sf_dir).collect()}
    docs = sorted(
        (r.doc_id, r.text)
        for r in load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    )
    seen: set = set()
    for doc_id, text in docs:
        toks = text.strip().split()
        grams = (
            {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
            if len(toks) >= 3
            else {text.strip()}
        )
        novel = {g for g in grams if g not in seen}
        seen |= grams
        r = got[doc_id]
        assert r.n_grams == len(grams)
        assert r.n_novel == len(novel)
        assert r.novelty_frac == math.floor(len(novel) / len(grams) * 1e4 + 0.5) / 1e4
    # corpus-order novelty must start at 1.0 for the first document
    first = min(got)
    assert got[first].novelty_frac == 1.0


def test_theil_sen_trend_replay(spark, sf_dir):
    got = {r.event_type: r for r in QUERIES["theil_sen_trend"](spark, sf_dir).collect()}
    daily: dict = defaultdict(lambda: defaultdict(int))
    for r in (
        load_table(spark, sf_dir, "events").select("event_type", "ts", "value").collect()
    ):
        daily[r.event_type][r.ts.date()] += math.floor(r.value * 100 + 0.5)
    for et, per_day in daily.items():
        days = sorted(per_day)
        slopes = [
            (per_day[d2] - per_day[d1]) / (d2 - d1).days
            for i, d1 in enumerate(days)
            for d2 in days[i + 1 :]
        ]
        assert got[et].n_pairs == len(slopes)
        assert abs(got[et].theil_sen_slope - statistics.median(slopes)) < 1e-6, et


def test_merged_histogram_quantiles_bound_and_formula(spark, sf_dir):
    import numpy as np

    rows = QUERIES["quantiles_merged_histograms"](spark, sf_dir).collect()
    assert [r.q for r in rows] == [0.25, 0.5, 0.75, 0.9, 0.99]
    assert all(r.within_bin_width for r in rows)
    xs = np.sort(
        np.array(
            [
                r.o_totalprice
                for r in load_table(spark, sf_dir, "orders")
                .select("o_totalprice")
                .collect()
            ],
            dtype=float,
        )
    )
    lo, hi, n = xs[0], xs[-1], len(xs)
    width = (hi - lo) / 32
    counts, _ = np.histogram(xs, bins=32, range=(lo, hi))
    cum = np.cumsum(counts)
    for r in rows:
        target = r.q * n
        b = int(np.searchsorted(cum, target))
        below = cum[b - 1] if b else 0
        est = lo + width * (b + (target - below) / counts[b])
        assert abs(r.est - est) < 1e-3, r.q
        exact = float(np.quantile(xs, r.q))
        assert abs(r.exact - exact) < 1e-3, r.q


def test_split_semantic_leakage_replay(spark, sf_dir):
    import hashlib

    import numpy as np

    ids, mat = _quantized_matrix(spark, sf_dir)
    is_test = np.array(
        [hashlib.md5(str(v).encode()).hexdigest()[0] in "012" for v in ids]
    )
    got = {r.test_id: r for r in QUERIES["split_semantic_leakage"](spark, sf_dir).collect()}
    assert set(got) == set(ids[is_test].tolist())
    train_ids, train_mat = ids[~is_test], mat[~is_test]
    for qi in np.flatnonzero(is_test):
        dots = train_mat @ mat[qi]
        best = np.lexsort((train_ids, -dots))[0]
        r = got[ids[qi]]
        assert r.nearest_train_id == train_ids[best]
        assert r.dot_q == dots[best]
        assert r.leaked == (dots[best] >= 2_000_000)


def test_randomized_response_debiasing(spark, sf_dir):
    rows = QUERIES["randomized_response_audit"](spark, sf_dir).collect()
    truth = {
        r.event_type: r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    n_total = sum(truth.values())
    assert {r.category for r in rows} == set(truth)
    for r in rows:
        assert r.true_n == truth[r.category]
        # debiased estimate should land within ~5 sigma of truth:
        # var of the mechanism is bounded by N * (1-p)/p^2
        sigma = (n_total * 0.25) ** 0.5 / 0.75
        assert abs(r.estimated_n - r.true_n) < 5 * sigma + 1
        assert abs(abs(r.estimated_n - r.true_n) - r.abs_err) < 0.011
    # counts are conserved: observed sums to N
    assert sum(r.observed_n for r in rows) == n_total


def test_markov_transitions_replay(spark, sf_dir):
    import math as _math
    from collections import Counter

    got = {(r.from_type, r.to_type): r for r in QUERIES["markov_transition_matrix"](spark, sf_dir).collect()}
    per_user = defaultdict(list)
    for r in (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .collect()
    ):
        per_user[r.user_id].append((r.ts, r.event_id, r.event_type))
    counts: Counter = Counter()
    for seq in per_user.values():
        seq.sort()
        for (_, _, a), (_, _, b) in zip(seq, seq[1:]):
            counts[(a, b)] += 1
    assert set(got) == set(counts)
    row_totals: Counter = Counter()
    for (a, _), n in counts.items():
        row_totals[a] += n
    for key, n in counts.items():
        assert got[key].n == n
        want_p = _math.floor(n / row_totals[key[0]] * 1e4 + 0.5) / 1e4
        assert got[key].p == want_p


def test_als_implicit_step_numpy_solve(spark, sf_dir):
    import hashlib

    import numpy as np

    got = {r.user_id: r for r in QUERIES["als_implicit_step"](spark, sf_dir).collect()}
    ev = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .count()
        .collect()
    )

    def factor(prefix, t):
        return int(hashlib.md5(f"{prefix}{t}".encode()).hexdigest()[:15], 16) % 1000

    types = sorted({r.event_type for r in ev})
    Y = np.array([[factor("alsa:", t), factor("alsb:", t)] for t in types], dtype=float)
    yty = Y.T @ Y
    per_user: dict = defaultdict(dict)
    for r in ev:
        per_user[r.user_id][r.event_type] = r["count"]
    for uid, items in per_user.items():
        M = yty + 100000 * np.eye(2)
        v = np.zeros(2)
        for t, cnt in items.items():
            y = np.array([factor("alsa:", t), factor("alsb:", t)], dtype=float)
            M += cnt * np.outer(y, y)
            v += (1 + cnt) * y
        x = np.linalg.solve(M, v)
        assert got[uid].n_items == len(items)
        assert abs(got[uid].x0 - x[0]) < 1e-4, uid
        assert abs(got[uid].x1 - x[1]) < 1e-4, uid


def test_keyword_textrank_replay(spark, sf_dir):
    rows = QUERIES["keyword_textrank"](spark, sf_dir).collect()
    assert len(rows) == 20
    # replay: two damped integer iterations over the co-occurrence graph
    from collections import Counter

    docs = load_table(spark, sf_dir, "documents").select("text").collect()
    wedges: Counter = Counter()
    for r in docs:
        toks = r.text.strip().split()
        for a, b in zip(toks, toks[1:]):
            if a != b:
                wedges[(min(a, b), max(a, b))] += 1
    edges = defaultdict(list)
    for (a, b), wt in wedges.items():
        edges[a].append((b, wt))
        edges[b].append((a, wt))
    wdeg = {w: sum(wt for _, wt in nbrs) for w, nbrs in edges.items()}
    ranks = {w: 10**9 for w in wdeg}
    for _ in range(2):
        inflow = defaultdict(int)
        for a, nbrs in edges.items():
            for b, wt in nbrs:
                inflow[b] += (ranks[a] * wt) // wdeg[a]
        ranks = {
            w: 150_000_000 + math.floor(0.85 * inflow.get(w, 0) + 0.5) for w in wdeg
        }
    want = sorted(ranks.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    for r, (w, ru) in zip(rows, want):
        assert r.word == w
        assert abs(r.textrank - ru / 1e9) < 1e-12


def test_twap_replay(spark, sf_dir):
    got = {r.event_type: r for r in QUERIES["twap_report"](spark, sf_dir).collect()}
    per_type = defaultdict(list)
    for r in (
        load_table(spark, sf_dir, "events")
        .select("event_type", "ts", "event_id", "value")
        .collect()
    ):
        per_type[r.event_type].append((r.ts, r.event_id, r.value))
    for et, seq in per_type.items():
        seq.sort(key=lambda t: (t[0], t[1]))
        num = den = n = 0
        for (t1, _, v), (t2, _, _) in zip(seq, seq[1:]):
            dt = int((t2 - t1).total_seconds())
            vq = math.floor(v * 100 + 0.5)
            num += vq * dt
            den += dt
            n += 1
        r = got[et]
        assert r.n_intervals == n
        assert r.total_secs == den
        assert r.twap == math.floor(num / den / 100 * 1e4 + 0.5) / 1e4


# --------------------------------------------------------------------------
# IVF-pruned twins (round 7)
# --------------------------------------------------------------------------
def test_ivf_knn_graph_full_probe_recovers_exact(spark, sf_dir):
    """With nprobe = n_lists the IVF graph considers every candidate, so
    it must equal the exact block-GEMM graph row-for-row — the pruning
    layer is the ONLY approximation."""
    from kinesis_stream_reader_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    n_lists = emb.select("label").distinct().count()
    exact = [
        tuple(r)
        for r in similarity.knn_graph(emb, k=5)
        .select("vec_id", "rank", "neighbor_id", "dot_q")
        .collect()
    ]
    full = [
        tuple(r)
        for r in similarity.ivf_knn_graph(emb, k=5, nprobe=n_lists)
        .select("vec_id", "rank", "neighbor_id", "dot_q")
        .collect()
    ]
    assert full == exact


def test_topk_grid_is_invariant_in_its_blocking(spark, sf_dir):
    """The exact top-k keeps each cell's exact top-k and merges them, so
    the hash grid cannot change the rows: knn_graph at blocks 1, 2, 3
    and auto is identical, and the IVF layout with sub-blocked lists
    (b > 1, which auto-sizing reaches only past ~1000 vectors per list)
    and the auto-sized grid equal whole-list cells (b = 1). With more
    cells than vectors many cells have one empty side."""
    from kinesis_stream_reader_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    graphs = [
        [tuple(r) for r in similarity.knn_graph(emb, k=5, blocks=b).collect()]
        for b in (1, 2, 3, None)
    ]
    assert graphs[0] and all(g == graphs[0] for g in graphs[1:])

    probes = similarity.ivf_probes(emb, nprobe=2, metric="ip")
    cand = similarity._ivf_candidates(emb, None)

    def ivf_grid(b):
        return sorted(
            tuple(r) for r in similarity._grid_topk(probes, cand, 5, b).collect()
        )

    whole = ivf_grid(1)
    assert whole and all(ivf_grid(b) == whole for b in (2, 3, None))


def test_lof_ivf_full_probe_recovers_exact(spark, sf_dir):
    """ivf_knn_l2 at nprobe = n_lists + lof_from_knn must reproduce the
    exact LOF query's scores exactly (same arithmetic, no pruning)."""
    from kinesis_stream_reader_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    n_lists = emb.select("label").distinct().count()
    exact = {
        r.vec_id: (r.k_dist, r.lof)
        for r in QUERIES["lof_outlier_scores"](spark, sf_dir).collect()
    }
    got = {
        r.vec_id: (r.k_dist, r.lof)
        for r in similarity.lof_from_knn(
            similarity.ivf_knn_l2(emb, k=5, nprobe=n_lists), k=5
        ).collect()
    }
    assert got == exact


def test_ivf_knn_pairs_within_probed_lists_only(spark, sf_dir):
    """Every emitted edge's neighbor must be a member of one of the
    query's probed lists (the pruning contract), and no query may emit
    more than k edges."""
    from collections import Counter

    from kinesis_stream_reader_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    probes = {
        (r.vec_id, r.list_id)
        for r in similarity.ivf_probes(emb, nprobe=2, metric="ip")
        .select("vec_id", "list_id")
        .collect()
    }
    label = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    edges = similarity.ivf_knn_graph(emb, k=5, nprobe=2).collect()
    per_query = Counter()
    for r in edges:
        assert (r.vec_id, label[r.neighbor_id]) in probes
        assert r.neighbor_id != r.vec_id
        per_query[r.vec_id] += 1
    assert max(per_query.values()) <= 5


def test_trained_lists_partition_and_numpy_replay(spark, sf_dir):
    """trained_lists must (a) assign every vector exactly once to a
    list in [0, n_lists), and (b) match a driver-side numpy replay of
    the whole pipeline: Lloyd to convergence on milli-quantized ints
    (packed argmin, exact totals, floor(sum/n + 0.5) re-quantization,
    total-d2 stop) then assignment against the converged centroids."""
    import numpy as np

    from kinesis_stream_reader_spark.operators import similarity

    k = 16
    emb = load_table(spark, sf_dir, "embeddings")
    got = {
        r.vec_id: r.list_id
        for r in similarity.trained_lists(emb, n_lists=k, max_iter=5).collect()
    }
    ids, mat = _quantized_matrix(spark, sf_dir)
    assert set(got) == set(ids.tolist())
    assert all(0 <= v < k for v in got.values())

    # numpy replay
    cids = ids[ids < k].copy()
    cmat = mat[np.isin(ids, cids)].copy()

    def packed_assign(c_ids, c_mat, mult):
        d2 = (
            (mat * mat).sum(1)[:, None]
            - 2 * (mat @ c_mat.T)
            + (c_mat * c_mat).sum(1)[None, :]
        )
        p = (d2 * mult + c_ids[None, :]).min(1)
        return p % mult, p // mult

    prev_total = None
    for _ in range(5):
        cl, d2min = packed_assign(cids, cmat, k)
        total = int(d2min.sum())
        new_cids = np.unique(cl)
        cmat = np.stack(
            [
                np.floor(mat[cl == c].sum(0) / (cl == c).sum() + 0.5).astype(
                    np.int64
                )
                for c in new_cids
            ]
        )
        cids = new_cids
        if total == prev_total:
            break
        prev_total = total
    final_cl, _ = packed_assign(cids, cmat, k)
    want = dict(zip(ids.tolist(), final_cl.tolist()))
    assert got == want


def test_trained_ivf_full_probe_recovers_exact(spark, sf_dir):
    """The exactness-recovery invariant must hold under TRAINED lists
    too: nprobe = n_lists(trained) makes ivf_knn_graph equal the exact
    graph row-for-row, independent of how good the quantizer is."""
    from kinesis_stream_reader_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    tl = similarity.trained_lists(emb, n_lists=16, max_iter=5)
    n_lists = tl.select("list_id").distinct().count()
    exact = [
        tuple(r)
        for r in similarity.knn_graph(emb, k=5)
        .select("vec_id", "rank", "neighbor_id", "dot_q")
        .collect()
    ]
    full = [
        tuple(r)
        for r in similarity.ivf_knn_graph(emb, k=5, nprobe=n_lists, lists=tl)
        .select("vec_id", "rank", "neighbor_id", "dot_q")
        .collect()
    ]
    assert full == exact


def test_ann_ivfpq_trained_numpy_replay(spark, sf_dir):
    """Full driver-side numpy replay of the IVF-PQ search downstream of
    the (separately replay-tested) Lloyd loop: assignment, L2 probe
    selection with the packed tie-break, residual computation, seed
    sub-codebooks, per-sub code argmin, per-probed-list ADC LUTs, and
    the (adc, vec_id) top-10 — a third independent implementation
    beside the Spark kernel and the SQL oracle."""
    import numpy as np

    from kinesis_stream_reader_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    got = [
        (r.rank, r.vec_id, r.adc_d2)
        for r in similarity.ann_ivfpq_trained(emb).collect()
    ]
    cids, cmat, _, _ = similarity._lloyd_centroids(emb, 16, 5)
    ids, mat = _quantized_matrix(spark, sf_dir)
    d2 = ((mat[:, None, :] - cmat[None, :, :]) ** 2).sum(2)
    lst = cids[np.argmin(d2 * 16 + cids[None, :], axis=1)]
    by_id = dict(zip(ids.tolist(), range(len(ids))))
    q = mat[by_id[0]]
    qd2 = ((q[None, :] - cmat) ** 2).sum(1)
    probed = cids[np.lexsort((cids, qd2))[:2]]
    resid = mat - cmat[np.searchsorted(cids, lst)]
    cb = np.stack([resid[by_id[i]] for i in range(8)])
    scores = []
    for qi, vid in enumerate(ids):
        if vid == 0 or lst[qi] not in probed:
            continue
        rq = q - cmat[int(np.flatnonzero(cids == lst[qi])[0])]
        adc = 0
        for s in range(4):
            sl = slice(s * 16, (s + 1) * 16)
            dsub = ((resid[qi][sl][None, :] - cb[:, sl]) ** 2).sum(1)
            code = int(np.argmin(dsub * 8 + np.arange(8)))
            adc += int(((rq[sl] - cb[code][sl]) ** 2).sum())
        scores.append((adc, int(vid)))
    want = [
        (i + 1, vid, adc)
        for i, (adc, vid) in enumerate(sorted(scores)[:10])
    ]
    assert got == want


def test_trained_lists_noncontiguous_ids(spark, sf_dir):
    """Round-9 advice: a corpus whose vec_ids all exceed n_lists must
    still train (seeds = the k smallest ids relabeled to dense cids),
    not collapse every vector into list 0. Shifting every id by +10000
    must produce EXACTLY the shifted round-8 assignment, because the
    seed set (the k smallest ids) and all distances are unchanged."""
    from kinesis_stream_reader_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    base = {
        r.vec_id: r.list_id
        for r in similarity.trained_lists(emb, n_lists=8, max_iter=3).collect()
    }
    from pyspark.sql import functions as F

    shifted = emb.withColumn("vec_id", F.col("vec_id") + 10000)
    got = {
        r.vec_id: r.list_id
        for r in similarity.trained_lists(
            shifted, n_lists=8, max_iter=3
        ).collect()
    }
    assert got == {vid + 10000: lid for vid, lid in base.items()}
    assert len(set(got.values())) > 1  # trained, not collapsed


def test_ann_ivfpq_trained_guards(spark, sf_dir):
    """Round-9 advice guards: missing query_vec_id and dim % m != 0
    raise clear ValueErrors instead of a KeyError deep in numpy; a
    corpus smaller than n_codes degrades to a smaller codebook (like
    the oracle's rank-limited seed CTE) instead of raising."""
    import pytest

    from kinesis_stream_reader_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="query_vec_id"):
        similarity.ann_ivfpq_trained(emb, query_vec_id=10**9).collect()
    with pytest.raises(ValueError, match="not divisible"):
        similarity.ann_ivfpq_trained(emb, m=7).collect()
    tiny = emb.filter("vec_id < 5")  # 5 vectors < n_codes=8
    rows = similarity.ann_ivfpq_trained(
        tiny, query_vec_id=0, k=10, nprobe=16
    ).collect()
    assert 0 < len(rows) <= 4  # query excluded, codebook clamped to 5


def test_ivf_list_health_imbalance_is_faiss_definition(spark, sf_dir):
    """imbalance_milli must be the FAISS relative second moment
    n_lists * sum(n^2) / total^2 (>= 1000 milli, = 1000 iff perfectly
    balanced), and max_mean_milli the max/mean skew."""
    rows = QUERIES["ivf_list_health"](spark, sf_dir).collect()
    ns = [r.n_members for r in rows]
    tot = sum(ns)
    k = len(rows)
    want_imb = k * sum(n * n for n in ns) * 1000 // (tot * tot)
    want_mm = max(ns) * k * 1000 // tot
    assert all(r.imbalance_milli == want_imb for r in rows)
    assert all(r.max_mean_milli == want_mm for r in rows)
    assert want_imb >= 1000


def test_ann_ivfpq_refine_rerank_semantics(spark, sf_dir):
    """Refine must (a) re-rank by EXACT distance (monotone exact_d2,
    correct vs a numpy exact computation), (b) return a subset of the
    ADC shortlist, and (c) with nprobe = n_lists and a shortlist as
    large as the corpus, equal the exact brute-force top-k."""
    import numpy as np

    from kinesis_stream_reader_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    ids, mat = _quantized_matrix(spark, sf_dir)
    by_id = dict(zip(ids.tolist(), range(len(ids))))
    q = mat[by_id[0]]
    exact = {
        int(vid): int(((mat[by_id[vid]] - q) ** 2).sum())
        for vid in ids.tolist()
    }

    rows = similarity.ann_ivfpq_refine(emb).collect()
    short_ids = {
        r.vec_id
        for r in similarity.ann_ivfpq_trained(emb, k=40).collect()
    }
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    d2s = [r.exact_d2 for r in rows]
    assert d2s == sorted(d2s)
    for r in rows:
        assert r.exact_d2 == exact[r.vec_id]
        assert r.vec_id in short_ids

    # full probe + corpus-wide shortlist recovers exact brute force
    n = len(ids)
    full = similarity.ann_ivfpq_refine(
        emb, k=10, refine_factor=(n + 9) // 10, nprobe=16
    ).collect()
    want = sorted((d, vid) for vid, d in exact.items() if vid != 0)[:10]
    assert [(r.exact_d2, r.vec_id) for r in full] == want


def test_pq_code_health_invariants(spark, sf_dir):
    """Every vector is encoded in every subspace (per-sub counts sum to
    the corpus size), shares/means are the exact integer divisions, and
    sub_empty_codes counts the zero rows of its subspace."""
    from collections import defaultdict

    rows = QUERIES["pq_code_health"](spark, sf_dir).collect()
    assert len(rows) == 4 * 8
    n_total = load_table(spark, sf_dir, "embeddings").count()
    per_sub = defaultdict(list)
    for r in rows:
        per_sub[r.s].append(r)
    for s, rs in per_sub.items():
        assert sum(r.n_vectors for r in rs) == n_total
        empties = sum(1 for r in rs if r.n_vectors == 0)
        for r in rs:
            assert r.sub_empty_codes == empties
            assert r.share_milli == r.n_vectors * 1000 // max(n_total, 1)
            assert (
                r.dist_mean_milli
                == r.dist_sum * 1000 // max(r.n_vectors, 1)
            )


def test_betweenness_matches_pure_python_brandes(spark, sf_dir):
    """Independent replay: plain per-source BFS Brandes in pure Python
    with the SAME micro-unit integer quantization of each dependency
    term — a third implementation beside the Spark layer algebra and
    the unrolled SQL oracle."""
    from collections import defaultdict, deque

    from kinesis_stream_reader_spark.registry import QUERIES
    from kinesis_stream_reader_spark.sources.tables import load_table as lt

    got = {
        r.node: r.bc_micro
        for r in QUERIES["betweenness_centrality"](spark, sf_dir).collect()
    }
    events = lt(spark, sf_dir, "events").select("user_id", "event_id").collect()
    edges = {(r.user_id % 100, 100 + r.event_id % 100) for r in events}
    adj = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    verts = sorted(adj)
    UNIT, K = 1_000_000, 6
    bc = defaultdict(int)
    for s in verts:
        dist, sig, order = {s: 0}, {s: 1}, [s]
        q = deque([s])
        while q:
            u = q.popleft()
            if dist[u] >= K:
                continue
            for w in sorted(adj[u]):
                if w not in dist:
                    dist[w] = dist[u] + 1
                    sig[w] = 0
                    order.append(w)
                    q.append(w)
                if dist[w] == dist[u] + 1:
                    sig[w] += sig[u]
        delta = defaultdict(int)
        for u in reversed(order):
            for w in adj[u]:
                if dist.get(w) == dist[u] + 1:
                    delta[u] += sig[u] * (UNIT + delta[w]) // sig[w]
            if u != s:
                bc[u] += delta[u]
    want = {v: bc.get(v, 0) for v in verts}
    assert got == want


def test_ann_ivfpq_batch_matches_single_query_path(spark, sf_dir):
    """Recall parity: the batch path's rows for a given query must be
    IDENTICAL to ann_ivfpq_trained serving that query alone — batching
    changes the broadcast/amortization shape, never the math."""
    from kinesis_stream_reader_spark.operators import similarity
    from kinesis_stream_reader_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    batch = {
        qid: sorted(
            (r.rank, r.vec_id, r.adc_d2) for r in rows
        )
        for qid, rows in __import__("itertools").groupby(
            sorted(
                similarity.ann_ivfpq_batch(emb, n_queries=3).collect(),
                key=lambda r: (r.query_id, r.rank),
            ),
            key=lambda r: r.query_id,
        )
    }
    assert len(batch) == 3
    for qid, rows in batch.items():
        single = sorted(
            (r.rank, r.vec_id, r.adc_d2)
            for r in similarity.ann_ivfpq_trained(
                emb, query_vec_id=qid
            ).collect()
        )
        assert rows == single, f"query {qid} diverges from single path"


def test_ann_ivfpq_batch_excludes_self(spark, sf_dir):
    from kinesis_stream_reader_spark.operators import similarity
    from kinesis_stream_reader_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    for r in similarity.ann_ivfpq_batch(emb, n_queries=2).collect():
        assert r.vec_id != r.query_id


def test_ann_ivf_filtered_prefilter_semantics(spark, sf_dir):
    """Every returned row passes the predicate, excludes the query,
    and is exactly the label-filtered subset of the UNfiltered probed
    candidate ranking (pre-filter = filter-then-rank)."""
    from kinesis_stream_reader_spark.operators import similarity
    from kinesis_stream_reader_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    rows = similarity.ann_ivf_filtered(emb, k=10, label=1).collect()
    assert all(r.label == 1 and r.vec_id != 0 for r in rows)
    d2s = [r.d2 for r in rows]
    assert d2s == sorted(d2s)
    # unfiltered ranking over the same probed lists, post-filtered,
    # must agree (pre-filter changes efficiency, not the result set)
    big = similarity.ann_ivf_filtered(emb, k=10**6, label=1).collect()
    labels = {
        r.vec_id: r.label
        for r in emb.select("vec_id", "label").collect()
    }
    assert [r.vec_id for r in rows] == [
        r.vec_id for r in big if labels[r.vec_id] == 1
    ][: len(rows)]


def test_persisted_index_serving_matches_direct_path(spark, sf_dir, tmp_path):
    """Build/serve separation: serving from the persisted parquet
    index must be row-identical to the in-memory ann_ivfpq_trained
    path, and the codes scan must be partition-pruned to the probed
    lists."""
    from kinesis_stream_reader_spark.operators import similarity
    from kinesis_stream_reader_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    d = str(tmp_path / "idx")
    similarity.ivfpq_build_index(emb, d)
    served = similarity.ivfpq_serve_persisted(emb, d, query_vec_id=0)
    direct = similarity.ann_ivfpq_trained(emb, query_vec_id=0)
    assert [
        (r.rank, r.vec_id, r.adc_d2) for r in served.collect()
    ] == [(r.rank, r.vec_id, r.adc_d2) for r in direct.collect()]
    # partition pruning: physical plan's scan must carry list_id
    # partition filters (hive layout on the probed lists)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        served.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "list_id" in plan


def test_ann_round10_edge_cases(spark, sf_dir):
    """Round-10 ANN edges: batch query count exceeding the corpus
    degrades to all-vectors-as-queries; filtered search with an
    impossible predicate returns empty (not an error); persisted
    serving rejects a missing query id loudly."""
    import pytest as _pytest

    from kinesis_stream_reader_spark.operators import similarity
    from kinesis_stream_reader_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(30)
    n = emb.count()
    rows = similarity.ann_ivfpq_batch(emb, n_queries=n + 50, k=3).collect()
    assert {r.query_id for r in rows} <= {
        r.vec_id for r in emb.select("vec_id").collect()
    }
    assert len({r.query_id for r in rows}) == n
    empty = similarity.ann_ivf_filtered(
        load_table(spark, sf_dir, "embeddings"), label=10**9
    ).collect()
    assert empty == []
    with _pytest.raises(ValueError):
        similarity.ann_ivf_filtered(
            load_table(spark, sf_dir, "embeddings"), query_vec_id=10**9
        ).collect()
