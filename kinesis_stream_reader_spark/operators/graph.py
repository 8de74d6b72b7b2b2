"""Graph kernels over the bounded interaction graph, run on the driver.

Projection contract (shared by all eight kernels in this module):

- Each kernel derives an undirected graph from the events table by
  projecting the two endpoint ids into a bounded residue space, either
  modular (``user_id % a``, ``event_id % b``) or bipartite
  (``user_id % 100``, ``100 + event_id % 100``). The vertex set is
  therefore bounded BY CONSTRUCTION (at most ``a + b`` residues)
  whatever the corpus size, so the only corpus-sized work is ONE
  distributed edge distinct (``edge_census``). The kernel runs as dense
  numpy over the collected edge list: the distributed per-round
  join / anti-join / checkpoint plans paid flat scheduling taxes on
  relations of a few hundred rows. On an UNBOUNDED graph use the
  distributed forms instead (pagerank_converged's shape).
- Dense ids are the sorted vertex ids: index order IS id order, so the
  ``(count DESC, vertex)`` and smallest-label tie-breaks compare
  indices.
- The adjacency is symmetric bool. Bool ``@`` bool accumulates with OR,
  which is what BFS wants (a node adjacent to >= 128 frontier members
  cannot wrap, as int8 would); counting kernels cast once to int64.
- Every kernel passes ``_check_driver_graph_bounds`` before its edge
  census runs, so a caller passing large diagnostic parameters fails
  loudly instead of OOM-ing the driver.
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import tiny_df
from ..session import env_int

# default vertex cap of the O(n^2) driver graph kernels
_N2_VERTEX_CAP = 4096

# BFS depth bound of harmonic and Brandes (the diameter both oracles
# unroll), and Brandes' exact micro-unit dependency scale
BFS_DEPTH = 6
BRANDES_UNIT = 1_000_000  # micro-units keep sigma * (unit + delta) in int64


def _check_driver_graph_bounds(
    nodes_a: int, nodes_b: int, cap: int, kernel: str, exponent: int = 2
):
    """The dense driver-side graph kernels allocate O(n^2)-O(n^3)
    arrays keyed to the nodes_a + nodes_b residue bound; a caller
    passing large diagnostic parameters must fail loudly instead of
    OOM-ing the driver (the distributed forms were retired in round
    13). Env-overridable for hosts with more driver memory:
    SPARK_GRAFT_DRIVER_GRAPH_MAX_VERTICES replaces the n^2 cap
    (_N2_VERTEX_CAP), and an O(n^exponent) kernel's ``cap`` scales by
    (override / _N2_VERTEX_CAP) ** (2 / exponent), so every kernel's
    largest dense array grows by the same factor."""
    var = "SPARK_GRAFT_DRIVER_GRAPH_MAX_VERTICES"
    override = env_int(var, None)
    if override is not None:
        cap = int(cap * (override / _N2_VERTEX_CAP) ** (2 / exponent))
    if nodes_a + nodes_b > cap:
        raise ValueError(
            f"{kernel}: nodes_a + nodes_b = {nodes_a + nodes_b} exceeds the "
            f"dense driver-kernel vertex cap {cap} (set {var} to raise it)"
        )


def edge_census(
    events: DataFrame,
    u: Column,
    v: Column,
    nodes_a: int,
    nodes_b: int,
    kernel: str,
    cap: int = _N2_VERTEX_CAP,
    exponent: int = 2,
):
    """Collected adjacency of the projection ``(u, v)`` of ``events``,
    whose endpoints take at most ``nodes_a + nodes_b`` values. The
    bounds guard runs first, then ONE distributed distinct over the
    undirected, self-loop-free edges. Returns (sorted int64 vertex ids,
    symmetric bool adjacency); both are empty for an edgeless graph."""
    _check_driver_graph_bounds(nodes_a, nodes_b, cap, kernel, exponent)
    rows = (
        events.select(u.alias("p"), v.alias("q"))
        .filter(F.col("p") != F.col("q"))
        .select(F.least("p", "q").alias("u"), F.greatest("p", "q").alias("v"))
        .distinct()
        .collect()
    )
    ends = np.array([(r["u"], r["v"]) for r in rows], np.int64).reshape(-1, 2)
    vids, idx = np.unique(ends, return_inverse=True)
    idx = idx.reshape(-1, 2)
    A = np.zeros((len(vids), len(vids)), bool)
    A[idx[:, 0], idx[:, 1]] = True
    A[idx[:, 1], idx[:, 0]] = True
    return vids, A


def _modular_census(events, nodes_a, nodes_b, kernel, **bounds):
    """The modular projection (user_id % nodes_a, event_id % nodes_b)."""
    return edge_census(
        events,
        F.col("user_id") % nodes_a,
        F.col("event_id") % nodes_b,
        nodes_a,
        nodes_b,
        kernel,
        **bounds,
    )


def _bipartite_census(events, kernel, **bounds):
    """The bipartite projection (user_id % 100, 100 + event_id % 100):
    for non-negative ids the sides are the disjoint ranges [0, 100) and
    [100, 200), so the census's self-loop filter drops nothing."""
    return edge_census(
        events,
        F.col("user_id") % 100,
        100 + F.col("event_id") % 100,
        100,
        100,
        kernel,
        **bounds,
    )


def bfs_layers(A, max_depth: int):
    """All-sources BFS over the bool adjacency ``A``: yields, for depth
    1..max_depth, the (n, n) bool frontier of vertices first reached at
    that depth (row s = source s), ``(frontier @ A) & ~settled``. Stops
    early at the first empty frontier — later depths add nothing."""
    settled = np.eye(A.shape[0], dtype=bool)
    frontier = settled.copy()
    for _ in range(max_depth):
        frontier = (frontier @ A) & ~settled
        if not frontier.any():
            return
        settled |= frontier
        yield frontier


def triangle_count(
    events: DataFrame, nodes_a: int = 200, nodes_b: int = 199
) -> DataFrame:
    """Triangle counting with degree-ordered edge orientation — the
    classic bound that makes wedge enumeration survive power-law
    graphs: orienting every undirected edge from its lower-(degree, id)
    endpoint to the higher one caps out-degree at O(sqrt(m)) however
    skewed raw degrees are. Wedges then close against the edge set;
    every triangle is counted exactly once (its orientation is a DAG).

    Output: per-vertex triangle participation for the top-10 vertices
    (count DESC, vertex) plus the global count as a row with
    vertex = -1; an edgeless graph yields only (-1, 0)."""
    spark = events.sparkSession
    # the wedge tensor is n^3 bool — cap tighter than the n^2 kernels
    vids, A = _modular_census(
        events, nodes_a, nodes_b, "triangle_count", cap=512, exponent=3
    )
    schema = "vertex BIGINT, n_triangles BIGINT"
    if not vids.size:
        return tiny_df(spark, [(-1, 0)], schema)
    n = len(vids)
    deg = A.sum(axis=1)
    # orient a -> b iff (deg(a), a) < (deg(b), b); index order IS id
    # order, so the tie-break compares indices
    lt = (deg[:, None] < deg[None, :]) | (
        (deg[:, None] == deg[None, :])
        & (np.arange(n)[:, None] < np.arange(n)[None, :])
    )
    Ao = A & lt
    # wedges (a; b1 < b2 by id) closed by ANY edge between b1 and b2
    upper = np.triu(np.ones((n, n), bool), 1)
    tri = Ao[:, :, None] & Ao[:, None, :] & (A & upper)[None, :, :]
    cnt = (
        tri.sum(axis=(1, 2))  # as wedge center a
        + tri.sum(axis=(0, 2))  # as b1
        + tri.sum(axis=(0, 1))  # as b2
    ).astype(np.int64)
    total = int(tri.sum())
    # per-vertex rows exist only for triangle participants (the plan's
    # groupBy over tris); top-10 by (count DESC, vertex)
    pv = sorted(
        ((int(cnt[i]), int(vids[i])) for i in range(n) if cnt[i] > 0),
        key=lambda t: (-t[0], t[1]),
    )[:10]
    rows = [(v, c) for c, v in pv] + [(-1, total)]
    rows.sort(key=lambda t: (-t[1], t[0]))
    return tiny_df(spark, rows, schema)


def label_propagation(
    events: DataFrame, rounds: int = 3, nodes_a: int = 200, nodes_b: int = 199
) -> DataFrame:
    """Community detection by synchronous label propagation (LPA):
    every vertex starts labeled with its own id, and each round adopts
    the most frequent label among its neighbors, ties broken by the
    SMALLEST label — the deterministic variant (classic LPA's random
    tie-break is irreproducible across engines and runs). A fixed
    `rounds` budget keeps the oracle statically unrollable; the
    driver-loop kernels (connected components, pagerank_converged) show
    the to-convergence form.

    Completes the graph family: pagerank (centrality), connected
    components (reachability), triangles (local density), LPA
    (community structure)."""
    spark = events.sparkSession
    schema = "vertex BIGINT, label BIGINT"
    vids, A = _modular_census(events, nodes_a, nodes_b, "label_propagation")
    if not vids.size:
        return tiny_df(spark, [], schema)
    lab = _lpa_labels(A, rounds)
    return tiny_df(spark, list(zip(vids.tolist(), vids[lab].tolist())), schema)


def _lpa_labels(A, rounds: int):
    """Deterministic synchronous LPA rounds over a dense adjacency:
    votes are exact integer counts via an adjacency x one-hot-label
    GEMM, and numpy argmax's first-maximum pick IS the smallest-label
    tie-break because label values are vertex ids on a sorted axis."""
    n = A.shape[0]
    Ai = A.astype(np.int64)
    lab = np.arange(n)
    for _ in range(rounds):
        onehot = np.zeros((n, n), np.int64)
        onehot[np.arange(n), lab] = 1
        lab = (Ai @ onehot).argmax(axis=1)
    return lab


def modularity_report(events: DataFrame) -> DataFrame:
    """Newman modularity (Newman & Girvan 2004 — public measure) of the
    label-propagation partition: Q = sum_c (e_c/m - (d_c/2m)^2), the
    quality score a community-detection pass reports next to its
    labels (is this partition better than random?). Composes
    label_propagation's deterministic 3-round LPA with exact integer
    algebra: the numerator sum_c (4*m*e_c - d_c^2) is pure bigint, and
    the one float op replays the oracle's
    floor(num / ((4.0 * m) * m) * 1e6 + 0.5) / 1e6 sequence. An
    edgeless graph yields (0, 0, NULL), as the oracle's empty
    aggregates do."""
    spark = events.sparkSession
    schema = "n_communities BIGINT, n_edges BIGINT, modularity DOUBLE"
    vids, A = _modular_census(events, 200, 199, "graph_modularity_report")
    if not vids.size:
        return tiny_df(spark, [(0, 0, None)], schema)
    lab = _lpa_labels(A, rounds=3)
    m = int(A.sum()) // 2
    d_c: dict = {}
    for c, d in zip(lab.tolist(), A.sum(axis=1).tolist()):
        d_c[c] = d_c.get(c, 0) + d
    # intra-community edges, each counted once (i < j)
    intra = np.triu(A, 1) & (lab[:, None] == lab[None, :])
    e_c = Counter(lab[np.nonzero(intra)[0]].tolist())
    num = sum(4 * m * e_c[c] - d * d for c, d in d_c.items())
    modularity = (
        math.floor(float(num) / ((4.0 * m) * m) * 1e6 + 0.5) / 1e6
    )
    return tiny_df(spark, [(len(d_c), m, modularity)], schema)


def _distance2_nonedges(Ai):
    """(i, j, n_common) for every non-adjacent pair i < j with at least
    one common neighbor, in (i, j) order; common-neighbor counts are
    one exact int64 A @ A GEMM over the int64 adjacency ``Ai``."""
    C = Ai @ Ai
    ii, jj = np.nonzero(np.triu((C > 0) & (Ai == 0), 1))
    return zip(ii.tolist(), jj.tolist(), C[ii, jj].tolist())


def link_prediction_jaccard(events: DataFrame) -> DataFrame:
    """Link prediction by neighbor-set Jaccard (the common-neighbors
    family, Liben-Nowell & Kleinberg 2003): score every NON-adjacent
    node pair at distance 2 and rank the top 20 — the
    recommendation/completion primitive next to item_item_recs (which
    scores co-purchases, not graph structure). The quantized Jaccard
    replays long/long -> double division op for op."""
    spark = events.sparkSession
    schema = "u BIGINT, v BIGINT, n_common BIGINT, jaccard DOUBLE"
    vids, A = _modular_census(events, 200, 199, "link_prediction_jaccard")
    if not vids.size:
        return tiny_df(spark, [], schema)
    Ai = A.astype(np.int64)
    deg = Ai.sum(axis=1).tolist()
    rows = [
        (
            int(vids[i]),
            int(vids[j]),
            nc,
            math.floor(nc / (deg[i] + deg[j] - nc) * 1e4 + 0.5) / 1e4,
        )
        for i, j, nc in _distance2_nonedges(Ai)
    ]
    rows.sort(key=lambda t: (-t[3], t[0], t[1]))
    return tiny_df(spark, rows[:20], schema)


def link_prediction_adamic_adar(events: DataFrame) -> DataFrame:
    """Adamic-Adar link prediction (Adamic & Adar 2003 — public
    method): score non-adjacent distance-2 pairs by sum over common
    neighbors of 1/ln(degree) — rare shared neighbors count more than
    hubs, the refinement that beats raw common-neighbor counts and
    Jaccard on social graphs (Liben-Nowell & Kleinberg 2003's
    benchmark result).

    Determinism: each wedge's weight is the nano-unit integer
    floor(1e9 / ln(deg) + 0.5) of the shared neighbor's exact degree
    (every wedge center has deg >= 2), pair scores are one exact int64
    A @ diag(w) @ A GEMM, and the (aa_u DESC, u, v) top-20 ranks the
    exact bigints."""
    spark = events.sparkSession
    schema = "u BIGINT, v BIGINT, n_common BIGINT, adamic_adar DOUBLE"
    vids, A = _modular_census(events, 200, 199, "link_prediction_adamic_adar")
    if not vids.size:
        return tiny_df(spark, [], schema)
    Ai = A.astype(np.int64)
    w = np.array(
        [
            int(math.floor(1e9 / math.log(float(d)) + 0.5)) if d >= 2 else 0
            for d in Ai.sum(axis=1)
        ],
        np.int64,
    )
    AA = (Ai * w[None, :]) @ Ai  # aa_u[i, j] = sum over shared nbrs of w
    rows = [
        (int(vids[i]), int(vids[j]), nc, int(AA[i, j]))
        for i, j, nc in _distance2_nonedges(Ai)
    ]
    rows.sort(key=lambda t: (-t[3], t[0], t[1]))
    top = [
        (u, v, nc, math.floor(aau / 1e9 * 1e4 + 0.5) / 1e4)
        for u, v, nc, aau in rows[:20]
    ]
    return tiny_df(spark, top, schema)


def hyperball_neighborhood(
    events: DataFrame, rounds: int = 3, m: int = 16
) -> DataFrame:
    """HyperBall / ANF neighborhood-function estimation (Palmer et al.
    2002; Boldi & Vigna 2013 — public methods): per node, an
    HLL-sketched estimate of |ball(v, rounds)|, with the exact ball
    size alongside so the report shows the estimator's error.

    The scale story is the whole point: an exact ball needs per-node
    reach sets that go quadratic on dense graphs, while the HyperBall
    state is a FIXED m-registers-per-node relation whose round update
    is one join + max-aggregate — at 100 TB you keep the sketch and
    drop the exact twin (it is here as the accuracy oracle).

    Determinism: register index and rho come from md5 of the node id
    (j = H1 % m; rho = position of the lowest set bit of H2), replayed
    hashlib-exactly; register maxes are integer; Z = sum of 2^-rho is
    EXACT in IEEE (<=16 terms, exponent span 31 bits < 53); the
    estimator branch (raw vs small-range ln correction) evaluates the
    same fixed expressions, quantized 1e-4."""
    spark = events.sparkSession
    schema = "node BIGINT, exact_ball BIGINT, est_ball DOUBLE, rel_err DOUBLE"
    vids, A = _modular_census(events, 200, 199, "hyperball_neighborhood")
    if not vids.size:
        return tiny_df(spark, [], schema)
    n = len(vids)
    ball = np.eye(n, dtype=bool)
    for layer in bfs_layers(A, rounds):
        ball |= layer
    exact_ball = ball.sum(axis=1).astype(np.int64)
    # per-node HLL register (j, rho) from md5("hb:<id>") — hex slices
    # [0:15] / [16:31], exactly substring(md5, 1, 15) / (17, 15)
    reg: list = [None] * n
    for i, v in enumerate(vids.tolist()):
        hx = hashlib.md5(f"hb:{v}".encode()).hexdigest()
        bits = int(hx[16:31], 16)
        rho = None
        for k in range(1, 32):
            if (bits >> (k - 1)) & 1:
                rho = k
                break
        if rho is not None:
            reg[i] = (int(hx[0:15], 16) % m, rho)
    mf = float(m)
    rows = []
    for i in range(n):
        regs: dict = {}
        for w in np.flatnonzero(ball[i]):
            rw = reg[int(w)]
            if rw is not None:
                jj, rho = rw
                if rho > regs.get(jj, 0):
                    regs[jj] = rho
        if not regs:
            # a node whose ball holds no hashed member never reaches
            # the z relation — same inner-join drop as the plan form
            continue
        cnt = len(regs)
        # dyadic terms: exact in IEEE regardless of summation order
        zpart = 0.0
        for rho in regs.values():
            zpart += 1.0 / float(1 << rho)
        est_raw = (0.673 * mf * mf) / (zpart + float(m - cnt))
        vz = float(m - cnt)
        if est_raw <= 2.5 * mf and vz > 0:
            est = mf * math.log(mf / vz)
        else:
            est = est_raw
        eb = float(exact_ball[i])
        rows.append(
            (
                int(vids[i]),
                int(exact_ball[i]),
                math.floor(est * 1e4 + 0.5) / 1e4,
                math.floor((est - eb) / eb * 1e4 + 0.5) / 1e4,
            )
        )
    return tiny_df(spark, rows, schema).orderBy("node")


def harmonic_centrality(events: DataFrame) -> DataFrame:
    """Harmonic centrality (Boldi & Vigna 2014 formulation — public
    measure): H(v) = sum over reachable u != v of 1/d(v,u), computed
    EXACTLY by a BFS_DEPTH-bounded all-sources BFS over the
    bipartite projection — the exact companion the HyperBall sketch
    (hyperball_neighborhood) approximates at scale, completing the
    centrality family next to pagerank (eigen), degree, and k-core.

    Arithmetic is bit-identical to the oracle's min-plus rounds:
    per-distance nano-unit terms floor(1e9 / d + 0.5) are exact
    integers, the per-source sum is an exact int, and the final
    quantization replays floor(double(hq) / 1e9 * 1e6 + 0.5) / 1e6 op
    for op. All-pairs exact BFS is inherently |V|^2 (the documented
    diagnostic knob); HyperBall IS the engine's linear-at-scale path
    for this measure."""
    spark = events.sparkSession
    schema = "node BIGINT, n_reached BIGINT, harmonic DOUBLE"
    vids, A = _bipartite_census(events, "harmonic_centrality")
    if not vids.size:
        return tiny_df(spark, [], schema)
    n = len(vids)
    hq = np.zeros(n, np.int64)  # per-source nano-unit harmonic sum
    n_reached = np.zeros(n, np.int64)
    for d, layer in enumerate(bfs_layers(A, BFS_DEPTH), 1):
        reached = layer.sum(axis=1).astype(np.int64)
        hq += reached * int(math.floor(1e9 / d + 0.5))
        n_reached += reached
    rows = [
        (
            int(vids[i]),
            int(n_reached[i]),
            math.floor(float(hq[i]) / 1e9 * 1e6 + 0.5) / 1e6,
        )
        for i in range(n)
    ]
    return tiny_df(spark, rows, schema).orderBy("node")


def betweenness_centrality(events: DataFrame) -> DataFrame:
    """Exact Brandes betweenness (Brandes 2001 — public algorithm) over
    the bipartite projection: BFS layers carry shortest-path counts
    (sigma), and the backward pass accumulates dependencies per source
    with each sigma_v * (unit + delta_w) / sigma_w term floored to
    exact integer micro-units. Sigma GEMMs and the floor division are
    exact int64 on NONNEGATIVE operands, so numpy // equals the
    oracle's integer division. All-pairs exact betweenness is
    inherently |V| x BFS — the documented diagnostic knob; at corpus
    scale you run it on the community-sampled projection.

    The backward pass builds (n, n, n) int64 term tensors, so the
    guard runs with exponent 3 and a 256-vertex cap: the same
    128 MiB per tensor as triangle_count's 512-vertex bool wedges."""
    spark = events.sparkSession
    schema = "node BIGINT, bc_micro BIGINT"
    vids, A = _bipartite_census(
        events, "betweenness_centrality", cap=256, exponent=3
    )
    if not vids.size:
        return tiny_df(spark, [], schema)
    n = len(vids)
    Ai = A.astype(np.int64)
    # forward: sig_layers[k][s, node] = shortest-path count for nodes
    # first reached at depth k from source s (0 elsewhere). An early
    # BFS stop is result-identical: an empty layer adds zero rows
    # everywhere and the terminal layer's delta is 0 either way.
    sig_layers = [np.eye(n, dtype=np.int64)]
    for layer in bfs_layers(A, BFS_DEPTH):
        sig_layers.append(np.where(layer, sig_layers[-1] @ Ai, 0))
    # backward: dependency accumulation. delta[k][s, u] sums, over
    # edges u->dst with dst in layer k+1 of source s, the exact
    # integer term sig_k[s,u] * (UNIT + delta_{k+1}[s,dst]) // sig_{k+1}[s,dst]
    last = len(sig_layers) - 1
    delta_next = np.zeros((n, n), np.int64)  # deltas[last] = 0
    bc = np.zeros(n, np.int64)  # running sum over k of per-node delta
    for k in range(last - 1, -1, -1):
        sig_next = sig_layers[k + 1]
        mask_next = sig_next > 0
        num = BRANDES_UNIT + delta_next  # (s, dst)
        # term tensor over (s, u, dst): multiply BEFORE the floor
        # division, exactly as the SQL expression does per row
        sig_k = sig_layers[k]
        term = sig_k[:, :, None] * num[:, None, :]
        div = np.where(mask_next, sig_next, 1)[:, None, :]
        contrib = np.where(
            mask_next[:, None, :] & A[None, :, :],
            term // div,
            0,
        )
        delta_k = np.where(sig_k > 0, contrib.sum(axis=2), 0)
        # aggregate: every (s, node) pair with node != s contributes
        offdiag = sig_k > 0
        np.fill_diagonal(offdiag, False)
        bc += np.where(offdiag, delta_k, 0).sum(axis=0)
        delta_next = delta_k
    return tiny_df(
        spark, [(int(vids[i]), int(bc[i])) for i in range(n)], schema
    ).orderBy("node")
