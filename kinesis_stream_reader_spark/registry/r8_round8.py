"""Registry slice — ROUND 8: the TRAINED coarse quantizer wired into
the IVF production twins (the r7 verdict's top item), plus the IVF
list-health ops report.

Round 7 landed the IVF-pruned kNN consumers but keyed their inverted
lists by the fixture's `label` column. This round trains the quantizer
the way a production index does — Lloyd's k-means to convergence, then
assign every vector to its nearest centroid's list (the FAISS
IndexIVF composition: train() then add()) — and re-runs the pruned
reports over the trained lists. `ivf_nprobe_sweep_trained` measures
what the swap buys: trained lists reach higher edge recall at a
SMALLER probed fraction than label lists on the same fixture.

Every oracle replays the full training loop in SQL (the recursive-CTE
kmeans mirror from kmeans_converged) — exact-integer distances make
the converged centroids, the assignment, and everything downstream
bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.rowmap import doc_id_seed, map_batches, map_rows
from ._shared import load_table, register

# Fixture sizing: 16 trained lists (~sqrt(500)/1.4) keeps the oracle's
# recursive-CTE bounded; production sizing is n_lists ~ sqrt(N) with
# training on a corpus sample. Keep the constants in lockstep with the
# SQL fragments below (seeds = 16 smallest vec_ids relabeled to dense
# cids 0..15 by vec_id rank, packed argmin * 16).
_N_LISTS = 16
_MAX_ITER = 5


def _trained(spark: SparkSession, sf_dir: str):
    from ..operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    return emb, similarity.trained_lists(
        emb, n_lists=_N_LISTS, max_iter=_MAX_ITER
    )


# ---------------------------------------------------------------------------
# Shared oracle fragments.
#
# _TRAINED_TL_CTE: milli-quantized vectors -> Lloyd loop to convergence
# (recursive CTE, the kmeans_converged oracle pattern: packed
# MIN(d2 * k + cid) argmin, exact-bigint total d2 as the stop signal,
# max_iter cap) -> `tl` = fresh argmin assignment of every vector
# against the CONVERGED centroids. Mirrors similarity.trained_lists.
#
# _TRAINED_QV_CTE: + the per-list integer stats and probe-dot pyramid
# (qv/co/ln/pk), the same interface r7_round7's _IVF_QV_CTE exposes for
# label-keyed lists, so the downstream probe/kNN fragments are the
# established bit-exact forms.
# ---------------------------------------------------------------------------
_TRAINED_TL_CTE = """
WITH RECURSIVE vecs AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(floor(x * 1000 + 0.5) AS BIGINT)) AS v
  FROM embeddings
), iters AS (
  SELECT 0 AS iter,
         CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
         v AS c,
         CAST(NULL AS BIGINT) AS total_d2, CAST(NULL AS BIGINT) AS prev_d2
  FROM vecs QUALIFY row_number() OVER (ORDER BY vec_id) <= 16
  UNION ALL
  (
    WITH cur AS (
      SELECT * FROM iters
      WHERE iter < 5
        AND (total_d2 IS NULL OR prev_d2 IS NULL OR total_d2 <> prev_d2)
    ), packed AS (
      SELECT w.vec_id, w.v,
             MIN(list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(list_zip(w.v, c.c),
                                  p -> (p[1] - p[2]) * (p[1] - p[2]))),
                 (a, b) -> a + b) * 16 + c.cid) AS p
      FROM vecs w CROSS JOIN cur c
      GROUP BY w.vec_id, w.v
    ), assign AS (
      SELECT vec_id, v, p % 16 AS cluster_id, p // 16 AS d2min FROM packed
    ), tot AS (
      SELECT SUM(d2min) AS t FROM assign
    ), per_dim AS (
      SELECT cluster_id, pos,
             CAST(floor(SUM(x) / COUNT(*) + 0.5) AS BIGINT) AS cm
      FROM (SELECT cluster_id, unnest(v) AS x, generate_subscripts(v, 1) AS pos
            FROM assign)
      GROUP BY cluster_id, pos
    ), newc AS (
      SELECT cluster_id AS cid, list(cm ORDER BY pos) AS c
      FROM per_dim GROUP BY cluster_id
    )
    SELECT c0.iter + 1 AS iter, n.cid, n.c,
           t.t AS total_d2, c0.total_d2 AS prev_d2
    FROM newc n, tot t, (SELECT DISTINCT iter, total_d2 FROM cur) c0
  )
), fcents AS (
  SELECT cid, c FROM iters WHERE iter = (SELECT MAX(iter) FROM iters)
), tl AS (
  SELECT vec_id, p % 16 AS list_id FROM (
    SELECT w.vec_id,
           MIN(list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(list_zip(w.v, c.c),
                                p -> (p[1] - p[2]) * (p[1] - p[2]))),
               (a, b) -> a + b) * 16 + c.cid) AS p
    FROM vecs w CROSS JOIN fcents c GROUP BY w.vec_id)
)
"""

_TRAINED_QV_CTE = _TRAINED_TL_CTE + """
, qv AS (
  SELECT t.vec_id, t.list_id, w.v
  FROM tl t JOIN vecs w USING (vec_id)
), co AS (
  SELECT list_id, t.i AS i, SUM(v[t.i]) AS s
  FROM qv, generate_series(1, 64) AS t(i)
  GROUP BY list_id, t.i
), ln AS (
  SELECT list_id, COUNT(*) AS n FROM qv GROUP BY list_id
), pk AS (
  SELECT a.vec_id, co.list_id, SUM(a.v[co.i] * co.s) AS dot
  FROM qv a, co GROUP BY a.vec_id, co.list_id
)
"""

# inner-product probe (descending centroid dot) -> pruned MIPS kNN —
# identical arithmetic to r7_round7's _IVF_KNN_IP_CTES, now over
# trained lists.
_TRAINED_KNN_IP_CTES = _TRAINED_QV_CTE + """
, probe AS (
  SELECT vec_id, list_id FROM (
    SELECT p.vec_id, p.list_id,
           ROW_NUMBER() OVER (PARTITION BY p.vec_id
                              ORDER BY CAST(p.dot AS DOUBLE) / ln.n DESC,
                                       p.list_id) AS pr
    FROM pk p JOIN ln USING (list_id)
  ) WHERE pr <= 2
), dots AS (
  SELECT a.vec_id, b.vec_id AS neighbor_id,
         CAST(list_dot_product(a.v, b.v) AS BIGINT) AS dot_q
  FROM probe pr JOIN qv a ON a.vec_id = pr.vec_id
  JOIN qv b ON b.list_id = pr.list_id AND b.vec_id <> a.vec_id
), iknn AS (
  SELECT vec_id, CAST(rank AS INT) AS rank, neighbor_id, dot_q FROM (
    SELECT vec_id, neighbor_id, dot_q,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY dot_q DESC, neighbor_id) AS rank
    FROM dots) WHERE rank <= 5
)
"""


@register(
    "hubness_report_ivf_trained",
    _TRAINED_KNN_IP_CTES + """
, occ AS (
  SELECT e.vec_id, COUNT(k.neighbor_id) AS n_k
  FROM embeddings e LEFT JOIN iknn k ON k.neighbor_id = e.vec_id
  GROUP BY e.vec_id
)
SELECT n_k::BIGINT AS k_occurrence, COUNT(*)::BIGINT AS n_vectors
FROM occ GROUP BY n_k ORDER BY n_k
""",
)
def hubness_report_ivf_trained_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hubness histogram over the kNN graph pruned by TRAINED inverted
    lists — hubness_report_ivf with the fixture's label key replaced by
    the FAISS production composition: Lloyd-trained coarse quantizer
    (similarity.trained_lists), assignment by nearest converged
    centroid, probes ranked against the trained lists' exact-integer
    stats. On this fixture the trained index probes a SMALLER corpus
    fraction (2/16 lists vs 2/10) at HIGHER edge recall — the measured
    win is ivf_nprobe_sweep_trained's subject.

    Plan shape / 100 TB: training is a sample-sized driver loop
    (broadcast centroids, big side never shuffles); assignment is one
    broadcast argmin; everything after is hubness_report_ivf's plan —
    map-side probes, one list-keyed cogroup GEMM, two partial aggs."""
    from ..operators import similarity

    emb, tl = _trained(spark, sf_dir)
    knn = similarity.ivf_knn_graph(emb, k=5, nprobe=2, lists=tl)
    occ = (
        emb.select("vec_id")
        .join(
            knn.select(F.col("neighbor_id").alias("nid")),
            F.col("vec_id") == F.col("nid"),
            "left",
        )
        .groupBy("vec_id")
        .agg(F.count("nid").alias("n_k"))
    )
    return (
        occ.groupBy("n_k")
        .agg(F.count("*").alias("n_vectors"))
        .select(
            F.col("n_k").cast("long").alias("k_occurrence"),
            F.col("n_vectors").cast("long").alias("n_vectors"),
        )
        .orderBy("k_occurrence")
    )


@register(
    "lof_outlier_scores_ivf_trained",
    _TRAINED_QV_CTE + """
, ls2 AS (
  SELECT list_id, SUM(s * s) AS s2 FROM co GROUP BY list_id
), probe AS (
  SELECT vec_id, list_id FROM (
    SELECT p.vec_id, p.list_id,
           ROW_NUMBER() OVER (PARTITION BY p.vec_id
             ORDER BY CAST(ls2.s2 AS DOUBLE) / (ln.n * ln.n)
                      - CAST(2 * p.dot AS DOUBLE) / ln.n ASC,
                      p.list_id) AS pr
    FROM pk p JOIN ln USING (list_id) JOIN ls2 USING (list_id)
  ) WHERE pr <= 2
), n2 AS (
  SELECT vec_id,
         list_aggregate(list_transform(v, x -> x * x), 'sum') AS nn
  FROM qv
), dots AS (
  SELECT a.vec_id, b.vec_id AS neighbor_id,
         na.nn + nb.nn - 2 * CAST(list_dot_product(a.v, b.v) AS BIGINT) AS d2
  FROM probe pr JOIN qv a ON a.vec_id = pr.vec_id
  JOIN qv b ON b.list_id = pr.list_id AND b.vec_id <> a.vec_id
  JOIN n2 na ON na.vec_id = a.vec_id
  JOIN n2 nb ON nb.vec_id = b.vec_id
), knn AS (
  SELECT vec_id, neighbor_id,
         CAST(FLOOR(sqrt(CAST(d2 AS DOUBLE)) + 0.5) AS BIGINT) AS dq,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY d2, neighbor_id) AS rank
  FROM dots QUALIFY rank <= 5
), kd AS (
  SELECT vec_id, MAX(dq) AS k_dist FROM knn GROUP BY 1
), reach AS (
  SELECT k.vec_id, GREATEST(kb.k_dist, k.dq) AS r
  FROM knn k JOIN kd kb ON kb.vec_id = k.neighbor_id
), lrd AS (
  SELECT vec_id, 5000000000000 // GREATEST(SUM(r), 1) AS lrd_q
  FROM reach GROUP BY 1
), lof AS (
  SELECT k.vec_id,
         SUM(lb.lrd_q) * 1000000 // (5 * la.lrd_q) AS lof_q
  FROM knn k
  JOIN lrd lb ON lb.vec_id = k.neighbor_id
  JOIN lrd la ON la.vec_id = k.vec_id
  GROUP BY k.vec_id, la.lrd_q
)
SELECT l.vec_id, kd.k_dist::BIGINT AS k_dist,
       FLOOR(CAST(l.lof_q AS DOUBLE) / 1e6 * 1e4 + 0.5) / 1e4 AS lof
FROM lof l JOIN kd USING (vec_id) ORDER BY l.vec_id
""",
)
def lof_outlier_scores_ivf_trained_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LOF over L2 candidates pruned by TRAINED inverted lists —
    lof_outlier_scores_ivf with the trained coarse quantizer swapped in
    via the `lists` parameter; scoring (reachability, lrd, LOF ratios)
    is the shared lof_from_knn, so exact / label-IVF / trained-IVF can
    never diverge in definition, only in candidate recall.

    Plan shape / 100 TB: identical to lof_outlier_scores_ivf plus the
    sample-sized training loop and one broadcast-argmin assignment."""
    from ..operators import similarity

    emb, tl = _trained(spark, sf_dir)
    knn = similarity.ivf_knn_l2(emb, k=5, nprobe=2, lists=tl)
    return similarity.lof_from_knn(knn, k=5)


@register(
    "ivf_nprobe_sweep_trained",
    _TRAINED_QV_CTE + """
, pr_t AS (
  SELECT p.vec_id, p.list_id,
         ROW_NUMBER() OVER (PARTITION BY p.vec_id
                            ORDER BY CAST(p.dot AS DOUBLE) / ln.n DESC,
                                     p.list_id) AS r
  FROM pk p JOIN ln USING (list_id)
), lqv AS (
  SELECT e.vec_id, e.label AS list_id, w.v
  FROM embeddings e JOIN vecs w ON w.vec_id = e.vec_id
), lco AS (
  SELECT list_id, t.i AS i, SUM(v[t.i]) AS s
  FROM lqv, generate_series(1, 64) AS t(i)
  GROUP BY list_id, t.i
), lln AS (
  SELECT list_id, COUNT(*) AS n FROM lqv GROUP BY list_id
), lpk AS (
  SELECT a.vec_id, lco.list_id, SUM(a.v[lco.i] * lco.s) AS dot
  FROM lqv a, lco GROUP BY a.vec_id, lco.list_id
), pr_l AS (
  SELECT p.vec_id, p.list_id,
         ROW_NUMBER() OVER (PARTITION BY p.vec_id
                            ORDER BY CAST(p.dot AS DOUBLE) / lln.n DESC,
                                     p.list_id) AS r
  FROM lpk p JOIN lln USING (list_id)
), edots AS (
  SELECT a.vec_id, b.vec_id AS neighbor_id,
         CAST(list_dot_product(a.v, b.v) AS BIGINT) AS dot_q
  FROM vecs a JOIN vecs b ON a.vec_id <> b.vec_id
), eknn AS (
  SELECT vec_id, neighbor_id FROM (
    SELECT vec_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY dot_q DESC, neighbor_id) AS rank
    FROM edots) WHERE rank <= 5
), hit_t AS (
  SELECT pr.r FROM eknn e
  JOIN tl nb ON nb.vec_id = e.neighbor_id
  JOIN pr_t pr ON pr.vec_id = e.vec_id AND pr.list_id = nb.list_id
), hit_l AS (
  SELECT pr.r FROM eknn e
  JOIN lqv nb ON nb.vec_id = e.neighbor_id
  JOIN pr_l pr ON pr.vec_id = e.vec_id AND pr.list_id = nb.list_id
), tot AS (SELECT COUNT(*) AS n FROM eknn)
SELECT * FROM (
  SELECT 'label' AS scheme, np.np::INT AS nprobe,
         SUM(CASE WHEN hit_l.r <= np.np THEN 1 ELSE 0 END)::BIGINT AS n_overlap,
         ROUND(CAST(SUM(CASE WHEN hit_l.r <= np.np THEN 1 ELSE 0 END) AS DOUBLE)
               / (SELECT n FROM tot), 4) AS edge_recall
  FROM (SELECT UNNEST(range(1, (SELECT COUNT(*) FROM lln) + 1)) AS np) np, hit_l
  GROUP BY np.np
  UNION ALL
  SELECT 'trained' AS scheme, np.np::INT AS nprobe,
         SUM(CASE WHEN hit_t.r <= np.np THEN 1 ELSE 0 END)::BIGINT AS n_overlap,
         ROUND(CAST(SUM(CASE WHEN hit_t.r <= np.np THEN 1 ELSE 0 END) AS DOUBLE)
               / (SELECT n FROM tot), 4) AS edge_recall
  FROM (SELECT UNNEST(range(1, (SELECT COUNT(*) FROM ln) + 1)) AS np) np, hit_t
  GROUP BY np.np
) ORDER BY scheme, nprobe
""",
)
def ivf_nprobe_sweep_trained_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The trained-vs-label nprobe tuning curve: edge recall of the
    IVF-pruned kNN graph at EVERY nprobe, under BOTH list schemes, in
    one report — the measurement that justifies training the quantizer.
    Reading the fixture's curves side by side: at equal probed FRACTION
    (e.g. label nprobe=2 of 10 vs trained nprobe=3 of 16), the trained
    scheme recalls more true edges, because Lloyd lists follow the
    corpus geometry while labels don't. Both curves end at 1.0
    (nprobe = n_lists recovers exactness).

    Plan shape / 100 TB: two map-side probe rankings (one broadcast
    stats row each), the exact graph once (the documented sampled
    diagnostic), two rank joins, two |lists|-row cumulative censuses."""
    from ..operators import similarity

    emb, tl = _trained(spark, sf_dir)
    # exact feeds the n_exact census plus one hit join PER scheme (3
    # references) — checkpoint so the GEMM subtree runs once (round 13)
    exact = (
        similarity.knn_graph(emb, k=5)
        .select("vec_id", "neighbor_id")
        .localCheckpoint(eager=False)
    )
    tot = exact.agg(F.count("*").alias("n_exact"))
    curves = []
    for scheme, lists, nbl in (
        (
            "label",
            None,
            emb.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("list_id"),
            ),
        ),
        (
            "trained",
            tl,
            tl.select(
                F.col("vec_id").alias("neighbor_id"), "list_id"
            ),
        ),
    ):
        ranks = similarity.ivf_probe_ranks(emb, metric="ip", lists=lists)
        hit = exact.join(F.broadcast(nbl), "neighbor_id").join(
            ranks, ["vec_id", "list_id"]
        )
        n_lists = nbl.select("list_id").distinct().count()
        nps = spark.range(1, n_lists + 1).select(
            F.col("id").cast("int").alias("nprobe")
        )
        curves.append(
            nps.join(
                hit.select("probe_rank"),
                F.col("probe_rank") <= F.col("nprobe"),
                "left",
            )
            .groupBy("nprobe")
            .agg(F.count("probe_rank").alias("n_overlap"))
            .crossJoin(F.broadcast(tot))
            .select(
                F.lit(scheme).alias("scheme"),
                "nprobe",
                F.col("n_overlap").cast("long").alias("n_overlap"),
                F.round(F.col("n_overlap") / F.col("n_exact"), 4).alias(
                    "edge_recall"
                ),
            )
        )
    return curves[0].unionByName(curves[1]).orderBy("scheme", "nprobe")


@register(
    "ivf_list_health",
    _TRAINED_TL_CTE + """
, sizes AS (
  SELECT g.list_id, COALESCE(c.n, 0) AS n_members
  FROM (SELECT UNNEST(range(0, 16)) AS list_id) g
  LEFT JOIN (SELECT list_id, COUNT(*) AS n FROM tl GROUP BY list_id) c
    USING (list_id)
), s AS (
  SELECT SUM(n_members) AS nt, MAX(n_members) AS mx,
         SUM(n_members * n_members) AS sq,
         SUM(CASE WHEN n_members = 0 THEN 1 ELSE 0 END) AS ne
  FROM sizes
)
SELECT sizes.list_id::INT AS list_id,
       sizes.n_members::BIGINT AS n_members,
       (sizes.n_members * 1000 // GREATEST(s.nt, 1))::BIGINT AS share_milli,
       s.ne::BIGINT AS n_empty,
       (s.mx * 16 * 1000 // GREATEST(s.nt, 1))::BIGINT AS max_mean_milli,
       (s.sq * 16 * 1000 // GREATEST(s.nt * s.nt, 1))::BIGINT
         AS imbalance_milli
FROM sizes, s ORDER BY sizes.list_id
""",
)
def ivf_list_health_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index-health report over the trained lists: per-list member
    counts for ALL configured lists (empty lists included — they are
    the signal), each list's corpus share in exact milli-units, the
    empty-list count, the max/mean list-size skew, and the FAISS
    imbalance factor — n_lists * sum(n_i^2) / (sum n_i)^2, the relative
    second moment faiss::imbalance_factor computes (>= 1, = 1 when
    perfectly balanced) — both in exact milli-units. This is the ops
    read-off that
    tells a 100 TB deployment when to RETRAIN the quantizer: rising
    imbalance or empty lists mean probes do uneven work (stragglers in
    the list-keyed cogroup) and recall-per-probe degrades.

    All quantities are integer divisions of exact counts — bit-identical
    across engines. Plan shape: the training loop, one hash-agg census
    over the assignment, a 16-row broadcast spine for empties, one
    single-row summary broadcast back. Row count = n_lists, corpus-size
    independent."""
    _, tl = _trained(spark, sf_dir)
    sizes = (
        spark.range(0, _N_LISTS)
        .select(F.col("id").alias("list_id"))
        .join(
            tl.groupBy("list_id").agg(F.count("*").alias("n")),
            "list_id",
            "left",
        )
        .select("list_id", F.coalesce("n", F.lit(0)).alias("n_members"))
    )
    s = sizes.agg(
        F.sum("n_members").alias("nt"),
        F.max("n_members").alias("mx"),
        F.sum(F.col("n_members") * F.col("n_members")).alias("sq"),
        F.sum((F.col("n_members") == 0).cast("long")).alias("ne"),
    )
    return (
        sizes.crossJoin(F.broadcast(s))
        .select(
            F.col("list_id").cast("int").alias("list_id"),
            F.col("n_members").cast("long").alias("n_members"),
            # GREATEST(nt, 1): identical for any non-empty corpus; keeps
            # the empty-fixture contract (ANSI DIV by zero raises)
            F.expr("n_members * 1000 DIV GREATEST(nt, 1)")
            .cast("long")
            .alias("share_milli"),
            F.col("ne").cast("long").alias("n_empty"),
            F.expr(f"mx * {_N_LISTS} * 1000 DIV GREATEST(nt, 1)")
            .cast("long")
            .alias("max_mean_milli"),
            # the FAISS definition: k * sum(n^2) / total^2 (exact-int
            # milli; sum(n^2) fits int64 up to ~3e9-member lists)
            F.expr(f"sq * {_N_LISTS} * 1000 DIV GREATEST(nt * nt, 1)")
            .cast("long")
            .alias("imbalance_milli"),
        )
        .orderBy("list_id")
    )


# ---------------------------------------------------------------------------
# ROUND 8 — 16-bit GRAYSCALE PNG (color type 0, depth 16): the last
# integer-exact PNG gate. Composes the RGB16 filter-unit machinery
# (multimodal_png16_decode) with the gray replication path of color
# type 0; the 2-byte pixel unit is the smallest multi-byte filter
# stride, so a bpp-vs-sample-bytes confusion that RGB16's 6-byte unit
# can mask breaks here immediately. JDK raster cross-check in pytest.
# ---------------------------------------------------------------------------
@register(
    "multimodal_png16_gray_decode",
    """
WITH dims AS (
  SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 3 AS h FROM documents
), px AS (
  SELECT doc_id, w, h, i.i AS p,
         (doc_id * 5003 + 257 * i.i) % 65536 AS v
  FROM dims, LATERAL (SELECT UNNEST(range(w * h)) AS i) i
)
SELECT doc_id, ANY_VALUE(w)::INT AS width, ANY_VALUE(h)::INT AS height,
       SUM((p + 1) * 6 * v)::BIGINT AS checksum
FROM px GROUP BY doc_id ORDER BY doc_id
""",
)
def multimodal_png16_gray_decode_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL 16-bit grayscale PNG decode (multimodal.decode_png
    (16, 0) path): sample v_i = (d*5003 + 257*i) mod 2^16 — the 257
    step makes high and low bytes move together, so a byte-order or
    recombination error breaks the checksum; odd doc_ids add Adam7,
    filters rotate per row. Gray replicates to RGB in the decoder, so
    the position-weighted checksum is sum((p+1) * 6v). Map-side Arrow
    decode; scalar-only shuffle."""
    import numpy as np

    from ..operators import multimodal

    def encode(d):
        w, h = 8 + d % 5, 6 + d % 3
        s = (d * 5003 + 257 * np.arange(w * h, dtype=np.int64)) % 65536
        blob = multimodal.encode_png(
            s.astype(np.uint16).reshape(h, w),
            depth=16,
            filter_for_row=lambda y: y,
            interlace=bool(d % 2),
        )
        return [(d, blob)]

    docs = load_table(spark, sf_dir, "documents")
    media = map_rows(doc_id_seed(docs), encode, multimodal.MEDIA_SCHEMA)
    return multimodal.image_decode_checksum(media).orderBy("doc_id")


@register(
    "semdedup_trained",
    _TRAINED_TL_CTE + """
, av AS (
  SELECT t.vec_id, t.list_id AS cluster, e.embedding::DOUBLE[] AS v
  FROM tl t JOIN embeddings e ON e.vec_id = t.vec_id
), pairs AS (
  SELECT y.vec_id AS b_id
  FROM av x JOIN av y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
  WHERE ROUND(list_cosine_similarity(x.v, y.v), 3) >= 0.4
)
SELECT vec_id, cluster, vec_id NOT IN (SELECT b_id FROM pairs) AS kept
FROM av ORDER BY vec_id
""",
)
def semdedup_trained_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over TRAINED k-means clusters — the paper's actual
    composition (the original semdedup query's deterministic seed
    clusters were the oracle-friendly stand-in; its docstring promised
    this exact swap). Training + assignment are the round-8 GEMM loop;
    the within-cluster dropped-only kernel is shared with semdedup.
    The oracle replays the training loop (recursive CTE), the
    assignment, and the within-cluster cosine sweep end to end."""
    from ..operators import dedup

    return dedup.semdedup_trained(
        load_table(spark, sf_dir, "embeddings"),
        n_lists=_N_LISTS,
        max_iter=_MAX_ITER,
        threshold=0.4,
    )


@register(
    "streaming_ivf_assign",
    _TRAINED_TL_CTE + """
SELECT list_id, COUNT(*)::BIGINT AS n_ingested,
       SUM(vec_id)::BIGINT AS vec_id_sum
FROM tl GROUP BY list_id ORDER BY list_id
""",
)
def streaming_ivf_assign_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vector index's ADD path ON the stream: the coarse quantizer
    is trained offline (the round-8 GEMM Lloyd loop over the static
    corpus — production trains on yesterday's sample), then arriving
    vectors are assigned map-side to their nearest centroid's inverted
    list inside the micro-batch (the same broadcast-GEMM argmin as
    trained_lists, stateless per row) and the drained per-list ingest
    census (count + vec_id checksum) is the report — what a 100 TB
    deployment monitors to see each list's growth between retrains
    (composing with ivf_list_health's imbalance read-off).

    Plan shape / 100 TB: assignment is a stateless map_batches pass on the
    stream (no state store); the only stateful op is the n_lists-row
    census aggregate. State bound: n_lists rows, corpus-independent.
    Oracle: streaming assignment of the whole fixture equals the batch
    assignment, so the census is the trained-lists CTE grouped."""
    from ..operators.similarity import (
        _ivf_assign_kernel,
        _lloyd_centroids,
        _quantized_vec,
    )
    from ..streaming import jobs

    emb = load_table(spark, sf_dir, "embeddings")
    # an empty corpus trains an empty table; no batch reaches the kernel
    cids, cmat, _, _ = _lloyd_centroids(emb, _N_LISTS, _MAX_ITER)

    vec_stream = map_batches(
        jobs.stream_table(spark, sf_dir, "embeddings").select(
            "vec_id", _quantized_vec(F.col("embedding")).alias("xq")
        ),
        _ivf_assign_kernel(cmat, cids, _N_LISTS),
        "vec_id LONG, list_id LONG",
    )
    census = vec_stream.groupBy("list_id").agg(
        F.count("*").alias("n_ingested"),
        F.sum("vec_id").alias("vec_id_sum"),
    )
    out = jobs.run_available_now(census, "streaming_ivf_assign")
    return out.select(
        "list_id",
        F.col("n_ingested").cast("long").alias("n_ingested"),
        F.col("vec_id_sum").cast("long").alias("vec_id_sum"),
    ).orderBy("list_id")


# ---------------------------------------------------------------------------
# ROUND 8 (second pass) — Deflate TIFF (compression 8 / legacy 32946:
# per-segment zlib streams, the most common real-world TIFF compression
# after LZW) and 16-bit RGBA PNG (the last PNG depth/color gate).
# Both JDK-cross-validated in pytest (Deflate both directions — the
# JDK writes the legacy 32946 code, which the decoder now maps to 8).
# ---------------------------------------------------------------------------
@register(
    "multimodal_tiff_deflate_decode",
    """
WITH dims AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 0 THEN 96 ELSE 8 + doc_id % 6 END AS w,
         CASE WHEN doc_id % 4 = 0 THEN 80 ELSE 5 + doc_id % 4 END AS h
  FROM documents
), px AS (
  SELECT doc_id, w, h, i.i AS p,
         (doc_id * 13 + 7 * (3 * i.i) + ((3 * i.i) * (3 * i.i)) % 23) % 256 AS r,
         (doc_id * 13 + 7 * (3 * i.i + 1)
          + ((3 * i.i + 1) * (3 * i.i + 1)) % 23) % 256 AS g,
         (doc_id * 13 + 7 * (3 * i.i + 2)
          + ((3 * i.i + 2) * (3 * i.i + 2)) % 23) % 256 AS b
  FROM dims, LATERAL (SELECT UNNEST(range(w * h)) AS i) i
)
SELECT doc_id, ANY_VALUE(w)::INT AS width, ANY_VALUE(h)::INT AS height,
       SUM((p + 1) * (r + 2 * g + 3 * b))::BIGINT AS checksum
FROM px GROUP BY doc_id ORDER BY doc_id
""",
)
def multimodal_tiff_deflate_decode_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deflate-compressed TIFF decode (multimodal.decode_tiff
    compression 8): per-segment zlib streams across the layout matrix —
    byte order rotates by doc parity, every 3rd doc planar, every 7th
    tiled (padded multiple-of-16 tiles), every 4th doc a 96x80
    single-strip image. Position-weighted checksum catches segment
    mis-assembly; map-side Arrow decode, scalar-only shuffle."""
    import numpy as np

    from ..operators import multimodal

    def encode(d):
        if d % 4 == 0:
            w, h = 96, 80
        else:
            w, h = 8 + d % 6, 5 + d % 4
        i = np.arange(w * h * 3, dtype=np.int64)
        s = (d * 13 + 7 * i + (i * i) % 23) % 256
        arr = s.astype(np.uint8).reshape(h, w, 3)
        blob = multimodal.encode_tiff(
            arr,
            big_endian=bool(d % 2),
            compression=8,
            rows_per_strip=(h if d % 4 == 0 else 4),
            planar=(d % 3 == 0),
            tile=((16, 16) if d % 7 == 3 else None),
        )
        return [(d, blob)]

    docs = load_table(spark, sf_dir, "documents")
    media = map_rows(doc_id_seed(docs), encode, multimodal.MEDIA_SCHEMA)
    return multimodal.image_decode_checksum(media).orderBy("doc_id")


@register(
    "multimodal_png16_rgba_decode",
    """
WITH dims AS (
  SELECT doc_id, 7 + doc_id % 5 AS w, 5 + doc_id % 4 AS h FROM documents
), px AS (
  SELECT doc_id, w, h, i.i AS p,
         (doc_id * 6151 + 257 * (4 * i.i)) % 65536 AS r,
         (doc_id * 6151 + 257 * (4 * i.i + 1)) % 65536 AS g,
         (doc_id * 6151 + 257 * (4 * i.i + 2)) % 65536 AS b
  FROM dims, LATERAL (SELECT UNNEST(range(w * h)) AS i) i
)
SELECT doc_id, ANY_VALUE(w)::INT AS width, ANY_VALUE(h)::INT AS height,
       SUM((p + 1) * (r + 2 * g + 3 * b))::BIGINT AS checksum
FROM px GROUP BY doc_id ORDER BY doc_id
""",
)
def multimodal_png16_rgba_decode_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """16-bit RGBA PNG decode (multimodal.decode_png (16, 6)): the
    8-byte filter unit; the decoder returns RGB (alpha dropped, not
    composited) but the alpha plane rides every filter, so a channel
    offset corrupts RGB and breaks the checksum. Sample s_i =
    (d*6151 + 257*i) mod 2^16 over w*h*4 samples; odd doc_ids Adam7,
    filters rotate per row. Map-side Arrow decode."""
    import numpy as np

    from ..operators import multimodal

    def encode(d):
        w, h = 7 + d % 5, 5 + d % 4
        s = (d * 6151 + 257 * np.arange(w * h * 4, dtype=np.int64)) % 65536
        blob = multimodal.encode_png(
            s.astype(np.uint16).reshape(h, w, 4),
            depth=16,
            filter_for_row=lambda y: y,
            interlace=bool(d % 2),
        )
        return [(d, blob)]

    docs = load_table(spark, sf_dir, "documents")
    media = map_rows(doc_id_seed(docs), encode, multimodal.MEDIA_SCHEMA)
    return multimodal.image_decode_checksum(media).orderBy("doc_id")


# Shared IVF-PQ ADC fragment (residuals, probe ranking, seed codebook,
# per-sub code argmin over the probed candidates, query LUTs, ADC sums)
# — composes onto _TRAINED_TL_CTE; round-9's refine/health queries
# reuse it. Constants in lockstep with ann_ivfpq_trained's defaults:
# query_vec_id 0, nprobe 2, m 4 (16-dim subspaces), n_codes 8.
_IVFPQ_ADC_CTES = """
, resid AS (
  SELECT t.vec_id, t.list_id,
         list_transform(list_zip(w.v, f.c), p -> p[1] - p[2]) AS r
  FROM tl t JOIN vecs w USING (vec_id)
  JOIN fcents f ON f.cid = t.list_id
), qv0 AS (
  SELECT v FROM vecs WHERE vec_id = 0
), probe AS (
  SELECT f.cid AS list_id,
         ROW_NUMBER() OVER (
           ORDER BY list_reduce(list_prepend(CAST(0 AS BIGINT),
                      list_transform(list_zip((SELECT v FROM qv0), f.c),
                                     p -> (p[1] - p[2]) * (p[1] - p[2]))),
                    (a, b) -> a + b) ASC, f.cid ASC) AS pr
  FROM fcents f
), probed AS (
  SELECT list_id FROM probe WHERE pr <= 2
), cb AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code_id, r
  FROM resid QUALIFY row_number() OVER (ORDER BY vec_id) <= 8
), cand AS (
  SELECT rd.vec_id, rd.list_id, rd.r
  FROM resid rd JOIN probed p USING (list_id)
  WHERE rd.vec_id <> 0
), codes AS (
  SELECT c.vec_id, c.list_id, s.s,
         MIN(list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(
                 list_zip(list_slice(c.r, s.s * 16 + 1, s.s * 16 + 16),
                          list_slice(b.r, s.s * 16 + 1, s.s * 16 + 16)),
                 p -> (p[1] - p[2]) * (p[1] - p[2]))),
             (a, b) -> a + b) * 8 + b.code_id) % 8 AS code
  FROM cand c CROSS JOIN cb b, (SELECT UNNEST(range(4)) AS s) s
  GROUP BY c.vec_id, c.list_id, s.s
), qresid AS (
  SELECT p.list_id,
         list_transform(list_zip((SELECT v FROM qv0), f.c),
                        x -> x[1] - x[2]) AS rq
  FROM probed p JOIN fcents f ON f.cid = p.list_id
), lut AS (
  SELECT q.list_id, s.s, b.code_id,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(
             list_zip(list_slice(q.rq, s.s * 16 + 1, s.s * 16 + 16),
                      list_slice(b.r, s.s * 16 + 1, s.s * 16 + 16)),
             p -> (p[1] - p[2]) * (p[1] - p[2]))),
           (a, b) -> a + b) AS d
  FROM qresid q CROSS JOIN cb b, (SELECT UNNEST(range(4)) AS s) s
), adc AS (
  SELECT cd.vec_id, SUM(l.d) AS adc_d2
  FROM codes cd
  JOIN lut l ON l.list_id = cd.list_id AND l.s = cd.s AND l.code_id = cd.code
  GROUP BY cd.vec_id
)
"""


@register(
    "ann_ivfpq_trained",
    _TRAINED_TL_CTE + _IVFPQ_ADC_CTES + """
SELECT ROW_NUMBER() OVER (ORDER BY adc_d2, vec_id)::INT AS rank,
       vec_id, adc_d2::BIGINT AS adc_d2
FROM adc ORDER BY adc_d2, vec_id LIMIT 10
""",
)
def ann_ivfpq_trained_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full FAISS IndexIVFPQ composition over the fixture: trained
    coarse quantizer, RESIDUAL product quantization, per-probed-list
    ADC (similarity.ann_ivfpq_trained). ann_ivfpq remains the
    label-list/direct-PQ diagnostic; this is the production shape —
    and the oracle replays training, residuals, code argmin, and LUT
    sums in exact integers end to end."""
    from ..operators import similarity

    return similarity.ann_ivfpq_trained(
        load_table(spark, sf_dir, "embeddings"),
        query_vec_id=0,
        k=10,
        nprobe=2,
        m=4,
        n_codes=8,
        n_lists=_N_LISTS,
        max_iter=_MAX_ITER,
    )
