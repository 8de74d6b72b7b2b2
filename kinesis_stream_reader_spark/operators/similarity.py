"""Similarity search over an embedding column: brute-force cosine top-k
baseline, and a random-hyperplane LSH-bucketed variant as the scale
path.

Extension surface (north-star mandate). The brute-force form is the
correctness baseline (and is itself distributed: the query vector
broadcasts, each partition scores its rows, TakeOrdered merges k rows).
The LSH form is the 100 TB shape: bucket once (a cheap narrow column),
then probe only matching buckets — at scale the bucket column is the
partition/Z-order key so probes prune files, not just rows.

Per-batch vector kernels (LSH bucketing, the Lloyd census, PCA
partials, every trained-IVF / IVF-PQ scoring pass) are numpy functions
run through ``rowmap.map_batches``: one ``mapInArrow`` pass, a
``{column: ndarray}`` dict per Arrow batch with ``xq`` (the
milli-quantized ``array<long>`` vector) as a 2-D int64 matrix, output
columns picked by the declared schema. Their IVF-PQ arithmetic —
coarse assignment, probe ranking, PQ encoding, ADC lookup tables — is
``ivfpq.assign`` / ``probe`` / ``pq_encode`` / ``adc_lut``: exact
int64, ties to the lowest id, bit-identical to the SQL oracles.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import ivfpq
from .dedup import _as_double, cosine
from .rowmap import group_batches, map_batches
from ..session import env_int

# 16 fixed Gaussian hyperplanes for sign-LSH, generated from a seeded
# RNG so every executor derives identical planes with no broadcast state.
LSH_PLANES = 16


def ann_bruteforce(embeddings: DataFrame, query_vec_id: int = 0, k: int = 10) -> DataFrame:
    """Exact cosine top-k against one query vector.

    The 1-row query side broadcasts; scoring is a map-only stage;
    orderBy().limit(k) plans as TakeOrderedAndProject (per-partition
    heaps, k-row driver merge) — no global sort at any scale."""
    vecs = embeddings.select("vec_id", _as_double(F.col("embedding")).alias("v"))
    query = vecs.filter(F.col("vec_id") == query_vec_id).select(
        F.col("v").alias("q")
    )
    return (
        vecs.join(F.broadcast(query))
        .filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", F.round(cosine(F.col("v"), F.col("q")), 3).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(k)
    )


def lsh_planes(planes: int = LSH_PLANES, dim: int = 64):
    """The fixed sign-LSH hyperplanes as a (dim x planes) float64
    matrix, derived per element from md5("plane:{p}:{d}") -> uniform
    [-1, 1). Hash-derived (not RNG-derived) so ANY engine reproduces
    the exact plane values bit-for-bit — the DuckDB oracle builds the
    same matrix in SQL (2*(first 15 md5 hex digits / 2^60) - 1; both
    the scale and the affine map are exact binary64 ops). Uniform
    components instead of Gaussian costs sign-LSH nothing: only the
    plane's direction matters and the quality difference at 64 dims is
    negligible, while cross-engine reproducibility is what makes the
    op oracle-checkable."""
    import hashlib

    import numpy as np

    w = np.empty((dim, planes), dtype=np.float64)
    for p in range(planes):
        for d in range(dim):
            h = int(hashlib.md5(f"plane:{p}:{d}".encode()).hexdigest()[:15], 16)
            w[d, p] = 2.0 * (h / float(1 << 60)) - 1.0
    return w


def lsh_buckets_vectorized(embeddings: DataFrame, planes: int = LSH_PLANES, dim: int = 64) -> DataFrame:
    """Sign-LSH buckets for all vectors in one Arrow-batched matmul:
    project each vector onto `planes` fixed hash-derived hyperplanes
    (lsh_planes — identical on every executor AND in the oracle) and
    pack the projection signs into a long. The bucket column is then an
    ordinary narrow column — at scale it becomes the partition/Z-order
    key.

    Same engineering decision as dedup.embedding_near_dup_pairs: dense
    vector math goes through numpy/BLAS, not per-element column folds
    (measured ~4x at sf0.1, growing with dim x planes)."""
    def kernel(batches):
        w = lsh_planes(planes, dim)
        powers = (1 << np.arange(planes)).astype(np.int64)
        for b in batches:
            mat = b["embedding"].astype(np.float64)
            yield {
                "vec_id": b["vec_id"],
                "embedding": mat,
                "bucket": (((mat @ w) > 0) @ powers).astype(np.int64),
            }

    # the vector rides along: this is the index-BUILD pass (one map-only
    # stage, persisted in a real deployment), so probes need no join
    return map_batches(
        embeddings.select("vec_id", "embedding"),
        kernel,
        "vec_id BIGINT, embedding ARRAY<DOUBLE>, bucket BIGINT",
    )


def ivf_centroids(embeddings: DataFrame, list_col: str = "label") -> DataFrame:
    """IVF coarse-quantizer centroids: the mean vector of each inverted
    list. Here the list assignment is the existing cluster label column;
    a from-scratch index would assign lists with k-means iterations of
    exactly this aggregation.

    posexplode -> groupBy(list, pos) -> avg -> re-assemble keeps every
    step in built-in partial-aggregated column algebra: the shuffle
    carries (n_lists x dim) partial sums, independent of row count."""
    pos = embeddings.select(
        F.col(list_col).alias("list_id"),
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
            "pos", "x"
        ),
    )
    return (
        pos.groupBy("list_id", "pos")
        .agg(F.avg("x").alias("m"))
        .groupBy("list_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            "list_id", F.transform("pm", lambda s: s.getField("m")).alias("centroid")
        )
    )


def ann_ivf(
    embeddings: DataFrame, query_vec_id: int = 0, k: int = 10, nprobe: int = 2
) -> DataFrame:
    """IVF ANN: score only the `nprobe` inverted lists whose centroids
    are closest to the query — the FAISS IVF-flat search shape as a
    DataFrame plan.

    Index build (centroids) is one aggregation, amortized across
    queries in a real deployment (persisted next to the vectors, with
    list_id as the partition key so probes prune files). Per query: the
    centroid table is tiny -> driver-side top-nprobe selection would
    also work, but keeping it as broadcast joins leaves the whole plan
    lazy; the big side is filtered by a broadcast semi-join on list_id
    (partition pruning at scale), then exact cosine + TakeOrdered."""
    vecs = embeddings.select(
        "vec_id", F.col("label").alias("list_id"), _as_double(F.col("embedding")).alias("v")
    )
    query = vecs.filter(F.col("vec_id") == query_vec_id).select(F.col("v").alias("q"))
    probed = (
        ivf_centroids(embeddings)
        .join(F.broadcast(query))
        .select("list_id", cosine(F.col("centroid"), F.col("q")).alias("c_sim"))
        .orderBy(F.col("c_sim").desc(), F.col("list_id"))
        .limit(nprobe)
        .select("list_id")
    )
    return (
        vecs.join(F.broadcast(probed), "list_id", "left_semi")
        .join(F.broadcast(query))
        .filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", F.round(cosine(F.col("v"), F.col("q")), 3).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(k)
    )


def ann_lsh(embeddings: DataFrame, query_vec_id: int = 0, k: int = 10, probe_hamming: int = 6) -> DataFrame:
    """LSH-bucketed ANN: score only vectors whose sign-LSH bucket is
    within `probe_hamming` bits of the query's bucket (multi-probe).

    The bucket column is computed once per vector (in a real deployment:
    persisted + used as partition key so probing prunes whole files).
    Candidate filtering is a broadcast of the 1-row query bucket +
    bit_count inequality — no shuffle of the big side.

    probe_hamming trades recall for candidates scored: sign-LSH bit
    disagreement probability is theta/pi per plane, so for genuinely
    close neighbors (cos >= 0.9, theta ~ 26deg) expected hamming is
    ~1.2/16 and a radius of 2-3 suffices; the driver's synthetic
    vectors top out near cos 0.37 (theta ~ 68deg, expected hamming ~6),
    hence the wide default here."""
    vecs = lsh_buckets_vectorized(embeddings).withColumnRenamed("embedding", "v")
    query = vecs.filter(F.col("vec_id") == query_vec_id).select(
        F.col("v").alias("q"), F.col("bucket").alias("q_bucket")
    )
    return (
        vecs.join(F.broadcast(query))
        .filter(F.col("vec_id") != query_vec_id)
        .filter(F.bit_count(F.expr("bucket ^ q_bucket")) <= probe_hamming)
        .select("vec_id", F.round(cosine(F.col("v"), F.col("q")), 3).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(k)
    )


def vector_norms(embeddings: DataFrame) -> DataFrame:
    """Per-vector statistics via HIGHER-ORDER array functions —
    F.transform / F.aggregate evaluate element-wise inside whole-stage
    codegen, so no Python worker and no explode: the 100 TB-safe way
    to compute narrow per-vector features (norms, clipping stats,
    sparsity) before they feed partitioning or filtering decisions.

    Accumulation is left-to-right in array order on both engines, so
    the double sums match the DuckDB oracle bit-for-bit pre-round."""
    v = _as_double(F.col("embedding"))
    sq_sum = F.aggregate(
        F.transform(v, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
    )
    el_sum = F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x)
    return embeddings.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.sqrt(sq_sum), 4).alias("l2_norm"),
        F.round(el_sum, 4).alias("el_sum"),
        F.round(F.array_max(v), 4).alias("el_max"),
    )


def label_centroids(embeddings: DataFrame) -> DataFrame:
    """Per-label centroid of the embedding column in long form
    (label, pos, centroid_val) — the aggregation kernel of KMeans /
    IVF list training. posexplode + groupBy(label, pos) rides Spark's
    partial aggregation: the shuffle carries one partial sum per
    (label, pos) per task — O(labels x dim), independent of row count,
    which is what makes centroid updates feasible at 100 TB."""
    exploded = embeddings.select(
        "label", F.posexplode(_as_double(F.col("embedding"))).alias("pos0", "x")
    )
    return (
        exploded.groupBy("label", (F.col("pos0") + 1).alias("pos"))
        .agg(F.round(F.avg("x"), 4).alias("centroid_val"))
    )


def embedding_quantize_int8(embeddings: DataFrame) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max |x|, code =
    round(x * 127 / scale) — the standard 4x compression applied to
    embedding stores before ANN serving (FAISS SQ8 shape). Emits the
    codes plus the per-vector reconstruction error so the recall
    impact is measurable, all in codegen higher-order functions: a
    map-only pass, no UDF, no shuffle, trivially scan-bound at 100 TB.
    Dequantization (code * scale / 127) composes with the cosine
    primitive for in-place quantized scoring."""
    x = F.transform("embedding", lambda v: v.cast("double"))
    scale = F.greatest(
        F.array_max(F.transform(x, F.abs)), F.lit(1e-30)
    )
    code = F.transform(x, lambda v: F.round(v * 127.0 / scale).cast("tinyint"))
    err = F.array_max(
        F.transform(
            x,
            lambda v: F.abs(v - F.round(v * 127.0 / scale) * scale / 127.0),
        )
    )
    return embeddings.select(
        "vec_id",
        F.round(scale, 6).alias("scale"),
        code.alias("q"),
        F.round(err, 6).alias("max_recon_err"),
    ).orderBy("vec_id")


def kmeans_step(embeddings: DataFrame, k: int = 8) -> DataFrame:
    """One Lloyd iteration of KMeans as pure DataFrame algebra:
    deterministic seeds (the k lowest vec_ids), nearest-centroid
    assignment by squared L2, then per-(cluster, dim) mean — the
    batch-iterative ML shape (a full trainer is this step in the
    dedup_components-style driver loop, with seeds swapped for the
    previous round's output).

    Plan shape: the centroid frame is k rows — broadcast into the
    assignment cross join, so the big side never shuffles for scoring;
    argmin is a min(struct) aggregate (no window sort); the update is
    the label_centroids partial-agg kernel, O(k x dim) shuffle rows
    per task regardless of vector count. Distances use an explicit
    left fold so engines agree bit-for-bit."""
    vecs = embeddings.select(
        "vec_id", _as_double(F.col("embedding")).alias("x")
    )
    seeds = (
        vecs.orderBy("vec_id")
        .limit(k)
        .select(F.col("vec_id").alias("cid"), F.col("x").alias("c"))
    )
    diffs = F.zip_with("x", "c", lambda a, b: (a - b) * (a - b))
    d2 = F.aggregate(diffs, F.lit(0.0), lambda acc, v: acc + v)
    assign = (
        vecs.join(F.broadcast(seeds))
        .select("vec_id", "x", "cid", d2.alias("d2"))
        .groupBy("vec_id")
        .agg(F.min(F.struct("d2", "cid", "x")).alias("s"))
        .select(F.col("s.cid").alias("cluster_id"), F.col("s.x").alias("x"))
    )
    return (
        assign.select(
            "cluster_id", F.posexplode("x").alias("pos0", "val")
        )
        .groupBy("cluster_id", (F.col("pos0") + 1).cast("int").alias("pos"))
        .agg(
            F.round(F.avg("val"), 4).alias("centroid_val"),
            F.count("*").alias("n_members"),
        )
        .orderBy("cluster_id", "pos")
    )


def ann_quantized(
    embeddings: DataFrame, query_vec_id: int = 0, k: int = 10
) -> DataFrame:
    """Top-k cosine search over the int8-quantized store: vectors are
    dequantized on the fly (code * scale / 127) and scored against the
    full-precision query — the serving half of embedding_quantize_int8,
    measuring exactly what SQ8 compression does to retrieval (compare
    with ann_bruteforce: same query, full-precision store).

    Plan shape: quantize+dequantize+score is one map-only codegen pass
    over the store (4x less I/O than full precision when codes are
    what's persisted), query broadcast, TakeOrdered for k. In a real
    deployment the codes+scale ARE the stored table; recomputing them
    here keeps the operator self-contained."""
    from .dedup import _as_double, cosine

    # materialize x and scale as columns BEFORE the dequantize
    # transform: nested-HOF expressions are re-evaluated per enclosing
    # fold otherwise (the dq transform would run once per cosine
    # aggregate term — 13x slower on the 50x probe)
    staged = embeddings.select(
        "vec_id", _as_double(F.col("embedding")).alias("x")
    ).select(
        "vec_id",
        "x",
        F.greatest(
            F.array_max(F.transform("x", F.abs)), F.lit(1e-30)
        ).alias("s"),
    )
    vecs = staged.select(
        "vec_id",
        F.transform(
            "x", lambda v: F.round(v * 127.0 / F.col("s")) * F.col("s") / 127.0
        ).alias("v"),
    )
    query = (
        embeddings.filter(F.col("vec_id") == query_vec_id)
        .select(_as_double(F.col("embedding")).alias("q"))
    )
    return (
        vecs.join(F.broadcast(query))
        .filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", F.round(cosine(F.col("v"), F.col("q")), 3).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(k)
    )


def hard_negative_mining(
    embeddings: DataFrame, n_queries: int = 16
) -> DataFrame:
    """Hard-negative mining for contrastive training data: for each of
    the first `n_queries` vectors, the single most-similar vector with
    a DIFFERENT label — the near-miss that makes the best negative
    example. The argmax is a max(struct) aggregate on a rounded score
    with a deterministic id tie-break, so results are reproducible
    across engines and partitionings.

    Plan shape: the query set broadcasts, the store is scanned once
    (map-only scoring), and the per-query argmax rides partial
    aggregation — no shuffle of scored pairs, no window sort. At 100 TB
    the same plan serves batched query sets; blocking (IVF lists) drops
    in where the full scan is too hot."""
    from .dedup import _as_double, cosine

    queries = (
        embeddings.filter(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("query_label"),
            _as_double(F.col("embedding")).alias("q"),
        )
    )
    store = embeddings.select(
        "vec_id", "label", _as_double(F.col("embedding")).alias("v")
    )
    scored = (
        store.join(F.broadcast(queries), F.col("label") != F.col("query_label"))
        .select(
            "query_id",
            "query_label",
            "vec_id",
            F.round(cosine(F.col("v"), F.col("q")), 6).alias("sim"),
        )
    )
    best = (
        scored.groupBy("query_id", "query_label")
        .agg(F.max(F.struct(F.col("sim"), (-F.col("vec_id")).alias("nid"))).alias("s"))
        .select(
            "query_id",
            "query_label",
            (-F.col("s.nid")).alias("neg_id"),
            F.round(F.col("s.sim"), 3).alias("cos_sim"),
        )
        .orderBy("query_id")
    )
    return best


def ann_recall_report(
    embeddings: DataFrame, query_vec_id: int = 0, k: int = 10, nprobe: int = 2
) -> DataFrame:
    """Recall@k of the IVF probe against brute-force ground truth, as
    one row — the measurement loop every approximate index needs
    ('measure, don't guess'): sweep nprobe until recall meets target,
    THEN deploy. Composes the two search plans and reduces to
    |IVF-hits ∩ true-top-k| / k via a semi join on the two k-row
    frames — the expensive scans happen once each; the comparison is
    free.

    At scale the same report runs over a sampled query set (queries
    broadcast, per-query recall averaged) as a recurring index-health
    job."""
    truth = ann_bruteforce(embeddings, query_vec_id, k).select("vec_id")
    approx = ann_ivf(embeddings, query_vec_id, k, nprobe).select("vec_id")
    overlap = truth.join(approx, "vec_id", "left_semi")
    return (
        overlap.agg(F.count("*").alias("n_overlap"))
        .select(
            F.lit(k).cast("int").alias("k"),
            F.lit(nprobe).cast("int").alias("nprobe"),
            "n_overlap",
            F.round(F.col("n_overlap") / k, 4).alias("recall_at_k"),
        )
    )


def pq_encode(
    embeddings: DataFrame, m: int = 4, n_codes: int = 8, dim: int = 64
) -> DataFrame:
    """Product-quantization encoding (FAISS PQ shape): split each
    vector into `m` subspaces, assign each subvector to its nearest
    codebook entry — 64 doubles become 4 small ints (128x compression).

    Deterministic codebooks: the subvectors of the `n_codes` lowest
    vec_ids (same oracle-friendly seed trick as semdedup; a production
    index trains them with kmeans_step per subspace). Engine-stable
    assignment: squared L2 distances are quantized half-up to integer
    millis BEFORE the argmin, ties break to the lowest code id, so
    Spark and the DuckDB oracle pick identical codes everywhere.

    Scale shape: codebooks are m x n_codes rows -> broadcast; encoding
    is one broadcast join + partial-agg argmin, shuffle carries
    (vec_id, sub_id, code) longs, never vectors."""
    sub = dim // m
    subspaces = F.array(
        *[
            F.struct(
                F.lit(s).alias("sub_id"),
                F.slice(_as_double(F.col("embedding")), s * sub + 1, sub).alias("sv"),
            )
            for s in range(m)
        ]
    )
    parts = embeddings.select(
        "vec_id", F.explode(subspaces).alias("p")
    ).select("vec_id", F.col("p.sub_id").alias("sub_id"), F.col("p.sv").alias("sv"))
    codes = parts.filter(F.col("vec_id") < n_codes).select(
        F.col("sub_id").alias("c_sub"),
        F.col("vec_id").alias("code_id"),
        F.col("sv").alias("cv"),
    )
    sqdist = F.aggregate(
        F.zip_with(F.col("sv"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = parts.join(
        F.broadcast(codes), F.col("sub_id") == F.col("c_sub")
    ).select(
        "vec_id",
        "sub_id",
        "code_id",
        F.floor(sqdist * 1000 + F.lit(0.5)).cast("long").alias("d_milli"),
    )
    # packed argmin (d*n_codes + code) instead of min-struct: same
    # ordering, but longs hash-aggregate (partial combine, no
    # SortAggregate), and it is literally the oracle's expression
    return (
        scored.groupBy("vec_id", "sub_id")
        .agg(
            F.min(F.col("d_milli") * n_codes + F.col("code_id")).alias("packed")
        )
        .select(
            "vec_id", "sub_id", F.pmod(F.col("packed"), F.lit(n_codes)).alias("code")
        )
    )


def ann_pq(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    m: int = 4,
    n_codes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """ADC top-k search over the PQ store (FAISS IndexPQ search shape):
    precompute the query's distance to every codebook entry (an m x
    n_codes lookup table), then a candidate's approximate distance is
    the SUM of m table lookups — no original vectors touched at query
    time.

    Distances stay integer millis end-to-end, so the per-vector sum is
    an exact bigint and the (distance, vec_id) ranking is bit-stable
    across engines. Plan: LUT is broadcast; one groupBy(vec_id) sums m
    smallint lookups; TakeOrderedAndProject picks k — no global sort,
    nothing driver-side."""
    sub = dim // m
    codes = pq_encode(embeddings, m, n_codes, dim)
    q_subs = embeddings.filter(F.col("vec_id") == query_vec_id).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("sub_id"),
                        F.slice(
                            _as_double(F.col("embedding")), s * sub + 1, sub
                        ).alias("qv"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("p")
    ).select(F.col("p.sub_id").alias("q_sub"), F.col("p.qv").alias("qv"))
    cb = (
        embeddings.filter(F.col("vec_id") < n_codes)
        .select(
            "vec_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).alias("sub_id"),
                            F.slice(
                                _as_double(F.col("embedding")), s * sub + 1, sub
                            ).alias("cv"),
                        )
                        for s in range(m)
                    ]
                )
            ).alias("p"),
        )
        .select(
            F.col("vec_id").alias("code_id"),
            F.col("p.sub_id").alias("sub_id"),
            F.col("p.cv").alias("cv"),
        )
    )
    lut_dist = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    lut = cb.join(F.broadcast(q_subs), F.col("sub_id") == F.col("q_sub")).select(
        "sub_id",
        "code_id",
        F.floor(lut_dist * 1000 + F.lit(0.5)).cast("long").alias("q_milli"),
    )
    return (
        codes.join(
            F.broadcast(lut),
            (codes["sub_id"] == lut["sub_id"]) & (codes["code"] == lut["code_id"]),
        )
        .groupBy("vec_id")
        .agg(F.sum("q_milli").alias("adc_milli"))
        .filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", (F.col("adc_milli") / 1000).alias("adc_dist"))
        .orderBy(F.col("adc_dist"), F.col("vec_id"))
        .limit(k)
    )


def _empty_df(spark, schema: str) -> DataFrame:
    """Empty relation with the given DDL schema, built over an empty
    JVM RDD. Round-13 optimization: ``createDataFrame([], schema)``
    parallelizes the empty Python list into defaultParallelism empty
    partitions, and EXECUTING that relation (e.g. the tombstone-
    retirement overwrite) pays one Python-worker round-trip per
    partition — measured 5.8-8.3 s for an empty write on local[32]
    vs 0.2 s for the zero-partition emptyRDD relation below. Same
    schema, same (zero) rows."""
    return spark.createDataFrame(spark.sparkContext.emptyRDD(), schema)


def _tiny_df(spark, rows, schema: str) -> DataFrame:
    """Small driver-held relation as ONE partition (round 13, guide
    §1.2 fixed overhead): ``createDataFrame(list)`` parallelizes into
    defaultParallelism slices, and every downstream action pays one
    Python-worker round-trip per slice (32 on local[32]) for a
    few-hundred-row constant table — measured 0.65 s vs 0.43 s warm
    (3.2 s vs 0.4 s cold) for a 16-row parquet write. One slice is the
    right layout for a table that is always broadcast, collected, or
    written as a single constants file anyway; row order (list order)
    and values are identical."""
    from . import tiny_df

    return tiny_df(spark, rows, schema)


def _lloyd_driver_reduce_max_parts() -> int:
    """Above this many input partitions the Lloyd census reduction
    stays in Spark (distributed partial agg) instead of collecting
    per-partition partials to the driver: the driver-side volume is
    partitions * k * (dim + 1) rows, so this bound keeps it at a few MB
    regardless of corpus width. Overridable for cluster deployments."""
    return env_int("SPARK_GRAFT_LLOYD_DRIVER_REDUCE_MAX_PARTS", 256)


def _lloyd_centroids(
    embeddings: DataFrame, k: int, max_iter: int
) -> tuple[np.ndarray, np.ndarray, list, DataFrame]:
    """The Lloyd loop shared by kmeans_converged (which emits the
    per-dim centroid report) and every trained-IVF query (which
    re-assigns against the converged centroids).

    Round-8 shape: per iteration ONE map-side Arrow pass scores every
    vector against the driver-held (m x dim) integer centroid table
    with an int64 numpy GEMM (ivfpq.assign) and emits only census
    partials — (cluster, dim) coordinate sums, counts, and the
    within-cluster d2 total — so the driver collects m x dim ints. The
    original column-expression loop ran the scoring zip_with/aggregate
    INTERPRETED per element (N x m x dim lambda steps — 41M/iter at the
    40k amp probe, where it was 3x slower than the quadratic twin it
    feeds); the GEMM pass is the same exact-integer arithmetic at C
    speed. Values are bit-identical: the ivfpq.assign argmin,
    exact-bigint total as the stop signal, floor(sum/n + 0.5)
    re-quantization (int64 -> float64 is exact below 2^53, so the one
    IEEE division matches the SQL oracle's).

    Returns (cids, cmat, per_dim_rows, vecs) at the last executed
    iteration: cids = the surviving cluster ids (int64, ascending),
    cmat = their (len(cids), dim) int64 centroid table (both empty for
    an empty corpus), per_dim_rows = [(cluster_id, pos0, n, cm)], vecs
    = the localCheckpointed (vec_id, xq) quantized corpus — callers
    assigning against the converged centroids reuse it instead of
    re-scanning the table."""
    vecs = embeddings.select(
        "vec_id", _quantized_vec(F.col("embedding")).alias("xq")
    ).localCheckpoint(eager=False)
    # Seeds are the k SMALLEST vec_ids (TakeOrdered — no assumption of
    # contiguous ids starting at 0), relabeled to dense cids 0..k-1 by
    # vec_id rank so the packed argmin (d2 * k + cid) always decodes
    # with % k. On contiguous-id corpora this is bit-identical to the
    # old `vec_id < k` seeding; on a corpus whose ids all exceed k it
    # now trains instead of collapsing to one list.
    seed_rows = sorted(
        vecs.orderBy("vec_id").limit(k).collect(),
        key=lambda r: r["vec_id"],
    )
    dim = len(seed_rows[0]["xq"]) if seed_rows else 0
    cids = np.arange(len(seed_rows), dtype=np.int64)
    cmat = np.array([r["xq"] for r in seed_rows], np.int64).reshape(
        len(seed_rows), dim
    )
    prev_total = None
    per_dim_rows: list = []
    # Round-13 optimization (guide §2.4: remove shuffles outright): the
    # kernel now emits ONE census per partition (accumulated across its
    # Arrow batches), so the per-round reduction over n_partitions x
    # (k*dim + k) partial rows happens on the DRIVER — the training
    # loop is a driver-coordinated census loop already (EAGER contract),
    # and dropping the groupBy removes one Exchange + one stage PER
    # ROUND (measured 0.42 -> 0.26 s/round at sf0.1). The driver-side
    # volume is bounded by partitions * k * (dim + 1) smallint rows —
    # the same rows the old plan shuffled to a single AQE-coalesced
    # reducer before collecting. A wide training input (a 100 TB corpus
    # trained WITHOUT sampling) keeps the distributed partial-agg path:
    # above _lloyd_driver_reduce_max_parts() partitions the census
    # aggregates in Spark exactly as before. Sums are exact int64 in
    # both paths (addition reorders freely), so results are
    # bit-identical.
    n_parts = vecs.rdd.getNumPartitions()
    for _ in range(max_iter):
        if not len(cids):  # empty corpus: done
            break
        part = map_batches(
            vecs,
            _lloyd_census_kernel(cmat, cids, k),
            "cluster_id LONG, pos0 INT, s LONG, n LONG",
        )
        if n_parts <= _lloyd_driver_reduce_max_parts():
            agg: dict = {}
            for r in part.collect():
                key = (r["cluster_id"], r["pos0"])
                e = agg.get(key)
                if e is None:
                    agg[key] = [r["s"], r["n"]]
                else:
                    e[0] += r["s"]
                    e[1] += r["n"]
            rows = [
                {"cluster_id": c, "pos0": p, "s": s, "n": n}
                for (c, p), (s, n) in agg.items()
            ]
        else:
            rows = (
                part.groupBy("cluster_id", "pos0")
                .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
                .collect()
            )
        total = sum(r["s"] for r in rows if r["pos0"] < 0)
        per_dim_rows = sorted(
            (
                r["cluster_id"],
                r["pos0"],
                r["n"],
                int(np.floor(r["s"] / r["n"] + 0.5)),
            )
            for r in rows
            if r["pos0"] >= 0
        )
        # per_dim_rows is (cluster, pos0)-sorted and carries every dim
        # of every surviving cluster, so the table is one reshape
        cids = np.unique([pr[0] for pr in per_dim_rows]).astype(np.int64)
        cmat = np.array([pr[3] for pr in per_dim_rows], np.int64).reshape(
            len(cids), dim
        )
        if total == prev_total:
            break
        prev_total = total
    return cids, cmat, per_dim_rows, vecs


def _lloyd_census_kernel(cmat, cids, k: int):
    """map_batches kernel for one Lloyd round: ivfpq.assign against the
    broadcast centroid table, then a census accumulated across EVERY
    batch of the partition and emitted once per task (round 13) — for
    each cluster present, one row per dim (cluster_id, pos0, coordinate
    sum, member count) plus one (cluster_id, -1, d2 sum, member count)
    row carrying the within-cluster total. All arithmetic exact int64."""

    def kernel(batches):
        acc_sums = acc_d2s = acc_cnts = None
        for b in batches:
            v = b["xq"]
            if acc_sums is None:
                dim = v.shape[1]
                acc_sums = np.zeros((k, dim), np.int64)
                acc_d2s = np.zeros(k, np.int64)
                acc_cnts = np.zeros(k, np.int64)
            cl, d2min = ivfpq.assign(v, cmat, cids, k)
            order = np.argsort(cl, kind="stable")
            present, starts = np.unique(cl[order], return_index=True)
            acc_sums[present] += np.add.reduceat(v[order], starts, axis=0)
            acc_d2s[present] += np.add.reduceat(d2min[order], starts)
            acc_cnts[present] += np.diff(np.append(starts, len(cl)))
        if acc_sums is None:
            return
        present = np.flatnonzero(acc_cnts)
        nc = len(present)
        yield {
            "cluster_id": np.concatenate([np.repeat(present, dim), present]),
            "pos0": np.concatenate(
                [np.tile(np.arange(dim, dtype=np.int32), nc),
                 np.full(nc, -1, np.int32)]
            ),
            "s": np.concatenate(
                [acc_sums[present].reshape(-1), acc_d2s[present]]
            ),
            "n": np.concatenate(
                [np.repeat(acc_cnts[present], dim), acc_cnts[present]]
            ),
        }

    return kernel


def _ivf_assign_kernel(cmat, cids, n_lists: int):
    """map_batches kernel: ivfpq.assign list assignment of (vec_id, xq)
    batches against the broadcast centroid table, shared by
    trained_lists (batch index build), the streaming ADD path
    (streaming_ivf_assign) and the refine-store landing. Every input
    column passes through, so the output schema alone decides what is
    kept (the refine store keeps xq and label, so vectors/ partitions
    by the SAME assignment the codes use)."""

    def kernel(batches):
        for b in batches:
            lst, _ = ivfpq.assign(b["xq"], cmat, cids, n_lists)
            yield {**b, "list_id": lst}

    return kernel


def kmeans_converged(
    embeddings: DataFrame, k: int = 8, max_iter: int = 5
) -> DataFrame:
    """Lloyd's algorithm to convergence — the third iterative kernel
    alongside dedup_components and pagerank_converged, and like them
    fully oracle-checkable INCLUDING the data-dependent stop:

    Vectors are quantized half-up to integer millis once, so squared
    L2 distances are exact bigints, the argmin is ivfpq.assign (ties
    -> lowest cid), per-(cluster, dim) coordinate sums are exact
    bigints, and the re-quantized centroid is one deterministic float
    op (floor(sum/n + 0.5)).
    Total within-cluster d2 is therefore an exact bigint that is
    non-increasing round over round; the loop stops when it stops
    changing (or at max_iter). Every iteration is bit-identical across
    engines — float summation order never exists.

    Plan per round: see _lloyd_centroids — the big side never
    shuffles. The emitted report is built from the collected census
    (driver-census algebra, the bradley_terry/pelt house pattern — this
    query is in EAGER_QUERIES)."""
    spark = embeddings.sparkSession
    _, _, per_dim, _ = _lloyd_centroids(embeddings, k, max_iter)
    # emit the converged centroids per (cluster, dim) with member counts
    rows = [
        (int(cid), int(pos0) + 1, cm / 1000, int(n))
        for cid, pos0, n, cm in per_dim
    ]
    return _tiny_df(
        spark, rows, "cluster_id LONG, pos INT, centroid_val DOUBLE, n_members LONG"
    ).orderBy("cluster_id", "pos")


def trained_lists(
    embeddings: DataFrame, n_lists: int = 16, max_iter: int = 5
) -> DataFrame:
    """TRAINED coarse-quantizer list assignment — the FAISS production
    composition (train k-means on the corpus, assign each vector to its
    nearest centroid's inverted list), replacing the fixture `label`
    column as the IVF partitioning key. Returns (vec_id, list_id).

    Assignment is a fresh ivfpq.assign against the CONVERGED
    centroids (one broadcast of n_lists integer-milli vectors) — at
    convergence this equals the loop's final assignment, and when
    the max_iter cap fires first it is still the well-defined
    "quantizer assigns" semantics both engines replay bit-identically.

    Production sizing is n_lists ~ sqrt(N); the fixture default 16
    (~sqrt(500)/1.4) keeps the oracle's recursive-CTE mirror bounded.
    Plan shape / 100 TB: training is the per-round map-side GEMM +
    census-partial shuffle of _lloyd_centroids (at real scale it runs
    on a corpus sample); assignment is ONE map_batches pass against
    the driver-held converged centroids — the big side never
    shuffles; the result is the list key later stages partition by."""
    cids, cmat, _, vecs = _lloyd_centroids(embeddings, n_lists, max_iter)
    if not len(cids):  # empty corpus: empty assignment, same schema
        return vecs.select(
            "vec_id", F.lit(0).cast("long").alias("list_id")
        )
    # reuse the loop's localCheckpointed quantized corpus — the final
    # assignment pass must not re-scan and re-quantize the table
    return map_batches(
        vecs,
        _ivf_assign_kernel(cmat, cids, n_lists),
        "vec_id LONG, list_id LONG",
    ).localCheckpoint(eager=False)


def rag_retrieval(
    documents: DataFrame,
    dims: int = 16,
    k: int = 5,
    n_queries: int = 3,
    chunk_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Third flagship composition — the RAG serving path: sliding-
    window chunking (chunk_documents' arithmetic) -> hashed bag-of-
    words chunk embeddings (feature hashing: each token adds +-1 to an
    md5-chosen dimension — the deterministic stand-in for a model
    encoder; swapping in real embeddings changes ONE column) -> exact
    top-k retrieval of the best chunks for each query document's lead
    chunk, self-doc excluded.

    Plan shape: chunking + token explode are map-only codegen; the
    per-(chunk, dim) sparse vector agg is one shuffle whose key space
    is chunks x dims; the tiny query-vector relation broadcasts, so
    the dot product is a broadcast join on dim + one re-agg — the
    corpus never shuffles twice and nothing is quadratic (a chunk
    pairs only with the <= n_queries x dims broadcast rows that share
    a dimension). The final per-query rank is the window form; at
    100 TB you prune candidates first with the IVF/LSH index ops
    (ann_ivf's list_id becomes a partition key) and feed this same
    scoring join only the probed lists.

    Integer weights end-to-end (quality_model_score convention), so
    the DuckDB oracle mirrors chunking, hashing, and scoring
    bit-identically."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(toks)
    n_chunks = 1 + F.ceil(
        F.greatest(n - chunk_tokens, F.lit(0)) / F.lit(stride)
    ).cast("int")
    chunks = documents.select(
        "doc_id",
        toks.alias("toks"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    ).select(
        "doc_id",
        "chunk_id",
        F.slice(F.col("toks"), F.col("chunk_id") * stride + 1, chunk_tokens).alias(
            "chunk_toks"
        ),
    )
    tok_rows = chunks.select(
        "doc_id", "chunk_id", F.explode("chunk_toks").alias("tok")
    )

    def h60(prefix: str) -> Column:
        return F.conv(
            F.substring(F.md5(F.concat(F.lit(prefix), F.col("tok"))), 1, 15), 16, 10
        ).cast("long")

    vecs = (
        tok_rows.select(
            "doc_id",
            "chunk_id",
            F.pmod(h60("ragd:"), F.lit(dims)).alias("dim"),
            (F.lit(1) - F.lit(2) * F.pmod(h60("rags:"), F.lit(2))).alias("s"),
        )
        .groupBy("doc_id", "chunk_id", "dim")
        .agg(F.sum("s").alias("w"))
    )
    qids = (
        documents.select("doc_id")
        .orderBy("doc_id")
        .limit(n_queries)
        .select(F.col("doc_id").alias("q_doc"))
    )
    qvecs = (
        vecs.join(F.broadcast(qids), vecs["doc_id"] == qids["q_doc"])
        .filter(F.col("chunk_id") == 0)
        .select("q_doc", F.col("dim").alias("qdim"), F.col("w").alias("qw"))
    )
    dots = (
        vecs.join(
            F.broadcast(qvecs),
            (vecs["dim"] == qvecs["qdim"]) & (vecs["doc_id"] != qvecs["q_doc"]),
        )
        .groupBy("q_doc", "doc_id", "chunk_id")
        .agg(F.sum(F.col("w") * F.col("qw")).alias("dot_u"))
    )
    w = Window.partitionBy("q_doc").orderBy(
        F.col("dot_u").desc(), "doc_id", "chunk_id"
    )
    return (
        dots.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q_doc", F.col("rank").cast("int").alias("rank"),
            "doc_id", "chunk_id", "dot_u",
        )
        .orderBy("q_doc", "rank")
    )


def ann_ivf_incremental(embeddings: DataFrame) -> DataFrame:
    """IVF index maintenance — the INSERT path: new (delta) vectors
    join an already-trained index by nearest FROZEN centroid, no
    retraining, the way FAISS `add()` appends to inverted lists. Base
    = 90% of vectors (their ground-truth labels are the trained
    lists); delta = the held-out 10%, assigned by argmin squared L2
    against the base's per-list centroids. Output: the merged
    per-list occupancy (base, inserted, total) — the index-health
    view an ingestion pipeline monitors between re-trainings.

    Engine-exact arithmetic (kmeans_converged convention): vectors
    milli-quantize to bigints, the frozen centroid is SUM DIV n
    (integer division — order-independent, unlike a float mean), and
    every distance is an exact bigint, so the DuckDB oracle rebuilds
    assignment bit-identically.

    Plan shape: centroids are k x dims rows — broadcast; the delta
    explodes to (vec, dim) rows once, the scoring join fans each only
    k ways, and the argmin is a min(struct) partial agg — no window
    sort, nothing quadratic in the corpus. At scale list_id is the
    partition key of the persisted index, so inserts append to the
    probed files only."""
    vecs = embeddings.select(
        "vec_id",
        F.col("label").alias("list_id"),
        F.transform(
            _as_double(F.col("embedding")),
            lambda v: F.floor(v * 1000 + F.lit(0.5)).cast("long"),
        ).alias("xu"),
    )
    base = vecs.filter(F.col("vec_id") % 10 != 0)
    delta = vecs.filter(F.col("vec_id") % 10 == 0)
    base_dims = base.select(
        "list_id", F.posexplode("xu").alias("pos", "v")
    )
    centroids = base_dims.groupBy("list_id", "pos").agg(
        F.expr("SUM(v) DIV COUNT(*)").alias("cu")
    )
    delta_dims = delta.select("vec_id", F.posexplode("xu").alias("pos", "v"))
    d2 = (
        delta_dims.join(F.broadcast(centroids), "pos")
        .groupBy("vec_id", "list_id")
        .agg(F.sum((F.col("v") - F.col("cu")) * (F.col("v") - F.col("cu"))).alias("d2"))
    )
    assigned = (
        d2.groupBy("vec_id")
        .agg(F.min(F.struct("d2", "list_id")).alias("s"))
        .select(F.col("s.list_id").alias("list_id"))
        .groupBy("list_id")
        .agg(F.count("*").alias("n_delta"))
    )
    n_base = base.groupBy("list_id").agg(F.count("*").alias("n_base"))
    return (
        n_base.join(assigned, "list_id", "left")
        .select(
            "list_id",
            "n_base",
            F.coalesce("n_delta", F.lit(0)).alias("n_delta"),
            (F.col("n_base") + F.coalesce("n_delta", F.lit(0))).alias("n_total"),
        )
        .orderBy("list_id")
    )


def mmr_rerank(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    n_candidates: int = 12,
    k: int = 5,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998) of the ANN candidate list: greedily pick k results maximizing
    relevance minus max-similarity-to-already-selected (lambda = 0.5,
    so the argmax reduces to rel - max_sim in EXACT integer micro
    units) — the diversity stage a RAG serving path runs between
    retrieval and the prompt (completes rag_retrieval).

    Engine-stable: vectors are milli-quantized once, every relevance
    and pairwise similarity is an exact bigint inner product, greedy
    ties break to the lowest vec_id — so the whole greedy trajectory
    is mirrored by the oracle's unrolled selection CTEs bit-for-bit.

    Plan shape at 100 TB: the DISTRIBUTED work is candidate generation
    (broadcast query -> per-partition integer scoring -> TakeOrdered
    n_candidates, exactly ann_bruteforce's plan). The greedy loop then
    runs on the bounded candidate set (n_candidates rows — a serving
    parameter, not data-scale), the same place a re-ranker sits in any
    production retrieval stack."""
    vq = embeddings.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1000 + F.lit(0.5)).cast("long"),
        ).alias("v"),
    )
    q = vq.filter(F.col("vec_id") == query_vec_id).select(F.col("v").alias("qv"))
    dot_q = F.aggregate(
        F.zip_with("v", "qv", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cand_rows = (
        vq.filter(F.col("vec_id") != query_vec_id)
        .join(F.broadcast(q))
        .select("vec_id", "v", dot_q.alias("rel_u"))
        .orderBy(F.desc("rel_u"), "vec_id")
        .limit(n_candidates)
        .collect()
    )
    vecs = {r.vec_id: r.v for r in cand_rows}
    rel = {r.vec_id: r.rel_u for r in cand_rows}

    def idot(a, b):
        return sum(x * y for x, y in zip(a, b))

    selected: list[tuple[int, int, int]] = []  # (vec_id, rel_u, mmr_u)
    remaining = set(vecs)
    while remaining and len(selected) < k:
        best = None
        for c in sorted(remaining):
            pen = max(
                (idot(vecs[c], vecs[s]) for s, _, _ in selected), default=0
            )
            mmr_u = rel[c] - (pen if selected else 0)
            if best is None or mmr_u > best[2]:
                best = (c, rel[c], mmr_u)
        selected.append(best)
        remaining.discard(best[0])
    spark = embeddings.sparkSession
    out = _tiny_df(
        spark,
        [
            (i + 1, vid, ru, mu)
            for i, (vid, ru, mu) in enumerate(selected)
        ],
        "rank int, vec_id long, rel_u long, mmr_u long",
    )
    return out.select(
        "rank",
        "vec_id",
        (F.col("rel_u") / F.lit(1e6)).alias("rel"),
        (F.col("mmr_u") / F.lit(1e6)).alias("mmr"),
    ).orderBy("rank")


def pca_power_top_component(embeddings: DataFrame, rounds: int = 4) -> DataFrame:
    """Top principal direction of the (uncentered) embedding second
    moment by POWER ITERATION, never materializing the covariance
    matrix: each round computes s_i = x_i . v (one codegen fold per
    vector), then u = sum_i s_i * x_i (one per-dimension partial agg),
    then renormalizes — the dimensionality-reduction training kernel
    (PCA projection / spectral initialization) in the iterative family
    alongside kmeans/pagerank/Bellman-Ford.

    Engine-stable: vectors are milli-quantized, so every s_i and every
    u_d is an exact bigint; the per-round normalizer folds the ORDERED
    u array in one fixed double sequence (sum of squares would
    overflow bigint, and an ordered fold sidesteps float-sum
    nondeterminism), takes an IEEE-exact sqrt, floors to an integer,
    and rescales with exact truncating integer division — so all
    `rounds` iterations are bit-identical across engines and the
    oracle unrolls them as chained CTEs.

    Plan shape at 100 TB (optimization round 13, guide §4 / the
    _lloyd_centroids round-8 lesson): per round ONE map-side Arrow
    pass computes s = X@v and the partial u = X.T@s per PARTITION with
    exact int64 numpy GEMMs against the driver-held v (64 longs — the
    same driver-held-model-artifact status as Lloyd's centroid table)
    and emits 64 (d, u) partial rows per task; the driver (or, above
    the Lloyd partition cutoff, a distributed partial agg) sums the
    exact bigints and renormalizes. The previous lazy-composed plan
    ran the dot product and the per-dim products INTERPRETED per
    element (N x dim lambda steps per round) and posexploded N x dim
    rows into a shuffle each round; the GEMM pass is the same exact
    integer arithmetic at C speed with a batches x dim-row shuffle.
    Values are bit-identical: the normalizer folds u in d-order with
    the same long->double casts, IEEE sqrt, floor; the rescale is the
    same truncating integer division as Spark's DIV (pytest pins the
    numpy reference; the query is in EAGER_QUERIES — driver-loop
    iteration like kmeans_converged)."""
    import math

    spark = embeddings.sparkSession
    # quantized corpus scanned once; every round's GEMM pass rides the
    # lazy checkpoint instead of re-embedding the parquet scan
    vecs = embeddings.select(
        "vec_id", _quantized_vec(F.col("embedding")).alias("xq")
    ).localCheckpoint(eager=False)
    n_parts = vecs.rdd.getNumPartitions()
    dim = 64
    v: list = [1000] * dim
    for _ in range(rounds):
        varr = np.asarray(v, np.int64)
        part = map_batches(vecs, _pca_partial_kernel(varr), "d INT, u LONG")
        if n_parts <= _lloyd_driver_reduce_max_parts():
            rows = part.collect()
        else:
            rows = part.groupBy("d").agg(F.sum("u").alias("u")).collect()
        acc: dict = {}
        for r in rows:
            acc[int(r["d"])] = acc.get(int(r["d"]), 0) + int(r["u"])
        u = [acc[d] for d in sorted(acc)]
        if not u:
            # empty corpus: the old plan's collect_list built an empty
            # u array and the final posexplode emitted zero rows
            v = []
            break
        acc_f = 0.0
        for z in u:  # d-ascending fold, same IEEE sequence as F.aggregate
            acc_f += float(z) * float(z)
        nrm = int(math.floor(math.sqrt(acc_f)))
        if nrm == 0:
            # all-zero u (e.g. every embedding quantizes to zero): `DIV 0`
            # is NULL (non-ANSI Spark, DuckDB), and NULL propagates through
            # every later round — the oracle's answer is all-NULL loadings
            v = [None] * len(u)
            break
        # Spark's bigint DIV truncates toward zero (Python // floors)
        v = [
            (int(z) * 1000) // nrm if z >= 0 else -((-int(z)) * 1000 // nrm)
            for z in u
        ]
    return (
        _tiny_df(
            spark,
            list(enumerate(v)),
            "d INT, v_milli BIGINT",
        )
        .select("d", "v_milli", (F.col("v_milli") / F.lit(1000)).alias("loading"))
        .orderBy("d")
    )


def _pca_partial_kernel(varr):
    """map_batches kernel for one power-iteration round: exact-int64
    GEMMs s = X@v then u_partial = X.T@s, accumulated across every
    batch in the partition and emitted once per task as (d, u) rows
    (the _lloyd_census_kernel convention). Magnitude bound: |s| <=
    dim * |x| * |v| ~ 1e9 and |u| <= N * |x| * |s| ~ 1e17 at the 100x
    amp probe — far inside int64, so numpy addition reorder is exact."""

    def kernel(batches):
        acc = None
        for b in batches:
            X = b["xq"]
            u = X.T @ (X @ varr)
            acc = u if acc is None else acc + u
        if acc is not None:
            yield {"d": np.arange(len(acc), dtype=np.int32), "u": acc}

    return kernel


def ann_ivfpq(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    nprobe: int = 2,
    m: int = 4,
    n_codes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """IVF+PQ compound search (the FAISS IndexIVFPQ shape — THE
    billion-scale ANN layout): coarse-quantizer probing prunes the
    candidate set to `nprobe` inverted lists, then ADC over the PQ
    codes ranks only those candidates — the original vectors are never
    touched at query time, and neither the pruned lists' codes nor any
    vector leaves its partition.

    Scale shape: centroids (n_lists x dim) and the query LUT
    (m x n_codes smallints) broadcast; the probe is a broadcast
    semi-join on list_id — at scale list_id is the PARTITION KEY of
    the code store, so probing is file-level partition pruning; the
    ADC sum is a partial agg keyed by vec_id. TakeOrdered picks k.
    Composition of ann_ivf (probe) and ann_pq (ADC), both
    independently oracle-verified."""
    membership = embeddings.select("vec_id", F.col("label").alias("list_id"))
    query = embeddings.filter(F.col("vec_id") == query_vec_id).select(
        _as_double(F.col("embedding")).alias("q")
    )
    probed = (
        ivf_centroids(embeddings)
        .join(F.broadcast(query))
        .select("list_id", cosine(F.col("centroid"), F.col("q")).alias("c_sim"))
        .orderBy(F.col("c_sim").desc(), F.col("list_id"))
        .limit(nprobe)
        .select("list_id")
    )
    candidates = membership.join(
        F.broadcast(probed), "list_id", "left_semi"
    ).select("vec_id")
    sub = dim // m
    codes = pq_encode(embeddings, m, n_codes, dim).join(
        F.broadcast(candidates), "vec_id", "left_semi"
    )
    q_subs = embeddings.filter(F.col("vec_id") == query_vec_id).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("sub_id"),
                        F.slice(
                            _as_double(F.col("embedding")), s * sub + 1, sub
                        ).alias("qv"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("p")
    ).select(F.col("p.sub_id").alias("q_sub"), F.col("p.qv").alias("qv"))
    cb = (
        embeddings.filter(F.col("vec_id") < n_codes)
        .select(
            "vec_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).alias("sub_id"),
                            F.slice(
                                _as_double(F.col("embedding")), s * sub + 1, sub
                            ).alias("cv"),
                        )
                        for s in range(m)
                    ]
                )
            ).alias("p"),
        )
        .select(
            F.col("vec_id").alias("code_id"),
            F.col("p.sub_id").alias("sub_id"),
            F.col("p.cv").alias("cv"),
        )
    )
    lut_dist = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    lut = cb.join(F.broadcast(q_subs), F.col("sub_id") == F.col("q_sub")).select(
        "sub_id",
        "code_id",
        F.floor(lut_dist * 1000 + F.lit(0.5)).cast("long").alias("q_milli"),
    )
    return (
        codes.join(
            F.broadcast(lut),
            (codes["sub_id"] == lut["sub_id"]) & (codes["code"] == lut["code_id"]),
        )
        .groupBy("vec_id")
        .agg(F.sum("q_milli").alias("adc_milli"))
        .filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", (F.col("adc_milli") / 1000).alias("adc_dist"))
        .orderBy(F.col("adc_dist"), F.col("vec_id"))
        .limit(k)
    )


def ann_ivfpq_trained(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    nprobe: int = 2,
    m: int = 4,
    n_codes: int = 8,
    n_lists: int = 16,
    max_iter: int = 5,
) -> DataFrame:
    """The FULL FAISS IndexIVFPQ composition: TRAINED coarse quantizer
    (Lloyd to convergence), RESIDUAL encoding (PQ codes over
    r = v - centroid[list(v)], the property that makes IVF-PQ beat
    plain PQ: residuals concentrate near zero so the sub-codebooks
    spend their 2^bits on a tighter distribution), and per-probed-list
    ADC (the query builds one LUT per probed list from ITS residual
    q - centroid[list]). ann_ivfpq is the label-list/direct-PQ
    stand-in; this is the production shape end to end. Sub-codebooks
    are the residuals of the n_codes lowest vec_ids (the pq_encode
    seed convention — oracle-replayable; production would k-means each
    subspace).

    Plan shape / 100 TB: training + every constant (centroids,
    codebooks, per-list LUTs — n_lists x m x n_codes ints) is
    driver-held and broadcast into ONE map_batches pass that
    assigns, filters to probed lists, encodes, and ADC-scores each
    partition's vectors; only (vec_id, adc) scalars leave the scan.
    At scale list_id is the code store's partition key, so the probe
    filter is file-level pruning and re-encoding is never needed at
    query time. TakeOrdered merges k rows."""
    cids, cmat, _, vecs = _lloyd_centroids(embeddings, n_lists, max_iter)
    if not len(cids):  # empty corpus: empty result, same schema
        return vecs.select(
            F.lit(1).cast("int").alias("rank"),
            "vec_id",
            F.lit(0).cast("long").alias("adc_d2"),
        )
    if cmat.shape[1] % m != 0:
        # FAISS errors on unequal subspaces too; a silent dim truncation
        # would score on a prefix of the vector and diverge from the
        # oracle's generate_series(1, dim) sweep.
        raise ValueError(
            f"embedding dim {cmat.shape[1]} is not divisible by m={m}; "
            "PQ requires equal-width subspaces"
        )

    # Codebook seeds: the n_codes SMALLEST vec_ids (TakeOrdered — no
    # contiguous-id assumption), degrading gracefully to a smaller
    # codebook on a tiny corpus exactly like the oracle's rank-limited
    # seed CTE. The query vector is fetched separately so a corpus
    # without the id fails loudly instead of with a KeyError.
    cb, n_codes = _pq_seed_codebook(vecs, cmat, cids, n_lists, n_codes)
    qrows = vecs.filter(F.col("vec_id") == query_vec_id).take(1)
    if not qrows:
        raise ValueError(
            f"query_vec_id {query_vec_id} is not present in the corpus"
        )
    q = np.asarray(qrows[0]["xq"], np.int64)
    # per-probed-list ADC LUTs from the query's per-list residual
    probe_order = ivfpq.probe(q, cmat, cids, nprobe)
    probed = cids[probe_order]
    luts = {
        int(cids[pi]): ivfpq.adc_lut(q - cmat[pi], cb, m) for pi in probe_order
    }
    span = np.arange(m)[None, :]

    def kernel(batches):
        for b in batches:
            v, ids = b["xq"], b["vec_id"]
            lst, _ = ivfpq.assign(v, cmat, cids, n_lists)
            mask = np.isin(lst, probed) & (ids != query_vec_id)
            if not mask.any():
                continue
            v, ids, lst = v[mask], ids[mask], lst[mask]
            # cids are sorted by construction
            codes, _ = ivfpq.pq_encode(
                v - cmat[np.searchsorted(cids, lst)], cb, m
            )
            adc = np.zeros(len(ids), np.int64)
            for lid, lut in luts.items():
                sel = lst == lid
                adc[sel] = lut[span, codes[sel]].sum(1)
            yield {"vec_id": ids, "adc_d2": adc}

    topk = (
        map_batches(vecs, kernel, "vec_id LONG, adc_d2 LONG")
        .orderBy("adc_d2", "vec_id")
        .limit(k)
    )
    w = Window.orderBy("adc_d2", "vec_id")
    return topk.select(
        F.row_number().over(w).cast("int").alias("rank"), "vec_id", "adc_d2"
    )


def matryoshka_recall_report(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    ks: "tuple[int, ...]" = (5, 10, 20),
    trunc_dim: int = 16,
) -> DataFrame:
    """Matryoshka-style truncation evaluation (Kusupati et al. 2022 —
    public method): how much of the FULL-dimension top-k does a
    TRUNCATED-dimension (first `trunc_dim` coords) search recover?
    MRL-trained embeddings are deployed exactly this way — coarse
    search on a prefix, rerank on the full vector — and recall@k of
    the prefix against the full ranking is the metric that decides
    the prefix length. Output: one row per k with the overlap count
    and recall.

    Plan: two TakeOrdered top-max(k) scans (no global sort), ranks
    assigned on the tiny k-row results, overlap counted per k against
    a broadcast k-list. The corpus is scanned twice and shuffles
    nothing."""
    kmax = max(ks)
    vecs = embeddings.select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    q = vecs.filter(F.col("vec_id") == query_vec_id).select(F.col("v").alias("q"))

    def topk(score_col: Column, name: str) -> DataFrame:
        scored = (
            vecs.join(F.broadcast(q))
            .filter(F.col("vec_id") != query_vec_id)
            .select("vec_id", F.round(score_col, 3).alias("cs"))
            .orderBy(F.col("cs").desc(), "vec_id")
            .limit(kmax)
        )
        w = Window.orderBy(F.col("cs").desc(), "vec_id")
        return scored.select(
            F.col("vec_id").alias(f"{name}_id"),
            F.row_number().over(w).alias(f"{name}_rank"),
        )

    full = topk(cosine(F.col("v"), F.col("q")), "full")
    trunc = topk(
        cosine(
            F.slice(F.col("v"), 1, trunc_dim), F.slice(F.col("q"), 1, trunc_dim)
        ),
        "trunc",
    )
    pairs = full.join(
        trunc, full["full_id"] == trunc["trunc_id"], "inner"
    ).select("full_rank", "trunc_rank")
    klist = _tiny_df(
        embeddings.sparkSession, [(k,) for k in sorted(ks)], "k int"
    )
    return (
        klist.join(
            pairs,
            (pairs["full_rank"] <= klist["k"]) & (pairs["trunc_rank"] <= klist["k"]),
            "left",
        )
        .groupBy("k")
        .agg(F.count("full_rank").alias("n_overlap"))
        .select(
            "k",
            "n_overlap",
            F.round(F.col("n_overlap") / F.col("k"), 4).alias("recall"),
        )
        .orderBy("k")
    )


def kcenter_init(embeddings: DataFrame, k: int = 6) -> DataFrame:
    """Deterministic farthest-point (k-center / greedy 2-approximation)
    seeding — the initialization stage ahead of kmeans_step /
    kmeans_converged (k-means++ without the RNG: always pick the point
    FARTHEST from the chosen set, ties to the lowest vec_id). Output:
    one row per selected center in selection order with its min
    squared distance to the previously chosen set (exact integer
    millis, so both engines agree bit-for-bit).

    Plan shape per round: a RUNNING min-distance column is carried
    across rounds (dmin_r = min(dmin_{r-1}, d2(v, newest center))), so
    each round is one map-only distance against the single newest
    center — a literal broadcast into the projection — plus a
    TakeOrdered argmax (the BPE argmax-loop shape: k-1 scalar round
    trips, never data). O(k) corpus passes of ONE interpreted
    array-fold each, versus the naive re-join against all chosen
    centers whose round r pays r-1 folds and a corpus-sized groupBy
    shuffle (O(k^2) folds total). Values are bit-identical: min over
    the chosen set IS the running min of the same per-pair quantized
    distances."""
    vecs = embeddings.select(
        "vec_id", _as_double(F.col("embedding")).alias("x")
    )
    schema = "sel_order int, vec_id bigint, dmin_milli bigint"
    first_rows = vecs.orderBy("vec_id").limit(1).collect()
    if not first_rows:  # empty corpus
        return _empty_df(embeddings.sparkSession, schema)
    first = first_rows[0]
    rows = [(1, first.vec_id, 0)]
    chosen_ids = [first.vec_id]
    newest_x = list(first.x)
    state = vecs.withColumn("dmin", F.lit(None).cast("long"))
    for r in range(2, k + 1):
        carr = F.array(*[F.lit(float(v)) for v in newest_x])
        diffs = F.zip_with("x", carr, lambda a, b: (a - b) * (a - b))
        d2_new = F.floor(
            F.aggregate(diffs, F.lit(0.0), lambda acc, v: acc + v) * 1000
            + F.lit(0.5)
        ).cast("long")
        state = state.select(
            "vec_id",
            "x",
            F.when(F.col("dmin").isNull(), d2_new)
            .otherwise(F.least(F.col("dmin"), d2_new))
            .alias("dmin"),
        ).localCheckpoint(eager=False)
        pick = (
            state.filter(~F.col("vec_id").isin(chosen_ids))
            .orderBy(F.col("dmin").desc(), "vec_id")
            .limit(1)
            .collect()
        )
        if not pick:  # fewer than k vectors
            break
        rows.append((r, pick[0].vec_id, pick[0].dmin))
        chosen_ids.append(pick[0].vec_id)
        newest_x = list(pick[0].x)
    return _tiny_df(embeddings.sparkSession, rows, schema)


def _quantized_vec(col: Column) -> Column:
    """array<float> -> array<long>, milli-quantized with half-up floor.
    Integer components make every downstream dot product exact in int64
    (dims x |q|^2 stays far below 2^62), so Spark and the SQL oracle
    agree bit-for-bit with no float-summation-order risk."""
    return F.transform(
        col, lambda x: F.floor(x.cast("double") * 1000 + F.lit(0.5)).cast("long")
    )


def knn_graph(
    embeddings: DataFrame, k: int = 5, blocks: int | None = None
) -> DataFrame:
    """Exact k-NN GRAPH over the whole corpus by quantized inner product
    (MIPS): every vector's top-k neighbors, self excluded — the input to
    mutual-kNN clustering, SemDeDup-style curation, and graph-based
    label propagation over embeddings.

    Distributed as a BLOCK-GRID GEMM, the honest shape of exact all-kNN:
    vectors are hashed into `blocks` candidate blocks; the (qb, cb) grid
    is cogrouped so each of the blocks^2 tasks runs ONE int64 numpy
    matmul of (N/B x N/B) and emits only its block-local top-k per query
    (k rows, never the full row of scores). A final groupBy(vec_id)
    window merges blocks^2 * k candidate rows per vector to the global
    top-k. Each side is replicated `blocks` times — that linear
    replication IS the cost of exactness; the 100 TB scale path prunes
    the grid with IVF list assignments (ann_ivf's list_id replaces the
    hash block, and only query-list x probed-list cells run).

    Arrow batches carry the quantized vectors; scores never shuffle un-
    topped. Ties break on neighbor_id, so output is order-deterministic.
    The output is invariant in `blocks` (exact kernel), so the default
    auto-sizes the grid to the data — see _grid_topk.
    """
    emb = embeddings.select("vec_id", _quantized_vec(F.col("embedding")).alias("qv"))
    cand = emb.select(F.col("vec_id").alias("cand_id"), F.col("qv").alias("cv"))
    return _grid_topk(emb, cand, k, blocks).orderBy("vec_id", "rank")


def _topk_mips_cell(left: dict, right: dict, k: int) -> dict:
    """One cell of an exact-MIPS top-k: ``left`` carries (vec_id, qv),
    ``right`` (cand_id, cv), both integer-quantized; returns the
    cell-local top-k per query by (dot desc, cand_id asc) as
    (vec_id, neighbor_id, dot_q) arrays, self rows (vec_id == cand_id)
    excluded. Every layout — the exact hash grid, IVF lists, sub-blocked
    lists — runs this one arithmetic (see _grid_topk)."""
    # self-mask sentinel: far below any real dot (|dot| <= dims*|q|^2 ~
    # 2^32) yet safely negatable — int64.min would overflow back to
    # itself under the lexsort's negation and rank masked entries FIRST
    neg_inf = -(1 << 62)
    qid, cid = left["vec_id"], right["cand_id"]
    if not len(qid) or not len(cid):
        empty = np.empty(0, np.int64)
        return {"vec_id": empty, "neighbor_id": empty, "dot_q": empty}
    # float64 GEMM on integer-valued matrices: every dot is an exact
    # integer far below 2^53 (dims * |q|^2 ~ 2^32), and float64
    # addition of exact integers under 2^53 is associative-exact, so
    # BLAS gives bit-identical integers ~100x faster than numpy's
    # non-BLAS int64 matmul path.
    Q = left["qv"].astype(np.float64)
    # candidates sorted by id once per cell: column position then
    # stands in for the id tie-break inside the composite key below
    corder = np.argsort(cid, kind="stable")
    C, cid = right["cv"][corder].astype(np.float64), cid[corder]
    nc = C.shape[0]
    kk = min(k, nc)
    # composite int64 key = dot * npow + (reverse column position):
    # argpartition on the KEY selects the top kk by (dot desc, id
    # asc) EXACTLY — plain argpartition on dots broke ties at the
    # kk-th dot arbitrarily, which the later global merge cannot
    # repair (the dropped id-smaller candidate is gone). Bound:
    # |dot| * npow < 2^62 holds for |dot| < 2^40 with cells up to
    # 2^21 candidates — far beyond any per-cell size this grid
    # produces (auto-sizing keeps cells ~1000 rows).
    npow = 1 << int(max(nc - 1, 1)).bit_length()
    colpos = np.arange(nc, dtype=np.int64)
    # chunk the query side so the score matrix stays ~100 MB no
    # matter how large the grid cell is (memory safety at scale)
    chunk = max(1, (100 << 20) // (8 * max(1, nc)))
    vec, nbr, dots = [], [], []
    for s in range(0, Q.shape[0], chunk):
        Di = (Q[s : s + chunk] @ C.T).astype(np.int64)
        key = Di * npow + (nc - 1 - colpos)[None, :]
        self_mask = qid[s : s + chunk, None] == cid[None, :]
        key[self_mask] = neg_inf  # never selected ahead of real dots
        Di[self_mask] = neg_inf
        if kk < nc:
            part = np.argpartition(key, -kk, axis=1)[:, -kk:]
        else:
            part = np.broadcast_to(np.arange(nc), key.shape).copy()
        pk = np.take_along_axis(key, part, axis=1)
        order = np.argsort(-pk, axis=1, kind="stable")
        sel = np.take_along_axis(part, order, axis=1)
        dot = np.take_along_axis(Di, sel, axis=1).ravel()
        keep = dot != neg_inf
        vec.append(np.repeat(qid[s : s + chunk], kk)[keep])
        nbr.append(cid[sel].ravel()[keep])
        dots.append(dot[keep])
    return {
        "vec_id": np.concatenate(vec),
        "neighbor_id": np.concatenate(nbr),
        "dot_q": np.concatenate(dots),
    }


def _grid_topk(
    queries: DataFrame, candidates: DataFrame, k: int, b: int | None = None
) -> DataFrame:
    """The one exact-MIPS top-k grid: (vec_id, rank, neighbor_id,
    dot_q), each query's top-k candidates by (dot desc, id), rank 1..k,
    self excluded. `queries` is (vec_id, qv), `candidates` (cand_id,
    cv), both already quantized. With a list_id column on both sides
    (IVF: probed lists x list members) the grid runs inside each list;
    without it the whole input is one list.

    Each list is split into a b x b hash grid (qb = vec_id mod b, cb =
    cand_id mod b; each side replicated b times), every (list, qb, cb)
    cell runs _topk_mips_cell in one cogroup, and one (dot desc, id)
    window merges the cell-local top-k rows per query. The cells cover
    every (query, candidate) pair of a list exactly once and each keeps
    its exact top-k, so the result is invariant in b.

    The COST is not: each side is replicated b times and every cell
    pays an Arrow+Python round trip, so a fixture-sized input on a fine
    grid is pure per-cell overhead (measured 1.8 s -> 1.1 s at sf0.1
    going 64 -> 4 cells), while a coarse grid on a big input — or few
    inverted lists (the 10-label fixture; any under-sharded index) —
    starves the executor and leaves each cell's GEMM huge. b=None
    therefore sizes cells to ~1000 candidates, at most 4096 cells, from
    one metadata-cheap aggregate over the candidates (rows, lists): an
    eager action."""
    import math

    listed = "list_id" in candidates.columns
    keys = ["list_id", "qb", "cb"] if listed else ["qb", "cb"]
    n, n_lists = candidates.agg(
        F.count("*"), F.countDistinct("list_id") if listed else F.lit(1)
    ).first()
    n_lists = max(int(n_lists), 1)
    if b is None:
        b = max(1, min(math.isqrt(4096 // n_lists), math.ceil(n / n_lists / 1000)))
    grid = queries.sparkSession.range(b * b).select(
        F.pmod(F.col("id"), F.lit(b)).cast("int").alias("qb"),
        F.floor(F.col("id") / b).cast("int").alias("cb"),
    )
    # Distinct column names on the candidate side keep the self-join
    # lineage unambiguous (both sides may derive from the same scan).
    left = queries.withColumn(
        "qb", F.pmod(F.col("vec_id"), F.lit(b)).cast("int")
    ).join(F.broadcast(grid), "qb")
    right = candidates.withColumn(
        "cb", F.pmod(F.col("cand_id"), F.lit(b)).cast("int")
    ).join(F.broadcast(grid), "cb")
    if b > 1:
        # USER repartition (not the groupBy's own exchange): AQE
        # coalesces exchanges by BYTES, but a sub-blocked cell's GEMM
        # cost is quadratic in its rows — byte-sized coalescing
        # under-parallelizes the compute by 3-5x on small fixtures. AQE
        # leaves user-specified repartitioning alone, so the cells stay
        # spread across the cluster. At b = 1 each list is one cell the
        # sizing already keeps small, and pinning one Python task per
        # list measured slower than the coalesced exchange.
        n_cells = n_lists * b * b
        left = left.repartition(n_cells, *keys)
        right = right.repartition(n_cells, *keys)
    partial = group_batches(
        left,
        keys,
        lambda lcell, rcell: _topk_mips_cell(lcell, rcell, k),
        "vec_id BIGINT, neighbor_id BIGINT, dot_q BIGINT",
        other=right,
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("dot_q").desc(), "neighbor_id")
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", "rank", "neighbor_id", "dot_q")
    )


def _listed(embeddings: DataFrame, lists: DataFrame | None) -> DataFrame:
    """(vec_id, list_id, embedding): the corpus keyed by its inverted
    list. `lists=None` keeps the fixture convention (list = label);
    passing a (vec_id, list_id) relation — e.g. trained_lists — swaps
    in a trained coarse quantizer without touching any downstream
    stage. The join is vec_id-keyed; at scale the assignment is
    written alongside the vectors (same layout), so it co-partitions."""
    if lists is None:
        return embeddings.select(
            "vec_id", F.col("label").alias("list_id"), "embedding"
        )
    return embeddings.select("vec_id", "embedding").join(lists, "vec_id")


def ivf_list_stats(
    embeddings: DataFrame, lists: DataFrame | None = None
) -> DataFrame:
    """Per-inverted-list EXACT-INTEGER sufficient statistics of the
    milli-quantized vectors: (list_id, n, s, s2) with s[d] = sum of
    member coordinates and s2 = |s|^2. The mean centroid is s/n, but
    keeping the integer sum + count (instead of a float mean) makes
    every downstream probe-ordering key a division of two exact
    integers — bit-identical across engines, so the DuckDB oracle can
    replay probe selection without float-summation-order hazards.

    Plan shape: posexplode -> (list, pos) partial-agg -> re-assemble,
    the ivf_centroids shuffle contract — (n_lists x dim) rows, row-count
    independent. Exactness bound: |s2| <= dims * (members * 1000 *
    max|coord|)^2 stays under 2^53 up to ~10^6 members/list at unit-norm
    coords; beyond that the production index re-shards lists first."""
    qv = _listed(embeddings, lists).select(
        "list_id", _quantized_vec(F.col("embedding")).alias("qv")
    )
    # member count rides the same (list, pos) partial agg (each pos
    # sees every member exactly once), saving a separate count + join
    return (
        qv.select("list_id", F.posexplode("qv").alias("pos", "x"))
        .groupBy("list_id", "pos")
        .agg(F.sum("x").alias("sx"), F.count("*").alias("cnt"))
        .groupBy("list_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "sx"))).alias("ps"),
            F.max("cnt").alias("n"),
        )
        .select(
            "list_id",
            "n",
            F.transform("ps", lambda s: s.getField("sx")).alias("s"),
        )
        .select(
            "list_id",
            "n",
            "s",
            F.aggregate(
                F.col("s"), F.lit(0).cast("long"), lambda acc, x: acc + x * x
            ).alias("s2"),
        )
    )


def ivf_probe_ranks(
    embeddings: DataFrame,
    metric: str = "ip",
    lists: DataFrame | None = None,
) -> DataFrame:
    """(vec_id, list_id, probe_rank): every vector's full probe
    ordering over ALL inverted lists — the input to the nprobe tuning
    curve (ivf_nprobe_sweep). Same map-side construction as
    ivf_probes (one broadcast stats row, codegen array sort), followed
    by a posexplode instead of a slice."""
    scored = _ivf_probe_scored(embeddings, metric, lists)
    return scored.select(
        "vec_id", F.posexplode("sorted").alias("p", "e")
    ).select(
        "vec_id",
        F.col("e").getField("list_id").alias("list_id"),
        (F.col("p") + 1).cast("int").alias("probe_rank"),
    )


def _ivf_probe_scored(
    embeddings: DataFrame, metric: str, lists: DataFrame | None = None
) -> DataFrame:
    """Shared probe construction: (vec_id, qv, sorted) where `sorted`
    is the full array of (key, list_id) structs in probe order for the
    given metric. One broadcast row of per-list integer stats; all
    scoring and ordering inside codegen array expressions."""
    if metric not in ("ip", "l2"):
        raise ValueError(f"unknown IVF probe metric {metric!r}")
    stats = ivf_list_stats(embeddings, lists).agg(
        F.collect_list(F.struct("list_id", "n", "s", "s2")).alias("ls")
    )
    qv = embeddings.select("vec_id", _quantized_vec(F.col("embedding")).alias("qv"))

    def dot_e(e):
        return F.aggregate(
            F.zip_with(F.col("qv"), e["s"], lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    if metric == "ip":
        # bigger = closer: sort key descending
        def key(e):
            return dot_e(e).cast("double") / e["n"]

        ascending = False
    else:
        def key(e):
            return e["s2"].cast("double") / (e["n"] * e["n"]) - (
                dot_e(e) * F.lit(2)
            ).cast("double") / e["n"]

        ascending = True

    scored = F.transform(
        F.col("ls"),
        lambda e: F.struct(key(e).alias("key"), e["list_id"].alias("list_id")),
    )

    def cmp(a, b):
        first = a["key"] < b["key"] if ascending else a["key"] > b["key"]
        last = a["key"] > b["key"] if ascending else a["key"] < b["key"]
        return (
            F.when(first, F.lit(-1))
            .when(last, F.lit(1))
            .when(a["list_id"] < b["list_id"], F.lit(-1))
            .when(a["list_id"] > b["list_id"], F.lit(1))
            .otherwise(F.lit(0))
        )

    return qv.join(F.broadcast(stats)).select(
        "vec_id", "qv", F.array_sort(scored, cmp).alias("sorted")
    )


def ivf_probes(
    embeddings: DataFrame,
    nprobe: int = 2,
    metric: str = "ip",
    lists: DataFrame | None = None,
) -> DataFrame:
    """Assign every vector its `nprobe` probed inverted lists, MAP-SIDE:
    the per-list integer stats collapse to ONE broadcast row, and each
    vector ranks all lists inside codegen array expressions (transform
    -> array_sort -> slice) — zero shuffle for probe assignment, the
    property that matters when every vector is a query (all-kNN).

    Probe keys (deterministic: exact-int dot / exact-int count, one IEEE
    division — both engines produce the bit-identical double):
      - 'ip' (FAISS METRIC_INNER_PRODUCT probe): q . centroid
        = dot(q, s) / n, descending.
      - 'l2' (FAISS METRIC_L2 probe): |q - centroid|^2 up to the
        constant |q|^2 = s2/n^2 - 2 dot(q, s)/n, ascending.
    Ties break on list_id. Output: (vec_id, qv, list_id), each vector
    replicated nprobe times."""
    scored = _ivf_probe_scored(embeddings, metric, lists)
    return scored.select(
        "vec_id",
        "qv",
        F.slice(F.col("sorted"), 1, nprobe).alias("top"),
    ).select(
        "vec_id",
        "qv",
        F.explode(F.transform("top", lambda e: e["list_id"])).alias("list_id"),
    )


def ivf_knn_graph(
    embeddings: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    lists: DataFrame | None = None,
) -> DataFrame:
    """IVF-PRUNED all-kNN by quantized inner product — the production
    twin of knn_graph. Where the exact kernel runs every (query-block x
    candidate-block) grid cell (quadratic), this runs ONE cell per
    (probed list): each vector scores only the members of its `nprobe`
    nearest lists, so total GEMM work is ~nprobe * N * (N / n_lists) —
    linear in N once lists scale with the corpus, the documented scale
    path ('ann_ivf's list_id replaces the hash block').

    Same arithmetic as knn_graph (the shared _grid_topk), same
    output contract (vec_id, rank, neighbor_id, dot_q); results differ
    from the exact graph only where a true neighbor lives outside the
    probed lists — measure that with ivf_knn_recall_report before
    deploying a (k, nprobe) setting.

    Plan shape / 100 TB: probe assignment is map-side (ivf_probes);
    the shuffle is ONE list_id-keyed cogroup whose left side carries
    nprobe x N rows; candidates move once. A pair can't appear twice
    (each candidate lives in exactly one list). At scale list_id is the
    table's partition key, so the cogroup co-locates with the layout."""
    probes = ivf_probes(embeddings, nprobe=nprobe, metric="ip", lists=lists)
    return _grid_topk(probes, _ivf_candidates(embeddings, lists), k).orderBy(
        "vec_id", "rank"
    )


def _ivf_candidates(embeddings: DataFrame, lists: DataFrame | None) -> DataFrame:
    """(list_id, cand_id, cv): every vector as a member of its list."""
    return _listed(embeddings, lists).select(
        "list_id",
        F.col("vec_id").alias("cand_id"),
        _quantized_vec(F.col("embedding")).alias("cv"),
    )


def _l2_knn(queries: DataFrame, candidates: DataFrame, k: int) -> DataFrame:
    """Exact-L2 kNN through an exact-MIPS top-k: (vec_id, neighbor_id,
    dq) with dq = round(sqrt(d2)) on exact-integer d2. `queries` is
    (vec_id, qv), `candidates` (cand_id, cv), quantized, with every
    query id among the candidates; a list_id column on both sides
    passes through to _grid_topk, which then runs per list. The classic
    MIPS reduction (query -> (2v, 1), candidate -> (v, -|c|^2)) turns
    argmin-d2 into argmax-dot, ties by id, so the shared cell kernel
    applies unchanged; then d2 = |a|^2 - dot_q."""

    def sq_norm(v: Column) -> Column:
        return F.aggregate(
            F.transform(v, lambda x: x * x), F.lit(0).cast("long"), lambda acc, x: acc + x
        )

    n2 = candidates.select(F.col("cand_id").alias("vec_id"), sq_norm(F.col("cv")).alias("nn"))
    lifted = _grid_topk(
        queries.withColumn(
            "qv",
            F.concat(
                F.transform("qv", lambda x: x * F.lit(2)), F.array(F.lit(1).cast("long"))
            ),
        ),
        candidates.withColumn(
            "cv", F.concat(F.col("cv"), F.array(-sq_norm(F.col("cv"))))
        ),
        k,
    )
    return lifted.join(n2, "vec_id").select(
        "vec_id",
        "neighbor_id",
        F.floor(F.sqrt((F.col("nn") - F.col("dot_q")).cast("double")) + F.lit(0.5))
        .cast("long")
        .alias("dq"),
    )


def knn_l2(embeddings: DataFrame, k: int = 5) -> DataFrame:
    """Exact L2 kNN over the whole corpus, self excluded: (vec_id,
    neighbor_id, dq), the input to lof_from_knn. knn_graph's block grid
    under the L2 -> MIPS lift of _l2_knn."""
    qv = embeddings.select("vec_id", _quantized_vec(F.col("embedding")).alias("qv"))
    cand = qv.select(F.col("vec_id").alias("cand_id"), F.col("qv").alias("cv"))
    return _l2_knn(qv, cand, k)


def ivf_knn_l2(
    embeddings: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    lists: DataFrame | None = None,
) -> DataFrame:
    """IVF-pruned exact-L2 kNN within probed lists: knn_l2's output
    (vec_id, neighbor_id, dq) — the pruned candidate generator for
    density-based reports (LOF). Probing uses the L2 centroid key;
    within candidates the lift of _l2_knn applies unchanged."""
    probes = ivf_probes(embeddings, nprobe=nprobe, metric="l2", lists=lists)
    return _l2_knn(probes, _ivf_candidates(embeddings, lists), k)


def lof_from_knn(knn: DataFrame, k: int = 5) -> DataFrame:
    """Breunig et al. LOF chain over ANY (vec_id, neighbor_id, dq) kNN
    relation — reachability distances, integer lrd (5e12 DIV sum-reach),
    integer LOF ratios; the exact (knn_l2) and IVF-pruned (ivf_knn_l2)
    LOF reports share this one scoring definition.
    Everything after the kNN is three vec_id-keyed joins over k-bounded
    rows — linear.

    The kNN relation is LAZY-checkpointed on entry (round 13, guide
    §7.3): the LOF chain references it three times (k-dist, reach, the
    LOF ratio join), and each reference otherwise embeds the whole
    block-grid cogroup subtree — the combined tree cost seconds of
    driver-side Catalyst planning per query and risked re-executing the
    GEMM cells wherever exchange reuse missed. One materialization, k
    rows per vector, same values."""
    knn = knn.localCheckpoint(eager=False)
    kd = knn.groupBy("vec_id").agg(F.max("dq").alias("k_dist"))
    reach = knn.join(
        kd.select(F.col("vec_id").alias("neighbor_id"), F.col("k_dist").alias("kd_b")),
        "neighbor_id",
    ).select("vec_id", F.greatest(F.col("kd_b"), F.col("dq")).alias("r"))
    lrd = reach.groupBy("vec_id").agg(
        F.expr("5000000000000L DIV GREATEST(SUM(r), 1L)").alias("lrd_q")
    )
    lof = (
        knn.join(
            lrd.select(
                F.col("vec_id").alias("neighbor_id"), F.col("lrd_q").alias("lrd_b")
            ),
            "neighbor_id",
        )
        .join(lrd, "vec_id")
        .groupBy("vec_id", "lrd_q")
        .agg(F.expr(f"SUM(lrd_b) * 1000000L DIV ({k} * FIRST(lrd_q))").alias("lof_q"))
    )
    return (
        lof.join(kd, "vec_id")
        .select(
            "vec_id",
            F.col("k_dist").cast("long").alias("k_dist"),
            (
                F.floor(F.col("lof_q").cast("double") / 1e6 * 1e4 + F.lit(0.5)) / 1e4
            ).alias("lof"),
        )
        .orderBy("vec_id")
    )


def mutual_knn_components(
    embeddings: DataFrame, k: int = 5, blocks: int | None = None
) -> DataFrame:
    """Mutual-kNN clustering: keep an edge (a, b) only when each vector
    is in the OTHER's top-k (the mutuality filter kills hub vectors'
    asymmetric fan-in), then connected components over the mutual graph
    — vec_id -> component canonical (minimum member id). The embedding-
    space twin of dedup_groups: where LSH components group near-
    IDENTICAL text, mutual-kNN components group semantically COHERENT
    neighborhoods (the unit SemDeDup prunes within).

    Plan: knn_graph's block-grid GEMM, one self-join on the directed
    edge list (semi join on the reversed pair), then dedup_components'
    iterative min-propagation — every shuffle carries (id, id) pairs,
    never vectors. Unlike near-clique dup groups (diameter ~2),
    mutual-kNN graphs can form long chains, so the propagation budget
    is 64 rounds; dedup_components raises rather than return
    unconverged labels if even that is exceeded (the sum-stable check
    makes extra rounds free once converged)."""
    from .dedup import dedup_components

    # LAZY checkpoint of the kNN edge list BEFORE the mutuality
    # self-join (round 13, guide §7.3 planning cost): both sides of the
    # semi-join and both arms of the undirected-edge union otherwise
    # embed the full block-grid cogroup plan, and just CONVERTING that
    # duplicated tree to an RDD for the loop's edge checkpoint cost
    # 3.9 s of driver-side Catalyst planning at sf0.1 (vs ~0.3 s over
    # the materialized scan). Same rows; the checkpoint materializes on
    # the first propagation action either way.
    g = (
        knn_graph(embeddings, k=k, blocks=blocks)
        .select("vec_id", "neighbor_id")
        .localCheckpoint(eager=False)
    )
    reversed_g = g.select(
        F.col("neighbor_id").alias("vec_id"), F.col("vec_id").alias("neighbor_id")
    )
    mutual = (
        g.join(reversed_g, ["vec_id", "neighbor_id"], "semi")
        .filter(F.col("vec_id") < F.col("neighbor_id"))
        .select(F.col("vec_id").alias("a_id"), F.col("neighbor_id").alias("b_id"))
    )
    nodes = embeddings.select(F.col("vec_id").alias("doc_id"))
    comp = dedup_components(nodes, mutual, max_iter=64, jump=True)
    return (
        comp.select(F.col("doc_id").alias("vec_id"), "component_id")
        .orderBy("vec_id")
    )


def split_semantic_leakage(
    embeddings: DataFrame,
    threshold_milli_dot: int = 2_000_000,
    blocks: int | None = None,
) -> DataFrame:
    """Train/test SEMANTIC leakage audit: after the deterministic hash
    split (split_train_test's md5 convention — first hex digit 0/1/2 =
    test, ~19%), find for every TEST vector its nearest TRAIN vector by
    quantized inner product and flag pairs above the similarity
    threshold. Exact-dedup decontamination (corpus_decontaminate)
    misses paraphrases; this is the embedding-space complement — the
    audit run before any eval split is trusted.

    Plan: the shared block-grid MIPS kernel with the test relation as
    queries and the train relation as candidates, k=1 — each grid cell
    is one int64 GEMM emitting a single argmax row per test vector. At
    100 TB the train side is IVF-list-pruned exactly like knn_graph."""
    first_hex = F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1)
    emb = embeddings.select(
        "vec_id",
        _quantized_vec(F.col("embedding")).alias("qv"),
        first_hex.isin("0", "1", "2").alias("is_test"),
    )
    test = emb.filter(F.col("is_test")).select("vec_id", "qv")
    train = emb.filter(~F.col("is_test")).select(
        F.col("vec_id").alias("cand_id"), F.col("qv").alias("cv")
    )
    top1 = _grid_topk(test, train, 1, blocks)
    return top1.select(
        F.col("vec_id").alias("test_id"),
        F.col("neighbor_id").alias("nearest_train_id"),
        "dot_q",
        (F.col("dot_q") >= threshold_milli_dot).alias("leaked"),
    ).orderBy("test_id")


def _pq_seed_codebook(vecs, cmat, cids, n_lists: int, n_codes: int):
    """Seed PQ codebook shared by ann_ivfpq_trained's refine/health
    twins: residuals (v - centroid[list(v)]) of the n_codes SMALLEST
    vec_ids, code j = j-th smallest (the oracle's rank - 1 convention).
    Returns (cb (n_codes_eff, dim) int64, n_codes_eff)."""
    head_rows = sorted(
        vecs.orderBy("vec_id").limit(n_codes).collect(),
        key=lambda r: r["vec_id"],
    )
    seeds = np.array([r["xq"] for r in head_rows], np.int64)
    lst, _ = ivfpq.assign(seeds, cmat, cids, n_lists)
    return seeds - cmat[np.searchsorted(cids, lst)], len(head_rows)


def ann_ivfpq_refine(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    refine_factor: int = 4,
    nprobe: int = 2,
    m: int = 4,
    n_codes: int = 8,
    n_lists: int = 16,
    max_iter: int = 5,
) -> DataFrame:
    """FAISS IndexRefineFlat over IndexIVFPQ — the standard two-stage
    serving composition: the compressed index produces an ADC shortlist
    of k * refine_factor candidates, then the ORIGINAL vectors of just
    that shortlist are fetched and re-ranked by exact distance. This is
    how production systems get PQ's memory footprint AND near-exact
    top-k: the approximation only has to put the true neighbors
    somewhere in the shortlist, not rank them.

    Exact int64 end to end: the shortlist is ann_ivfpq_trained's ADC
    ranking; the re-rank distance is the exact squared L2 between
    milli-quantized vectors.

    Plan shape / 100 TB: stage 1 is the IVFPQ map-side pass (only
    (vec_id, adc) scalars leave the scan); stage 2 joins the tiny
    shortlist BROADCAST against the vector store — at scale a
    point-lookup by vec_id against the id-partitioned store, reading
    refine_factor * k rows regardless of corpus size. The corpus is
    never scanned twice and never shuffles."""
    import numpy as np

    short = ann_ivfpq_trained(
        embeddings, query_vec_id, k * refine_factor, nprobe, m, n_codes,
        n_lists, max_iter,
    ).select("vec_id", "adc_d2")
    vecs = embeddings.select(
        "vec_id", _quantized_vec(F.col("embedding")).alias("xq")
    )
    qrows = vecs.filter(F.col("vec_id") == query_vec_id).take(1)
    if not qrows:
        # empty corpus (non-empty corpora missing the id already raised
        # inside ann_ivfpq_trained): empty result, stable schema
        return short.select(
            F.lit(1).cast("int").alias("rank"),
            "vec_id",
            "adc_d2",
            F.lit(0).cast("long").alias("exact_d2"),
        ).limit(0)
    q = [int(x) for x in qrows[0]["xq"]]
    qlit = F.array(*[F.lit(x).cast("long") for x in q])
    rer = (
        vecs.join(F.broadcast(short), "vec_id")
        .withColumn(
            "exact_d2",
            F.aggregate(
                F.zip_with(F.col("xq"), qlit, lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )
        .orderBy("exact_d2", "vec_id")
        .limit(k)
    )
    w = Window.orderBy("exact_d2", "vec_id")
    return rer.select(
        F.row_number().over(w).cast("int").alias("rank"),
        "vec_id",
        "adc_d2",
        "exact_d2",
    )


def pq_code_health(
    embeddings: DataFrame,
    m: int = 4,
    n_codes: int = 8,
    n_lists: int = 16,
    max_iter: int = 5,
) -> DataFrame:
    """PQ codebook-health report — the encode-path ops twin of
    ivf_list_health: encode EVERY corpus vector (the index ADD path)
    and report, per (subspace, code): assigned-vector count, corpus
    share in exact milli-units, exact total and mean quantization
    distortion (the sub-distance the argmin selected), and the
    subspace's dead-code count. Dead codes and distortion drift are the
    signals that tell a 100 TB deployment to retrain the codebooks —
    the PQ analogue of rising list imbalance.

    Exact int64: residuals and sub-distances on milli-quantized
    vectors; shares/means are integer divisions of exact counts.

    Plan shape / 100 TB: training constants are driver-held; ONE
    map_batches pass assigns, encodes, and emits per-batch census
    partials (m x n_codes rows per batch — corpus-size independent);
    one m x n_codes-key hash-agg merges them. Row count = m x n_codes."""
    cids, cmat, _, vecs = _lloyd_centroids(embeddings, n_lists, max_iter)
    spark = embeddings.sparkSession
    schema = (
        "s INT, code INT, n_vectors LONG, share_milli LONG, "
        "dist_sum LONG, dist_mean_milli LONG, sub_empty_codes LONG"
    )
    if not len(cids):  # empty corpus: empty report, same schema
        return _empty_df(spark, schema)
    if cmat.shape[1] % m != 0:
        raise ValueError(
            f"embedding dim {cmat.shape[1]} is not divisible by m={m}; "
            "PQ requires equal-width subspaces"
        )
    cb, n_codes = _pq_seed_codebook(vecs, cmat, cids, n_lists, n_codes)

    def kernel(batches):
        for b in batches:
            v = b["xq"]
            lst, _ = ivfpq.assign(v, cmat, cids, n_lists)
            codes, dmin = ivfpq.pq_encode(
                v - cmat[np.searchsorted(cids, lst)], cb, m
            )
            ss, present_codes, ns, dsums = [], [], [], []
            for s in range(m):
                # int64 accumulation: bincount(weights=...) sums in
                # float64, whose exactness dies past 2^53 per-cell —
                # np.add.at on an int64 accumulator keeps the census
                # exact at any batch size.
                present, inv = np.unique(codes[:, s], return_inverse=True)
                acc = np.zeros(len(present), np.int64)
                np.add.at(acc, inv, dmin[:, s])
                ss.append(np.full(len(present), s, np.int64))
                present_codes.append(present)
                ns.append(np.bincount(inv))
                dsums.append(acc)
            yield {
                "s": np.concatenate(ss),
                "code": np.concatenate(present_codes),
                "n": np.concatenate(ns),
                "dsum": np.concatenate(dsums),
            }

    census = (
        map_batches(vecs, kernel, "s LONG, code LONG, n LONG, dsum LONG")
        .groupBy("s", "code")
        .agg(F.sum("n").alias("n"), F.sum("dsum").alias("dsum"))
    )
    spine = (
        spark.range(0, m)
        .select(F.col("id").alias("s"))
        .crossJoin(spark.range(0, n_codes).select(F.col("id").alias("code")))
    )
    tot = census.agg(F.expr(f"SUM(n) DIV {m}").alias("nt"))
    w = Window.partitionBy("s")
    return (
        spine.join(census, ["s", "code"], "left")
        .select(
            "s",
            "code",
            F.coalesce("n", F.lit(0)).alias("n"),
            F.coalesce("dsum", F.lit(0)).alias("dsum"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("s").cast("int").alias("s"),
            F.col("code").cast("int").alias("code"),
            F.col("n").cast("long").alias("n_vectors"),
            F.expr("n * 1000 DIV GREATEST(nt, 1)")
            .cast("long")
            .alias("share_milli"),
            F.col("dsum").cast("long").alias("dist_sum"),
            F.expr("dsum * 1000 DIV GREATEST(n, 1)")
            .cast("long")
            .alias("dist_mean_milli"),
            F.sum((F.col("n") == 0).cast("long"))
            .over(w)
            .cast("long")
            .alias("sub_empty_codes"),
        )
        .orderBy("s", "code")
    )


def range_search(embeddings, query_vec_id: int = 0, r2_milli: int = 1_600_000):
    """Exact radius query (the FAISS range_search API next to the
    top-k family): every vector whose exact integer squared L2 to the
    query (milli-quantized) is <= r2_milli, with its distance. No
    sqrt anywhere — the threshold is specified in squared milli units,
    so the comparison is exact int64 in both engines.

    Plan shape / 100 TB: ONE map-side Arrow pass with the broadcast
    query vector; only the matching (vec_id, d2) scalars leave the
    scan (result size = the ball's population, not the corpus). At
    scale you prune lists first with the trained IVF quantizer and run
    the same pass over probed lists only."""
    vecs = embeddings.select(
        "vec_id", _quantized_vec(F.col("embedding")).alias("xq")
    )
    qrows = vecs.filter(F.col("vec_id") == query_vec_id).take(1)
    if not qrows:
        return vecs.select(
            "vec_id", F.lit(0).cast("long").alias("d2")
        ).limit(0)
    q = np.asarray(qrows[0]["xq"], np.int64)

    def kernel(batches):
        for b in batches:
            ids = b["vec_id"]
            d2 = ((b["xq"] - q[None, :]) ** 2).sum(1)
            mask = (d2 <= r2_milli) & (ids != query_vec_id)
            if mask.any():
                yield {"vec_id": ids[mask], "d2": d2[mask]}

    return map_batches(vecs, kernel, "vec_id LONG, d2 LONG").orderBy(
        "d2", "vec_id"
    )


def ann_ivfpq_batch(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 10,
    nprobe: int = 2,
    m: int = 4,
    n_codes: int = 8,
    n_lists: int = 16,
    max_iter: int = 5,
) -> DataFrame:
    """BATCHED IVF-PQ serving (round 10): production ANN serves query
    SETS, not one vector at a time, and batching changes the broadcast
    shape — instead of one LUT per query, the driver holds a
    (query, probed-list) -> LUT table and the single map-side Arrow
    pass scores EVERY query against each list cell it probes. The
    vector-side work (coarse assign, residual, PQ encode) happens
    exactly ONCE per vector regardless of batch size — that
    amortization is the entire point of batched serving.

    The query set is the n_queries smallest vec_ids (rank-based, no
    contiguous-id assumption — the r8 seeding convention); each query
    probes its own nprobe nearest lists and gets its own top-k, with
    itself excluded. Same exact-int64 arithmetic as ann_ivfpq_trained,
    so the single-query path and the batch path agree row-for-row on
    the shared query (asserted in pytest).

    Plan shape / 100 TB: training + centroids + codebook + the
    n_queries x nprobe LUT table (each m x n_codes ints) are
    driver-held broadcasts; the Arrow pass emits AT MOST
    nprobe * k rows per query per batch (exact per-cell partial
    top-k by (adc, vec_id) — the map-side combine for top-k), so the
    final per-query rank window shuffles O(batches * nprobe * k) rows
    keyed by query_id, never the corpus. Batch size scales the LUT
    broadcast linearly and the scan not at all."""
    cids, cmat, _, vecs = _lloyd_centroids(embeddings, n_lists, max_iter)
    if not len(cids):  # empty corpus: empty result, same schema
        return vecs.select(
            F.col("vec_id").alias("query_id"),
            F.lit(1).cast("int").alias("rank"),
            "vec_id",
            F.lit(0).cast("long").alias("adc_d2"),
        )
    if cmat.shape[1] % m != 0:
        raise ValueError(
            f"embedding dim {cmat.shape[1]} is not divisible by m={m}; "
            "PQ requires equal-width subspaces"
        )
    cb, n_codes = _pq_seed_codebook(vecs, cmat, cids, n_lists, n_codes)

    qrows = sorted(
        vecs.orderBy("vec_id").limit(n_queries).collect(),
        key=lambda r: r["vec_id"],
    )
    qids = np.array([r["vec_id"] for r in qrows], np.int64)
    qmat = np.stack([np.asarray(r["xq"], np.int64) for r in qrows])

    # per-query probe sets + the (list -> [(query_index, LUT)]) table:
    # ONE driver-held structure for the whole batch
    lut_by_list: dict[int, list] = {}
    for qi in range(len(qids)):
        for pi in ivfpq.probe(qmat[qi], cmat, cids, nprobe):
            lut = ivfpq.adc_lut(qmat[qi] - cmat[pi], cb, m)
            lut_by_list.setdefault(int(cids[pi]), []).append((qi, lut))
    probed_all = np.array(sorted(lut_by_list), np.int64)
    span = np.arange(m)[None, :]

    def kernel(batches):
        for b in batches:
            v, ids = b["xq"], b["vec_id"]
            lst, _ = ivfpq.assign(v, cmat, cids, n_lists)
            mask = np.isin(lst, probed_all)
            if not mask.any():
                continue
            v, ids, lst = v[mask], ids[mask], lst[mask]
            # PQ-encode ONCE per vector — shared by every query
            codes, _ = ivfpq.pq_encode(
                v - cmat[np.searchsorted(cids, lst)], cb, m
            )
            out_q, out_id, out_adc = [], [], []
            for lid, qluts in lut_by_list.items():
                sel = lst == lid
                if not sel.any():
                    continue
                c_sel = codes[sel]
                ids_sel = ids[sel]
                for qi, lut in qluts:
                    keep = ids_sel != qids[qi]
                    if not keep.any():
                        continue
                    adc = lut[span, c_sel[keep]].sum(1)
                    # exact per-cell partial top-k by (adc, vec_id):
                    # lexsort (not argpartition) so equal-adc rows keep
                    # the vec_id tie-break the global rank uses
                    top = np.lexsort((ids_sel[keep], adc))[:k]
                    out_q.append(np.full(len(top), qids[qi], np.int64))
                    out_id.append(ids_sel[keep][top])
                    out_adc.append(adc[top])
            if out_q:
                yield {
                    "query_id": np.concatenate(out_q),
                    "vec_id": np.concatenate(out_id),
                    "adc_d2": np.concatenate(out_adc),
                }

    out = map_batches(vecs, kernel, "query_id LONG, vec_id LONG, adc_d2 LONG")
    w = Window.partitionBy("query_id").orderBy("adc_d2", "vec_id")
    return (
        out.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "adc_d2")
        .orderBy("query_id", "rank")
    )


def ann_ivf_filtered(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    nprobe: int = 2,
    n_lists: int = 16,
    max_iter: int = 5,
    label: int = 1,
) -> DataFrame:
    """Attribute-FILTERED vector search (round 10): the FAISS
    IndexIVFFlat + IDSelector / vector-DB metadata-filter shape —
    top-k nearest by exact L2 among vectors whose attribute passes the
    predicate, here label = <label>. Production retrieval is almost
    never unfiltered (tenant, language, license, freshness); the
    design decision this models is PRE-filtering inside the probed
    lists (correct recall at any selectivity) versus post-filtering a
    top-k' (which silently under-returns when the filter is
    selective).

    Composition: trained coarse quantizer (the shared Lloyd loop),
    query probes its nprobe nearest lists, and the single map-side
    Arrow pass assigns, keeps probed-list rows PASSING THE PREDICATE,
    and scores exact int64 L2 to the query — no PQ here; filtered
    search is IVF-Flat's home turf because the re-rank candidates are
    already few.

    Plan shape / 100 TB: predicate evaluation is scan-side (at scale
    it rides the parquet row-group filter BEFORE the Arrow pass);
    per-batch partial top-k by (d2, vec_id) bounds the final
    TakeOrdered to k rows per batch. Centroids are the only
    broadcast."""
    cids, cmat, _, _ = _lloyd_centroids(embeddings, n_lists, max_iter)
    vq = embeddings.select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        _quantized_vec(F.col("embedding")).alias("xq"),
    )
    if not len(cids):
        return vq.select(
            F.lit(1).cast("int").alias("rank"),
            "vec_id",
            "label",
            F.lit(0).cast("long").alias("d2"),
        ).limit(0)
    qrows = vq.filter(F.col("vec_id") == query_vec_id).take(1)
    if not qrows:
        raise ValueError(
            f"query_vec_id {query_vec_id} is not present in the corpus"
        )
    q = np.asarray(qrows[0]["xq"], np.int64)
    probed = cids[ivfpq.probe(q, cmat, cids, nprobe)]

    def kernel(batches):
        for b in batches:
            # predicate FIRST: scan-side selectivity, nothing scored
            # that the filter would discard
            keep = (b["label"] == label) & (b["vec_id"] != query_vec_id)
            v, ids, labs = b["xq"][keep], b["vec_id"][keep], b["label"][keep]
            if not len(ids):
                continue
            lst, _ = ivfpq.assign(v, cmat, cids, n_lists)
            mask = np.isin(lst, probed)
            if not mask.any():
                continue
            v, ids, labs = v[mask], ids[mask], labs[mask]
            d2 = ((v - q[None, :]) ** 2).sum(1)
            top = np.lexsort((ids, d2))[:k]
            yield {"vec_id": ids[top], "label": labs[top], "d2": d2[top]}

    topk = (
        map_batches(vq, kernel, "vec_id LONG, label LONG, d2 LONG")
        .orderBy("d2", "vec_id")
        .limit(k)
    )
    w = Window.orderBy("d2", "vec_id")
    return topk.select(
        F.row_number().over(w).cast("int").alias("rank"),
        "vec_id",
        "label",
        "d2",
    )


def _ivfpq_encode(vecs: DataFrame, cmat, cids, cb, m: int, n_lists: int):
    """(vec_id, list_id, codes) of the (vec_id, xq) relation ``vecs``:
    ivfpq.assign then ivfpq.pq_encode of the residual against the
    frozen codebook, in one map_batches pass. Used by ivfpq_build_index
    (initial encode) and ivfpq_index_add (delta encode) so an upserted
    index is bit-identical to a from-scratch encode with the same
    trained constants."""

    def kernel(batches):
        for b in batches:
            v = b["xq"]
            lst, _ = ivfpq.assign(v, cmat, cids, n_lists)
            codes, _ = ivfpq.pq_encode(
                v - cmat[np.searchsorted(cids, lst)], cb, m
            )
            yield {"vec_id": b["vec_id"], "list_id": lst, "codes": codes}

    return map_batches(
        vecs, kernel, "vec_id LONG, list_id LONG, codes ARRAY<LONG>"
    )


def _model_root(manifest: "dict | None") -> str:
    """The generation subtree holding the index's CURRENT trained
    model (round 13): after ivfpq_index_retrain the manifest's
    model_root names a gen_r<N>/ directory whose centroids/, codebook/,
    _META.json, codes/ and vectors/ supersede the root-level layout —
    the flip that makes a retrain one atomic manifest write. Absent
    model_root = the original build's root-level layout."""
    return (manifest or {}).get("model_root") or ""


def _index_subpath(index_dir: str, manifest: "dict | None", name: str) -> str:
    """Absolute path of an index component (codes, vectors, centroids,
    codebook, _META.json) under the manifest's model root."""
    mr = _model_root(manifest)
    return f"{index_dir}/{mr}/{name}" if mr else f"{index_dir}/{name}"


def _load_index_constants(spark, index_dir: str):
    """Driver-side load of the trained constants (centroids sorted by
    cid, codebook sorted by code_id) — k + n_codes rows, the bounded
    model artifact every serve/add call broadcasts. Manifest-aware
    (round 13): a retrained index's constants live under its
    model_root generation."""
    import numpy as np

    manifest = _load_manifest(spark, index_dir)
    crows = sorted(
        spark.read.parquet(
            _index_subpath(index_dir, manifest, "centroids")
        ).collect(),
        key=lambda r: r["cid"],
    )
    cids = np.array([r["cid"] for r in crows], np.int64)
    cmat = np.stack([np.asarray(r["c"], np.int64) for r in crows])
    brows = sorted(
        spark.read.parquet(
            _index_subpath(index_dir, manifest, "codebook")
        ).collect(),
        key=lambda r: r["code_id"],
    )
    cb = np.stack([np.asarray(r["r"], np.int64) for r in brows])
    return cids, cmat, cb, len(brows)


def ivfpq_build_index(
    embeddings: DataFrame,
    index_dir: str,
    nprobe: int = 2,
    m: int = 4,
    n_codes: int = 8,
    n_lists: int = 16,
    max_iter: int = 5,
    train_on: DataFrame | None = None,
    encode: bool = True,
):
    """BUILD half of the persisted-index story (round 10): train the
    coarse quantizer + PQ codebook, encode the corpus ONCE, and land
    the index as three parquet tables — the FAISS index file reified
    as lakehouse tables:

      centroids/  (cid, c array<long>)          16 rows
      codebook/   (code_id, r array<long>)       8 rows
      codes/      vec_id, codes array<long>, PARTITIONED BY list_id

    codes/ is hive-partitioned on list_id, so SERVING's probed-list
    filter is FILE-LEVEL partition pruning — at 100 TB the query
    touches nprobe/n_lists of the index bytes, which is the whole
    point of IVF. Encoding reuses the one-Arrow-pass assign+encode
    kernel; nothing is collected except the trained constants.

    train_on (round 11): train the quantizer + codebook on a DIFFERENT
    relation than the one encoded (production indexes train on a
    sample or a base snapshot, then encode the full corpus) — the
    from-scratch twin of an incremental build+ivfpq_index_add, used by
    the upsert-equivalence tests.

    encode=False (round 11): TRAIN-ONLY — land centroids/codebook/
    _META but no codes; the corpus arrives later through
    ivfpq_index_add (e.g. a streaming ingest filling the index
    micro-batch by micro-batch)."""
    spark = embeddings.sparkSession
    cids, cmat, _, train_vecs = _lloyd_centroids(
        train_on if train_on is not None else embeddings, n_lists, max_iter
    )
    if train_on is not None:
        # codebook seeds come from the TRAINING relation; the encoded
        # corpus is the full target
        vecs = embeddings.select(
            "vec_id", _quantized_vec(F.col("embedding")).alias("xq")
        )
    else:
        vecs = train_vecs
    if not len(cids):
        raise ValueError("cannot build an IVF-PQ index over an empty corpus")
    if cmat.shape[1] % m != 0:
        raise ValueError(
            f"embedding dim {cmat.shape[1]} is not divisible by m={m}; "
            "PQ requires equal-width subspaces"
        )
    cb, n_codes = _pq_seed_codebook(train_vecs, cmat, cids, n_lists, n_codes)

    _tiny_df(
        spark,
        [(int(cids[i]), [int(x) for x in cmat[i]]) for i in range(len(cids))],
        "cid LONG, c ARRAY<LONG>",
    ).write.mode("overwrite").parquet(f"{index_dir}/centroids")
    _tiny_df(
        spark,
        [(j, [int(x) for x in cb[j]]) for j in range(n_codes)],
        "code_id LONG, r ARRAY<LONG>",
    ).write.mode("overwrite").parquet(f"{index_dir}/codebook")
    # _META sidecar: the build-time hyperparameters add/serve need —
    # m is otherwise only recoverable by probing a codes row, which a
    # train-only (not-yet-encoded) index does not have. Written through
    # the Hadoop FS like every other index small file.
    import json as _json

    _fs_write_text(
        spark,
        f"{index_dir}/_META.json",
        _json.dumps({"m": m, "n_codes": n_codes, "n_lists": n_lists}),
    )

    if encode:
        (
            _ivfpq_encode(vecs, cmat, cids, cb, m, n_lists)
            # key-repartition before the partitioned write: without it
            # every one of the N encode tasks opens a file in every
            # list_id directory (N x n_lists small files); with it each
            # list writes one well-sized file per shuffle partition —
            # the layout serving scans
            .repartition(n_lists, "list_id")
            .write.mode("overwrite")
            .partitionBy("list_id")
            .parquet(f"{index_dir}/codes")
        )


def _index_meta(spark, index_dir: str) -> "dict | None":
    """The _META sidecar (m, n_codes, n_lists) when present — always,
    for round-11+ builds. Read through the Hadoop FS so the index
    works on non-POSIX stores. Manifest-aware: a retrained index's
    sidecar lives under its model_root generation."""
    import json

    manifest = _load_manifest(spark, index_dir)
    text = _fs_read_text(
        spark, _index_subpath(index_dir, manifest, "_META.json")
    )
    return json.loads(text) if text is not None else None


def _index_m(spark, index_dir: str) -> int:
    """Subspace count m for a persisted index: the _META sidecar when
    present, else probed from one codes row (pre-sidecar indexes)."""
    meta = _index_meta(spark, index_dir)
    if meta is not None:
        return int(meta["m"])
    return (
        _codes_df(spark, index_dir)
        .select(F.size("codes").alias("m"))
        .first()["m"]
    )


def ivfpq_store_vectors(embeddings: DataFrame, index_dir: str) -> None:
    """Land the REFINE store (round 12): the raw quantized vectors,
    hive-partitioned by the SAME trained list assignment the codes
    use —

      vectors/  vec_id, xq array<long>, PARTITIONED BY list_id

    — so a two-stage serve's exact re-rank is a partition-pruned
    point-read of only the probed lists' vectors, never a second full
    scan of the corpus. One map-side Arrow assign pass (the shared
    packed-argmin kernel), nothing collected but the trained
    constants. Idempotent: mode=overwrite, callable to retro-fit an
    already-built index (ensure_persisted_ivfpq_index upgrades cached
    fixtures this way)."""
    spark = embeddings.sparkSession
    cids, cmat, _, _ = _load_index_constants(spark, index_dir)
    meta = _index_meta(spark, index_dir)
    n_lists = (
        int(meta["n_lists"]) if meta is not None else int(cids.max()) + 1
    )
    manifest = _load_manifest(spark, index_dir)
    vecs, schema = _vector_store_projection(embeddings)
    (
        map_batches(vecs, _ivf_assign_kernel(cmat, cids, n_lists), schema)
        .repartition(n_lists, "list_id")
        .write.mode("overwrite")
        .partitionBy("list_id")
        .parquet(_index_subpath(index_dir, manifest, "vectors"))
    )
    if manifest and manifest.get("vec_roots"):
        # a full overwrite of the base store supersedes every vector
        # generation — clear the redirections so readers do not union
        # stale generation rows on top of the fresh store
        manifest = dict(manifest)
        manifest["vec_roots"] = {}
        _write_manifest(spark, index_dir, manifest)


def _vector_store_projection(embeddings: DataFrame):
    """Input projection + output schema for the vectors/ store: the
    quantized vector plus any attribute metadata columns present on
    the corpus (today: label). Metadata rides as ORDINARY parquet
    columns beside the vectors, so a filtered serve's attribute
    predicate reaches the scan as a pushed parquet filter
    (PushedFilters) on top of the list_id partition pruning."""
    passthrough = tuple(
        c for c in ("label",) if c in embeddings.columns
    )
    vecs = embeddings.select(
        "vec_id",
        _quantized_vec(F.col("embedding")).alias("xq"),
        *[F.col(c).cast("long").alias(c) for c in passthrough],
    )
    schema = "vec_id LONG, list_id LONG, xq ARRAY<LONG>" + "".join(
        f", {c} LONG" for c in passthrough
    )
    return vecs, schema


def ivfpq_serve_refine_persisted(
    embeddings: DataFrame,
    index_dir: str,
    query_vec_id: int = 0,
    k: int = 10,
    refine_factor: int = 4,
    nprobe: int = 2,
) -> DataFrame:
    """Persisted TWO-STAGE serving (round 12): the production shape of
    ann_ivfpq_refine against the landed index instead of in-memory
    DataFrames — FAISS IndexRefineFlat over an on-disk IndexIVFPQ.

    Stage 1 (shortlist): the pure-Catalyst ADC plan of
    ivfpq_serve_persisted, kept to k * refine_factor candidates —
    codes/ scanned with file-level PartitionFilters on the probed
    lists, posexplode -> BroadcastHashJoin LUT -> partial-agg sums.

    Stage 2 (refine): the shortlist (k * refine_factor rows) BROADCASTS
    against vectors/, which is scanned with its OWN PartitionFilters on
    the same probed lists — every shortlist candidate's vector lives in
    a probed list by construction — and re-ranked by exact int64
    squared L2 against the query literal. Both stages read
    nprobe/n_lists of their table's bytes; the corpus never shuffles.

    Row-identical to ann_ivfpq_refine under the same hyperparameters
    (asserted in pytest; shares its DuckDB oracle)."""
    return _refine_serve_core(
        embeddings, index_dir, query_vec_id, k, refine_factor, nprobe,
        label=None,
    )


def _refine_serve_core(
    embeddings: DataFrame,
    index_dir: str,
    query_vec_id: int,
    k: int,
    refine_factor: int,
    nprobe: int,
    label: "int | None",
) -> DataFrame:
    """The shared two-stage serving pipeline behind BOTH refine cells
    of the serving matrix (unfiltered and attribute-filtered): query
    load -> broadcast ADC LUT -> pruned-codes shortlist -> broadcast
    shortlist -> pruned-vectors exact re-rank -> rank window. With a
    label, the eligible set (pruned vectors/ scan with the predicate
    PUSHED to parquet) pre-filters the shortlist via a broadcast
    semi-join AND becomes the re-rank side, and the label column rides
    the output. One definition so a fix to the serving shape cannot
    diverge between the matrix cells."""
    import numpy as np

    spark = embeddings.sparkSession
    cids, cmat, cb, n_codes = _load_index_constants(spark, index_dir)
    m = _index_m(spark, index_dir)
    qrows = (
        embeddings.filter(F.col("vec_id") == query_vec_id)
        .select("vec_id", _quantized_vec(F.col("embedding")).alias("xq"))
        .take(1)
    )
    if not qrows:
        raise ValueError(
            f"query_vec_id {query_vec_id} is not present in the corpus"
        )
    lut_rows, probed_union = _ivfpq_batch_lut(
        qrows, cids, cmat, cb, n_codes, m, nprobe
    )
    probed = sorted(probed_union)
    lut = _tiny_df(
        spark,
        [(r[1], r[2], r[3], r[4]) for r in lut_rows],
        "list_id LONG, s INT, code_id LONG, d LONG",
    )
    vectors = _vectors_df(spark, index_dir).filter(
        F.col("list_id").isin(probed)
    )
    codes = _codes_sans_tombstones(spark, index_dir).filter(
        F.col("list_id").isin(probed)
        & (F.col("vec_id") != query_vec_id)
    )
    if label is not None:
        vectors = vectors.filter(
            (F.col("label") == label)
            & (F.col("vec_id") != query_vec_id)
        )
        codes = codes.join(
            F.broadcast(vectors.select("vec_id")), "vec_id", "left_semi"
        )
    short = (
        codes.select(
            "vec_id", "list_id", F.posexplode("codes").alias("s", "code_id")
        )
        .join(F.broadcast(lut), ["list_id", "s", "code_id"])
        .groupBy("vec_id")
        .agg(F.sum("d").alias("adc_d2"))
        .orderBy("adc_d2", "vec_id")
        .limit(k * refine_factor)
    )
    q = np.asarray(qrows[0]["xq"], np.int64)
    qlit = F.array(*[F.lit(int(x)).cast("long") for x in q])
    rer = (
        vectors.join(F.broadcast(short), "vec_id")
        .withColumn(
            "exact_d2",
            F.aggregate(
                F.zip_with(F.col("xq"), qlit, lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )
        .orderBy("exact_d2", "vec_id")
        .limit(k)
    )
    w = Window.orderBy("exact_d2", "vec_id")
    out = [F.row_number().over(w).cast("int").alias("rank"), F.col("vec_id")]
    if label is not None:
        out.append(F.col("label").cast("long").alias("label"))
    out += [
        F.col("adc_d2").cast("long").alias("adc_d2"),
        F.col("exact_d2").cast("long").alias("exact_d2"),
    ]
    return rer.select(*out)


def ivf_serve_filtered_persisted(
    embeddings: DataFrame,
    index_dir: str,
    query_vec_id: int = 0,
    k: int = 10,
    nprobe: int = 2,
    label: int = 1,
) -> DataFrame:
    """Attribute-FILTERED serving against the PERSISTED index (round
    12): ann_ivf_filtered's pre-filter semantics — exact top-k among
    probed-list vectors passing the predicate — composed with the
    landed vectors/ store so the predicate pushes into the PRUNED
    scan:

      scan vectors/ (PartitionFilters: list_id IN probed;
                     PushedFilters: EqualTo(label, <label>))
        -> exact int64 L2 vs the query literal (pure Catalyst
           zip_with/aggregate — no Python in the serving path)
        -> TakeOrdered k

    so a filtered query reads nprobe/n_lists of the store AND lets the
    parquet row-group statistics skip label-homogeneous row groups —
    the two pushdowns compose at the file level. Pre-filtering keeps
    recall correct at any selectivity (post-filtering a top-k' under-
    returns when the filter is selective). Row-identical to
    ann_ivf_filtered under the same training (asserted in pytest;
    shared oracle)."""
    spark = embeddings.sparkSession
    cids, cmat, _, _ = _load_index_constants(spark, index_dir)
    qrows = (
        embeddings.filter(F.col("vec_id") == query_vec_id)
        .select(_quantized_vec(F.col("embedding")).alias("xq"))
        .take(1)
    )
    if not qrows:
        raise ValueError(
            f"query_vec_id {query_vec_id} is not present in the corpus"
        )
    q = np.asarray(qrows[0]["xq"], np.int64)
    probed = [int(x) for x in cids[ivfpq.probe(q, cmat, cids, nprobe)]]
    qlit = F.array(*[F.lit(int(x)).cast("long") for x in q])
    # membership semi-join against the LIVE codes (tombstones hidden,
    # compacted-away rows gone): vectors/ is append-only and never
    # rewritten by delete/compact, so without this the filtered serve
    # would return deleted vectors every other serve path hides —
    # codes-sans-tombstones is the index's single source of liveness.
    live = _codes_sans_tombstones(spark, index_dir).filter(
        F.col("list_id").isin(probed)
    ).select("vec_id")
    cand = (
        _vectors_df(spark, index_dir)
        .filter(
            F.col("list_id").isin(probed)
            & (F.col("label") == label)
            & (F.col("vec_id") != query_vec_id)
        )
        .join(live, "vec_id", "left_semi")
        .withColumn(
            "d2",
            F.aggregate(
                F.zip_with(F.col("xq"), qlit, lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )
        .orderBy("d2", "vec_id")
        .limit(k)
    )
    w = Window.orderBy("d2", "vec_id")
    return cand.select(
        F.row_number().over(w).cast("int").alias("rank"),
        "vec_id",
        F.col("label").cast("long").alias("label"),
        F.col("d2").cast("long").alias("d2"),
    )


def ivfpq_serve_refine_filtered_persisted(
    embeddings: DataFrame,
    index_dir: str,
    query_vec_id: int = 0,
    k: int = 10,
    refine_factor: int = 4,
    nprobe: int = 2,
    label: int = 1,
) -> DataFrame:
    """FILTERED two-stage serving against the PERSISTED index (round
    12) — the last cell of the serving matrix ({flat, refine} x
    {unfiltered, filtered}): pre-filter semantics composed with the
    shortlist+refine shape, all stages pruned to the probed lists.

    Stage 0 (eligibility): vectors/ scanned with PartitionFilters on
    the probed lists AND the attribute predicate pushed to parquet
    (PushedFilters: EqualTo(label, ...)); the surviving vec_ids are
    the eligible candidate set. Pre-filtering BEFORE the shortlist is
    what keeps recall correct at any selectivity — a post-filtered
    shortlist under-returns when the predicate is selective (the
    ann_ivf_filtered rationale, now applied to the compressed stage).

    Stage 1 (shortlist): live codes of the probed lists, LEFT-SEMI
    joined to the eligible set (broadcast — the set is bounded by
    nprobe/n_lists of the corpus times the predicate selectivity),
    ADC-ranked via the broadcast LUT, kept to k * refine_factor.
    Liveness is inherited from _codes_sans_tombstones: deleted and
    compacted-away vectors never reach the shortlist.

    Stage 2 (refine): the shortlist broadcasts back against the SAME
    pruned+filtered vectors/ scan and re-ranks by exact int64 squared
    L2 against the query literal. Pure Catalyst (zip_with/aggregate);
    no Python anywhere in the serving path.

    Returns (rank, vec_id, label, adc_d2, exact_d2); oracle replays
    the trained chain + label-filtered ADC shortlist + exact re-rank
    in exact integers (registry r12)."""
    return _refine_serve_core(
        embeddings, index_dir, query_vec_id, k, refine_factor, nprobe,
        label=label,
    )


def ivfpq_index_add(
    new_embeddings: DataFrame,
    index_dir: str,
    constants: "tuple | None" = None,
    batch_id: "int | None" = None,
) -> None:
    """ADD half of index maintenance (round 11): encode NEW vectors
    with the index's FROZEN trained constants (FAISS add() semantics —
    adding never retrains) and APPEND them into their list_id
    partitions of codes/. Ingest cost tracks the delta, not the
    corpus: one map-side Arrow pass over the new vectors, and the
    append touches only the partitions the new vectors land in.
    Serving needs no code change — the probed-list partition scan
    picks up appended files automatically.

    ``constants``: optional preloaded (cids, cmat, cb, n_codes, m,
    n_lists) tuple so a streaming ingest (one add per micro-batch)
    loads the frozen model artifact ONCE instead of re-collecting the
    centroids/codebook parquet every batch.

    ``batch_id`` (round 12): idempotence guard for the streaming use.
    foreachBatch has AT-LEAST-ONCE semantics — after a mid-batch
    failure/restart Spark replays the micro-batch with the SAME
    batch_id, and a bare append would double-land the batch's code
    rows (silently inflating adc_d2 for the duplicated vec_ids). When
    batch_id is given, a committed-batch marker
    (_batch_commits/batch-<id>) is checked before the append and
    written after it, so a replayed batch is a no-op. The residual
    window (crash BETWEEN the append and the marker write) is the
    plain-parquet limit — closing it fully needs a transactional table
    commit (Delta/Iceberg) or the generation-manifest compaction
    machinery; the marker turns the common replay case from silent
    duplication into a skip."""
    spark = new_embeddings.sparkSession
    if batch_id is not None:
        marker = f"{index_dir}/_batch_commits/batch-{int(batch_id)}"
        if _fs_exists(spark, marker):
            return
    if constants is not None:
        cids, cmat, cb, _, m, n_lists = constants
    else:
        cids, cmat, cb, _ = _load_index_constants(spark, index_dir)
        m = _index_m(spark, index_dir)
        meta = _index_meta(spark, index_dir)
        # the TRAINED n_lists, never len(cids) (see ivfpq.assign)
        n_lists = (
            int(meta["n_lists"]) if meta is not None
            else int(cids.max()) + 1
        )
    qdf = new_embeddings.select(
        "vec_id", _quantized_vec(F.col("embedding")).alias("xq")
    )
    encoded = _ivfpq_encode(qdf, cmat, cids, cb, m, n_lists).repartition(
        n_lists, "list_id"
    )
    # one file per touched list per append, not one per task per
    # list (the build-path small-files rationale). Appends must land
    # in each list's LIVE root (appending a compacted list's rows into
    # the default base would park them beside that list's stale
    # pre-compaction files, where the manifest reader rightly never
    # looks) — _routed_append resolves the root map and re-homes
    # fully-dropped lists into the newest generation.
    manifest = _load_manifest(spark, index_dir)
    new_roots = _routed_append(
        spark, index_dir, encoded, manifest, "roots", "codes", "codes_c"
    )
    new_vec_roots = None
    if _fs_exists(spark, _index_subpath(index_dir, manifest, "vectors")):
        # the index carries a refine store: keep it in sync so a
        # two-stage serve can re-rank added vectors too (one extra
        # map-side assign pass over the DELTA only), routed through
        # the manifest's vec_roots exactly like the codes (round 13 —
        # compaction rewrites vector partitions now, so the live root
        # of a compacted list is its vectors_c generation).
        vdf, vschema = _vector_store_projection(new_embeddings)
        assigned = map_batches(
            vdf, _ivf_assign_kernel(cmat, cids, n_lists), vschema
        ).repartition(n_lists, "list_id")
        new_vec_roots = _routed_append(
            spark, index_dir, assigned, manifest, "vec_roots",
            "vectors", "vectors_c",
        )
    if new_roots is not None or new_vec_roots is not None:
        manifest = dict(manifest)
        if new_roots is not None:
            manifest["roots"] = new_roots
        if new_vec_roots is not None:
            manifest["vec_roots"] = new_vec_roots
        _write_manifest(spark, index_dir, manifest)
    if batch_id is not None:
        _fs_touch(spark, marker)


def ivfpq_index_delete(
    spark, index_dir: str, vec_ids: "list[int] | DataFrame"
) -> None:
    """DELETE half of index maintenance: deletions are ID TOMBSTONES
    appended to tombstones/ — serving anti-joins them out, so a delete
    never rewrites codes/ partitions (the IndexIVF remove_ids
    trade-off reified lakehouse-style: logical delete now, physical
    compaction whenever a partition rewrite is worth it). Idempotent:
    tombstoning an id twice, or an id the index never held, is a
    no-op at serve time. Accepts a DataFrame carrying vec_id (the
    distributed path — the delete set never touches the driver) or a
    plain id list for small ad-hoc deletes."""
    if isinstance(vec_ids, DataFrame):
        ids = vec_ids.select(F.col("vec_id").cast("long").alias("vec_id"))
    else:
        ids = _tiny_df(
            spark, [(int(v),) for v in vec_ids], "vec_id LONG"
        )
    ids.write.mode("append").parquet(f"{index_dir}/tombstones")


def _hfs(spark, path: str):
    """(Hadoop FileSystem, Path) for whatever store `path` lives on —
    HDFS, S3A, local. The one way the engine touches index small files
    (manifest, meta, markers, existence checks), so the persisted
    index works wherever its parquet does, not just on POSIX paths."""
    jvm = spark._jvm
    jp = jvm.org.apache.hadoop.fs.Path(path)
    return jp.getFileSystem(spark._jsc.hadoopConfiguration()), jp


def _fs_exists(spark, path: str) -> bool:
    fs, jp = _hfs(spark, path)
    return bool(fs.exists(jp))


def _fs_read_text(spark, path: str) -> "str | None":
    fs, jp = _hfs(spark, path)
    if not fs.exists(jp):
        return None
    ins = fs.open(jp)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            ins, "UTF-8"
        )
    finally:
        ins.close()


def _fs_write_text(spark, path: str, text: str) -> None:
    """Small-file flip through the Hadoop FS: write a temp object,
    then rename it OVER the destination in one FileContext call
    (Options.Rename.OVERWRITE — atomic on HDFS-like stores; on an
    object store the rename is a copy of ONE small file). The
    overwriting rename is load-bearing: the plain FileSystem API
    refuses to rename onto an existing file, and the round-12
    delete-then-rename workaround opened a window in which a
    concurrent reader saw NO manifest at all — indistinguishable from
    a never-compacted index, so _codes_df would silently resurrect
    pre-compaction rows. With the single-call rename a reader sees
    either the old mapping or the new one, never an absence. Stores
    whose FileContext rejects the flag (none of HDFS/S3A/local do)
    fall back to delete+rename; _load_manifest's generation-dir
    cross-check turns that residual window into a retried read
    instead of a silent fallback."""
    fs, jp = _hfs(spark, path)
    jvm = spark._jvm
    jtmp = jvm.org.apache.hadoop.fs.Path(path + ".tmp")
    out = fs.create(jtmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    try:
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            jp.toUri(), spark._jsc.hadoopConfiguration()
        )
        ren = getattr(jvm.org.apache.hadoop.fs, "Options$Rename")
        opts = spark._sc._gateway.new_array(ren, 1)
        opts[0] = ren.OVERWRITE
        fc.rename(jtmp, jp, opts)
    except Exception:
        fs.delete(jp, False)
        fs.rename(jtmp, jp)


def _fs_touch(spark, path: str) -> None:
    fs, jp = _hfs(spark, path)
    fs.create(jp, True).close()


def _load_manifest(spark, index_dir: str) -> "dict | None":
    """The generation manifest (round 12): _MANIFEST.json maps each
    COMPACTED list_id to the list of directories (relative to the
    index root) currently holding its live code rows; lists absent
    from the map live in the default root codes/. An empty dir list
    means the list holds no vectors at all (fully tombstoned and
    compacted away). Absent manifest = every list in codes/ — all
    indexes look like that until their first compaction.

    Flip-window handling (round 13): on a store whose FileContext
    rename fell back to delete+rename, a reader can catch the instant
    between the delete and the rename — manifest missing, but the
    COMPLETE new manifest sitting in _MANIFEST.json.tmp (the fallback
    writes and closes the tmp before it deletes). A missing manifest
    therefore retries briefly (the writer usually finishes the
    rename), then reads the tmp if one exists — past the delete, the
    tmp IS the committed mapping, and serving the old (deleted) one
    is impossible anyway. Missing manifest with NO tmp is the
    never-compacted state — which includes a maintenance job that
    crashed after staging a codes_c* directory but BEFORE its first
    flip: the staged generation is unreferenced garbage (gc reclaims
    it) and codes/ is still the full live index."""
    import json
    import time

    path = f"{index_dir}/_MANIFEST.json"
    text = _fs_read_text(spark, path)
    if text is not None:
        return json.loads(text)
    for _ in range(5):
        if not _fs_exists(spark, path + ".tmp"):
            # no flip in flight or interrupted: the miss is genuine
            return None
        time.sleep(0.2)
        text = _fs_read_text(spark, path)
        if text is not None:
            return json.loads(text)
    text = _fs_read_text(spark, path + ".tmp")
    return json.loads(text) if text is not None else None


def _write_manifest(spark, index_dir: str, manifest: dict) -> None:
    """Single-file manifest flip through the Hadoop FS (_fs_write_text)
    — the commit point of a compaction. Readers see either the old
    mapping or the new one, never a half-rewritten index."""
    import json

    _fs_write_text(
        spark,
        f"{index_dir}/_MANIFEST.json",
        json.dumps(manifest, sort_keys=True),
    )


def _codes_df(spark, index_dir: str) -> DataFrame:
    """Manifest-aware reader of the index's code rows: the ONE path
    every serve/census goes through. Without a manifest this is a
    plain scan of codes/. With one, each compacted list is read from
    its manifest root(s) and codes/ is read EXCLUDING those lists —
    all the exclusion/selection filters are on the list_id PARTITION
    column, so every branch stays file-level partition pruning and a
    serve's probed-list filter pushes into each branch. Stale
    partition directories left behind by compaction are never read
    (correctness never depends on deleting them; ivfpq_index_gc
    reclaims the bytes whenever convenient).

    Every root is read with the EXPLICIT codes schema: after a
    compaction touches every list and gc reclaims the stale dirs,
    codes/ legitimately holds zero parquet files, and a schema-less
    read of it would throw instead of returning the (correct) empty
    branch. Explicit list_id also pins the partition column to LONG
    uniformly across branches."""
    schema = "vec_id LONG, codes ARRAY<LONG>, list_id LONG"
    manifest = _load_manifest(spark, index_dir)
    codes = spark.read.schema(schema).parquet(
        _index_subpath(index_dir, manifest, "codes")
    )
    if not manifest or not manifest.get("roots"):
        return codes
    roots: dict[int, list[str]] = {
        int(lid): dirs for lid, dirs in manifest["roots"].items()
    }
    out = codes.filter(~F.col("list_id").isin(sorted(roots)))
    by_dir: dict[str, list[int]] = {}
    for lid, dirs in roots.items():
        for d in dirs:
            by_dir.setdefault(d, []).append(lid)
    for d, lids in sorted(by_dir.items()):
        branch = spark.read.schema(schema).parquet(
            f"{index_dir}/{d}"
        ).filter(F.col("list_id").isin(sorted(lids)))
        out = out.unionByName(branch)
    return out


def _codes_sans_tombstones(spark, index_dir: str) -> DataFrame:
    """Live code rows with tombstoned ids anti-joined out (broadcast —
    the tombstone set is the deletes-since-compaction delta, small by
    maintenance policy)."""
    codes = _codes_df(spark, index_dir)
    tomb = f"{index_dir}/tombstones"
    if _fs_exists(spark, tomb):
        # explicit schema: a just-compacted index holds an EMPTY
        # tombstone relation, and schema-less parquet reads of an
        # empty directory cannot infer one
        t = (
            spark.read.schema("vec_id LONG")
            .parquet(tomb)
            .select("vec_id")
            .distinct()
        )
        codes = codes.join(F.broadcast(t), "vec_id", "left_anti")
    return codes


def _vectors_df(
    spark, index_dir: str, manifest: "dict | None | bool" = False
) -> DataFrame:
    """Manifest-aware reader of the REFINE store (round 13) — the
    vectors/ counterpart of _codes_df, and the fix for the
    append-only-vectors staleness: once compaction also rewrites the
    affected lists' vector partitions (vectors_c<gen>/ + the
    manifest's vec_roots map), every serve path must read vectors
    through the same root-resolution or it would see the stale
    pre-compaction rows (a deleted-compacted-then-re-added vec_id
    would otherwise surface TWICE in the re-rank join, pushing a
    genuine candidate out of top-k). All selection filters are on the
    list_id partition column, so each branch stays file-level pruning
    and a serve's probed-list filter composes into every branch.

    The schema is pinned from the first readable root: passthrough
    attribute columns (label, ...) vary per corpus, and generation
    branches can legitimately be empty directories after gc.
    ``manifest=False`` (sentinel) loads the manifest; pass a loaded
    manifest (or None) to pin a pre-flip view during maintenance."""
    if manifest is False:
        manifest = _load_manifest(spark, index_dir)
    base = _index_subpath(index_dir, manifest, "vectors")
    raw_roots = (manifest or {}).get("vec_roots") or {}
    if not raw_roots:
        return spark.read.parquet(base)
    roots: dict[int, list[str]] = {
        int(lid): dirs for lid, dirs in raw_roots.items()
    }
    schema = None
    for cand in [base] + [
        f"{index_dir}/{d}" for dirs in sorted(roots.values()) for d in dirs
    ]:
        try:
            schema = spark.read.parquet(cand).schema
            break
        except Exception:
            continue
    if schema is None:
        raise ValueError(f"no readable vectors store under {index_dir}")
    out = spark.read.schema(schema).parquet(base).filter(
        ~F.col("list_id").isin(sorted(roots))
    )
    by_dir: dict[str, list[int]] = {}
    for lid, dirs in roots.items():
        for d in dirs:
            by_dir.setdefault(d, []).append(lid)
    for d, lids in sorted(by_dir.items()):
        branch = spark.read.schema(schema).parquet(
            f"{index_dir}/{d}"
        ).filter(F.col("list_id").isin(sorted(lids)))
        out = out.unionByName(branch)
    return out


def _routed_append(
    spark,
    index_dir: str,
    rows: DataFrame,
    manifest: "dict | None",
    roots_key: str,
    base_name: str,
    gen_prefix: str,
) -> "dict | None":
    """Append list_id-partitioned rows into each list's LIVE root —
    the shared routing behind ivfpq_index_add's codes AND vectors
    appends. Lists absent from the manifest's root map append into the
    default base (model_root-aware); redirected lists append into
    their generation directory; a fully-dropped list (empty root set)
    is re-homed in the newest generation — the one directory
    guaranteed to hold no stale rows for it. Returns the UPDATED root
    map when any list was re-homed (the caller folds it into one
    manifest flip), else None. Cost: the rows materialize once and one
    append runs per distinct target root (live generations + 1, small
    by maintenance policy)."""
    raw_roots = (manifest or {}).get(roots_key) or {}
    base = _index_subpath(index_dir, manifest, base_name)
    if not raw_roots:
        rows.write.mode("append").partitionBy("list_id").parquet(base)
        return None
    roots = dict(raw_roots)
    newest = f"{gen_prefix}{int(manifest.get('generation', 0))}"
    rows = rows.cache()
    try:
        touched = {
            int(r["list_id"])
            for r in rows.select("list_id").distinct().collect()
        }
        target_of: dict[int, str] = {}
        rehomed = False
        for lid in touched:
            dirs = roots.get(str(lid))
            if dirs is None:
                target_of[lid] = base
            elif dirs:
                target_of[lid] = f"{index_dir}/{dirs[-1]}"
            else:
                target_of[lid] = f"{index_dir}/{newest}"
                roots[str(lid)] = [newest]
                rehomed = True
        by_target: dict[str, list[int]] = {}
        for lid, tgt in target_of.items():
            by_target.setdefault(tgt, []).append(lid)
        for tgt, lids in sorted(by_target.items()):
            (
                rows.filter(F.col("list_id").isin(sorted(lids)))
                .write.mode("append")
                .partitionBy("list_id")
                .parquet(tgt)
            )
    finally:
        rows.unpersist()
    return roots if rehomed else None


def ivfpq_index_compact(spark, index_dir: str) -> list[int]:
    """COMPACT half of the delete story, store-agnostic (round 12):
    physically drop tombstoned rows by STAGING the survivors of ONLY
    the affected lists into a fresh generation directory
    (codes_c<gen>/, hive-partitioned by list_id like codes/) and then
    flipping the single-file _MANIFEST to point those lists at the new
    generation. Untouched lists keep their files byte-for-byte; serve
    results are invariant (the anti-join was already hiding the rows);
    the index stops paying the anti-join and the dead bytes.

    Why this shape (the round-11 verdict item): the previous dynamic
    partition overwrite had to localCheckpoint(eager=True) every
    survivor first — the rewrite would otherwise read the very files
    the overwrite deletes — which at 100 TB pins up to the whole index
    in executor storage when tombstones touch most lists, and its
    fully-tombstoned-list cleanup was a driver-side shutil.rmtree that
    assumes a POSIX-visible store. The staging write reads old
    generations and writes a NEW directory, so it needs no checkpoint
    and no deletes at all: the manifest flip is the commit, stale
    directories are unreferenced garbage (reclaim with
    ivfpq_index_gc). Crash-safe too — a failure before the flip leaves
    the old manifest fully live.

    Tombstones are retired engine-side by overwriting tombstones/ with
    an empty relation. Returns the compacted list_ids (bounded by
    n_lists)."""
    tomb = f"{index_dir}/tombstones"
    if not _fs_exists(spark, tomb):
        return []
    t = (
        spark.read.schema("vec_id LONG")
        .parquet(tomb)
        .select("vec_id")
        .distinct()
    )
    codes = _codes_df(spark, index_dir)
    affected = sorted(
        int(r["list_id"])
        for r in codes.join(F.broadcast(t), "vec_id")
        .select("list_id")
        .distinct()
        .collect()
    )
    if affected:
        manifest = _load_manifest(spark, index_dir) or {"generation": 0,
                                                 "roots": {}}
        gen = int(manifest.get("generation", 0)) + 1
        newroot = f"codes_c{gen}"
        (
            codes.filter(F.col("list_id").isin(affected))
            .join(F.broadcast(t), "vec_id", "left_anti")
            .repartition(len(affected), "list_id")
            .write.mode("overwrite")
            .partitionBy("list_id")
            .parquet(f"{index_dir}/{newroot}")
        )
        # which affected lists actually have survivors: read the staged
        # generation back (partition-column distinct over just-written
        # files — engine-side, no driver directory listing)
        survivors = {
            int(r["list_id"])
            for r in spark.read.schema(
                "vec_id LONG, codes ARRAY<LONG>, list_id LONG"
            )
            .parquet(f"{index_dir}/{newroot}")
            .select("list_id")
            .distinct()
            .collect()
        }
        roots = dict(manifest.get("roots", {}))
        for lid in affected:
            roots[str(lid)] = [newroot] if lid in survivors else []
        # the refine store compacts in the SAME generation (round 13,
        # the append-only-vectors fix): survivors of the affected
        # lists' vector partitions stage into vectors_c<gen>/ and the
        # manifest's vec_roots redirects those lists, so a tombstoned
        # id's raw vector is physically unreachable after the flip —
        # a later re-add of the same vec_id can no longer produce a
        # duplicate re-rank candidate in the serve joins.
        vec_roots = None
        if _fs_exists(spark, _index_subpath(index_dir, manifest, "vectors")):
            vnewroot = f"vectors_c{gen}"
            (
                _vectors_df(spark, index_dir, manifest)
                .filter(F.col("list_id").isin(affected))
                .join(F.broadcast(t), "vec_id", "left_anti")
                .repartition(len(affected), "list_id")
                .write.mode("overwrite")
                .partitionBy("list_id")
                .parquet(f"{index_dir}/{vnewroot}")
            )
            try:
                v_survivors = {
                    int(r["list_id"])
                    for r in spark.read.parquet(f"{index_dir}/{vnewroot}")
                    .select("list_id")
                    .distinct()
                    .collect()
                }
            except Exception:
                v_survivors = set()
            vec_roots = dict(manifest.get("vec_roots", {}))
            for lid in affected:
                vec_roots[str(lid)] = (
                    [vnewroot] if lid in v_survivors else []
                )
            spark.catalog.refreshByPath(f"{index_dir}/{vnewroot}")
        # ONE manifest flip commits both stores' redirections; every
        # other key (model_root from a prior retrain, ...) is carried
        # through unchanged
        manifest = dict(manifest)
        manifest["generation"] = gen
        manifest["roots"] = roots
        if vec_roots is not None:
            manifest["vec_roots"] = vec_roots
        _write_manifest(spark, index_dir, manifest)
        spark.catalog.refreshByPath(f"{index_dir}/{newroot}")
    # retire the consumed tombstones ENGINE-side: overwrite with an
    # empty relation (no driver-side deletes of Spark-written data)
    _empty_df(spark, "vec_id LONG").coalesce(1).write.mode(
        "overwrite"
    ).parquet(tomb)
    spark.catalog.refreshByPath(tomb)
    return affected


def ivfpq_index_compact_policy(
    spark, index_dir: str, threshold_milli: int = 40
) -> DataFrame:
    """Auto-compaction TRIGGER policy (round 12): the per-list census
    that decides WHICH lists a maintenance loop should compact — lists
    whose tombstone fraction crosses the threshold. Compaction cost is
    a partition rewrite, so the policy is per-list, not per-index:
    a hot delete pattern concentrated in a few lists compacts those
    lists only.

    One scan of the live codes (vec_id, list_id — the codes column is
    pruned) broadcast-left-joined with the tombstone set into a
    n_lists-row partial agg:

      list_id, n_vectors (live rows incl. tombstoned),
      n_tombstoned, tomb_milli, compact (1 when
      n_tombstoned * 1000 >= n_vectors * threshold_milli)

    The ann_index_stats occupancy census is the same scan shape; this
    adds the tombstone overlay and the decision column."""
    codes = _codes_df(spark, index_dir).select("vec_id", "list_id")
    tomb_dir = f"{index_dir}/tombstones"
    if _fs_exists(spark, tomb_dir):
        t = (
            spark.read.schema("vec_id LONG")
            .parquet(tomb_dir)
            .select("vec_id")
            .distinct()
            .withColumn("_t", F.lit(1))
        )
        codes = codes.join(F.broadcast(t), "vec_id", "left")
    else:
        codes = codes.withColumn("_t", F.lit(None).cast("int"))
    return (
        codes.groupBy("list_id")
        .agg(
            F.count("*").cast("long").alias("n_vectors"),
            F.sum(F.coalesce(F.col("_t"), F.lit(0)))
            .cast("long")
            .alias("n_tombstoned"),
        )
        .select(
            "list_id",
            "n_vectors",
            "n_tombstoned",
            F.floor(
                F.col("n_tombstoned") * 1000 / F.col("n_vectors")
            ).cast("long").alias("tomb_milli"),
            F.when(
                F.col("n_tombstoned") * 1000
                >= F.col("n_vectors") * threshold_milli,
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("int")
            .alias("compact"),
        )
        .orderBy("list_id")
    )


def ivfpq_index_retrain_policy(
    spark,
    index_dir: str,
    imbalance_threshold_milli: int = 1200,
    empty_threshold_milli: int = 125,
) -> DataFrame:
    """RETRAIN trigger policy (round 12) — the index-level counterpart
    of ivfpq_index_compact_policy's per-list decision. Adds and
    deletes drift the live occupancy away from the balance the coarse
    quantizer was trained for; a skewed index probes badly (hot lists
    dominate every query's candidate set) and FAISS's documented
    health signal for it is the imbalance factor
    n_lists * sum(c_i^2) / (sum c_i)^2 (1.0 = perfectly balanced).
    This census computes it EXACTLY in integer milli-units over the
    live rows and flags a retrain when either

      imbalance_milli >= imbalance_threshold_milli, or
      n_empty_lists * 1000 >= n_lists * empty_threshold_milli

    (empty lists are pure recall loss: their probe budget scans
    nothing). One scan of the live codes reading only (vec_id,
    list_id) into an n_lists-bounded partial agg, then a single-row
    exact-integer readout — the poll a maintenance loop runs between
    serves to decide build-from-scratch vs keep-compacting.

    Returns ONE row: n_lists, n_live_lists, n_empty_lists,
    n_live_vectors, imbalance_milli, retrain. A fully-tombstoned index
    (empty live census) reads n_live_vectors = imbalance_milli = 0 and
    fires via the empty-list branch."""
    meta = _index_meta(spark, index_dir)
    if meta is not None and "n_lists" in meta:
        # the TRAINED list count: Lloyd can empty a cluster, so the
        # surviving centroids/ rows may undercount it (the
        # ivfpq_index_add rationale) — trained-but-unpopulated lists
        # ARE the empty-list recall signal this policy reports
        n_lists = int(meta["n_lists"])
    else:
        cids, _, _, _ = _load_index_constants(spark, index_dir)
        n_lists = int(len(cids))
    census = (
        _codes_sans_tombstones(spark, index_dir)
        .groupBy("list_id")
        .agg(F.count("*").cast("long").alias("c"))
    )
    # decimal(38,0) keeps the numerator exact far past int64 (int64
    # wraps silently near 10^19 — reachable at the 100x cohort), and
    # (a - a % b) / b is an exact-multiple decimal division, so the
    # floor quotient carries no rounding anywhere
    agged = census.agg(
        F.lit(n_lists).cast("long").alias("n_lists"),
        F.count("*").cast("long").alias("n_live_lists"),
        (F.lit(n_lists) - F.count("*")).cast("long").alias("n_empty_lists"),
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias(
            "n_live_vectors"
        ),
        (
            F.lit(n_lists).cast("decimal(38,0)")
            * F.sum(
                (F.col("c") * F.col("c")).cast("decimal(38,0)")
            )
            * F.lit(1000)
        ).alias("_imb_num"),
    ).withColumn(
        # nullif: an empty live census must read 0, not throw ANSI
        # divide-by-zero (NULL propagates through % and /, coalesce
        # lands the 0)
        "_imb_den",
        F.expr(
            "nullif(CAST(n_live_vectors AS DECIMAL(38,0))"
            " * CAST(n_live_vectors AS DECIMAL(38,0)), 0)"
        ),
    ).withColumn(
        "imbalance_milli",
        F.coalesce(
            F.expr(
                "CAST((_imb_num - _imb_num % _imb_den) / _imb_den"
                " AS DECIMAL(38,0))"
            ).cast("long"),
            F.lit(0).cast("long"),
        ),
    )
    return agged.select(
        "n_lists",
        "n_live_lists",
        "n_empty_lists",
        "n_live_vectors",
        "imbalance_milli",
        F.when(
            (F.col("imbalance_milli") >= imbalance_threshold_milli)
            | (
                F.col("n_empty_lists") * 1000
                >= F.col("n_lists") * empty_threshold_milli
            ),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("int")
        .alias("retrain"),
    )


def ivfpq_index_retrain(
    spark,
    embeddings: DataFrame,
    index_dir: str,
    m: "int | None" = None,
    n_codes: "int | None" = None,
    n_lists: "int | None" = None,
    max_iter: int = 5,
) -> str:
    """EXECUTE the retrain the policy triggers (round 13): when
    ivfpq_index_retrain_policy fires — add/delete churn has drifted
    live occupancy past the imbalance/empty-list thresholds — build a
    COMPLETELY FRESH index (new coarse quantizer, new codebook, new
    codes, new refine store) over the LIVE rows of the maintained one
    (tombstones excluded, adds included) and swap it in with ONE
    manifest flip, while the old generation keeps serving until that
    instant. FAISS has no in-place answer to quantizer drift either —
    the documented remedy is train a new index and swap; this is that
    swap, lakehouse-style.

    Mechanics (the ivfpq_index_compact staging shape, generalized from
    per-list roots to the whole model):

      1. live ids = codes minus tombstones (the index's single source
         of liveness), semi-joined against the caller's corpus — the
         retrain never trusts a side channel for membership.
      2. ivfpq_build_index writes the new generation into
         gen_r<G>/{centroids,codebook,_META.json,codes}; when the old
         index carried a refine store, ivfpq_store_vectors lands
         gen_r<G>/vectors — all of it UNREFERENCED staging until the
         flip, so every serve path still answers from the old layout
         (asserted in pytest by interleaving serves with the staging
         write).
      3. ONE _MANIFEST flip sets model_root = gen_r<G> and resets
         roots/vec_roots — constants, codes and vectors cut over
         atomically; readers resolve every component through the
         manifest (_index_subpath), so there is no torn state where
         new codes meet old centroids.
      4. tombstones retire AFTER the flip (the new generation encodes
         live rows only, so a stale tombstone anti-join is a no-op —
         a crash between flip and retirement loses nothing).

    Crash-safe at every point: before the flip the staged gen_r<G> is
    garbage (ivfpq_index_gc reclaims it; a re-run overwrites it and
    converges); after the flip the retrain is fully committed. The
    result is bit-equal to a from-scratch ivfpq_build_index over the
    same live rows — same trainer, same seeds convention — which is
    exactly what the oracle replays. Returns the new model root
    (index-relative). Raises on a fully-tombstoned index (no live
    rows to train on — delete the index instead).

    100 TB: the build cost is the from-scratch encode (one Arrow pass
    over live rows, key-repartitioned partitioned write); nothing else
    is rewritten, the flip is one small file, and serving never
    blocks."""
    meta = _index_meta(spark, index_dir) or {}
    m = int(meta["m"]) if m is None else int(m)
    n_codes = int(meta["n_codes"]) if n_codes is None else int(n_codes)
    n_lists = int(meta["n_lists"]) if n_lists is None else int(n_lists)
    manifest = _load_manifest(spark, index_dir) or {
        "generation": 0, "roots": {},
    }
    had_vectors = _fs_exists(
        spark, _index_subpath(index_dir, manifest, "vectors")
    )
    live = embeddings.join(
        _codes_sans_tombstones(spark, index_dir).select("vec_id"),
        "vec_id",
        "left_semi",
    )
    gen = int(manifest.get("generation", 0)) + 1
    stage = f"gen_r{gen}"
    ivfpq_build_index(
        live, f"{index_dir}/{stage}", m=m, n_codes=n_codes,
        n_lists=n_lists, max_iter=max_iter,
    )
    if had_vectors:
        ivfpq_store_vectors(live, f"{index_dir}/{stage}")
    manifest = dict(manifest)
    manifest["generation"] = gen
    manifest["roots"] = {}
    manifest["vec_roots"] = {}
    manifest["model_root"] = stage
    _write_manifest(spark, index_dir, manifest)
    spark.catalog.refreshByPath(f"{index_dir}/{stage}/codes")
    tomb = f"{index_dir}/tombstones"
    if _fs_exists(spark, tomb):
        _empty_df(spark, "vec_id LONG").coalesce(1).write.mode(
            "overwrite"
        ).parquet(tomb)
        spark.catalog.refreshByPath(tomb)
    return stage


def ivfpq_index_churn_recall(
    embeddings: DataFrame,
    index_dir: str,
    n_queries: int = 8,
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """Recall-after-churn report (round 13): the number that justifies
    the retrain policy's threshold. Recall reports exist for FRESH
    indexes (ivf_knn_recall_report, quantization_recall_report); this
    one measures the MAINTAINED index — after add/delete/compact
    cycles have drifted occupancy away from what the frozen quantizer
    was trained for — by comparing its batched ADC serve against the
    exact ground truth on the index's own live rows.

    Per query (the n_queries smallest vec_ids, the batch-serve
    convention): served set = ivfpq_serve_persisted_batch's top-k;
    truth set = exact int64 squared-L2 top-k over LIVE rows (liveness
    = codes minus tombstones, the index's single source of truth —
    never a side-channel predicate). hits = |served ∩ truth|,
    recall_milli = hits * 1000 / k exact-integer. Returns one row per
    query (query_id, hits, recall_milli) — feed the mean alongside
    ivfpq_index_retrain_policy's imbalance census to decide when
    decayed recall, not just skew, warrants the rebuild.

    Plan shape / 100 TB: the served side is the one-scan batched ADC
    plan. The truth side is ONE map-side Arrow pass over the live
    rows against the broadcast n_queries x dim query matrix (numpy
    int64 GEMM — exact), emitting only each Arrow batch's per-query
    top-k partials (global top-k is a subset of their union), so the
    shuffle carries n_batches * n_queries * k scalar rows, never the
    corpus."""
    spark = embeddings.sparkSession
    served = ivfpq_serve_persisted_batch(
        embeddings, index_dir, n_queries=n_queries, k=k, nprobe=nprobe
    ).select("query_id", "vec_id")
    qrows = sorted(
        embeddings.select(
            "vec_id", _quantized_vec(F.col("embedding")).alias("xq")
        )
        .orderBy("vec_id")
        .limit(n_queries)
        .collect(),
        key=lambda r: r["vec_id"],
    )
    qids = np.array([int(r["vec_id"]) for r in qrows], np.int64)
    qmat = np.stack([np.asarray(r["xq"], np.int64) for r in qrows])

    def truth_partials(batches):
        for b in batches:
            x, ids = b["xq"], b["vec_id"]
            out_q, out_v, out_d = [], [], []
            for j in range(len(qids)):
                d2 = ((x - qmat[j][None, :]) ** 2).sum(1)
                mask = ids != qids[j]
                cids_, cd2 = ids[mask], d2[mask]
                take = min(k, len(cids_))
                if not take:
                    continue
                part = np.argpartition(cd2, take - 1)[:take]
                out_q.append(np.full(take, qids[j], np.int64))
                out_v.append(cids_[part])
                out_d.append(cd2[part])
            if out_q:
                yield {
                    "query_id": np.concatenate(out_q),
                    "vec_id": np.concatenate(out_v),
                    "d2": np.concatenate(out_d),
                }

    live = embeddings.join(
        _codes_sans_tombstones(spark, index_dir).select("vec_id"),
        "vec_id",
        "left_semi",
    ).select("vec_id", _quantized_vec(F.col("embedding")).alias("xq"))
    w = Window.partitionBy("query_id").orderBy("d2", "vec_id")
    truth = (
        map_batches(
            live, truth_partials, "query_id LONG, vec_id LONG, d2 LONG"
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "vec_id")
    )
    qdf = _tiny_df(spark, [(int(q),) for q in qids], "query_id LONG")
    hits = served.join(truth, ["query_id", "vec_id"]).groupBy(
        "query_id"
    ).agg(F.count("*").cast("long").alias("hits"))
    return (
        qdf.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"),
            F.expr(f"coalesce(hits, 0) * 1000 DIV {int(k)}")
            .cast("long")
            .alias("recall_milli"),
        )
        .orderBy("query_id")
    )


def ivfpq_index_gc(spark, index_dir: str) -> list[str]:
    """Optional space reclamation for maintained indexes: delete what
    the _MANIFEST no longer references — each compacted list's stale
    list_id=N partition files, superseded codes_c*/vectors_c*
    generations, orphaned staging from a crashed maintenance run, and
    (after a retrain) the entire pre-retrain layout plus older gen_r*
    trees. Correctness NEVER depends on this — readers resolve only
    manifest-referenced directories — so gc can run never, rarely, or
    from a cron, and a crash mid-gc loses nothing. Uses the Hadoop
    FileSystem API through the live JVM, so it works against whatever
    store the index lives on (HDFS, S3A, local), not just a POSIX
    path. Returns the deleted entries (index-relative)."""
    manifest = _load_manifest(spark, index_dir)
    fs, root = _hfs(spark, index_dir)
    if not fs.exists(root):
        return []
    mr = _model_root(manifest)
    referenced: set[str] = set()
    for key in ("roots", "vec_roots"):
        for dirs in ((manifest or {}).get(key) or {}).values():
            referenced.update(dirs)
    deleted: list[str] = []
    surviving_gens: list[str] = []
    for st in fs.listStatus(root):
        base = st.getPath().getName()
        if base == "_MANIFEST.json.tmp" and _fs_exists(
            spark, f"{index_dir}/_MANIFEST.json"
        ):
            # consumed (or superseded) flip temp — _load_manifest only
            # consults it while the manifest FILE itself is missing,
            # so it is garbage precisely when that file exists
            fs.delete(st.getPath(), False)
            deleted.append(base)
            continue
        if not st.isDirectory():
            continue
        if base.startswith("gen_r"):
            if base != mr:
                # superseded model generation, or staging orphaned by
                # a retrain that crashed before its flip
                fs.delete(st.getPath(), True)
                deleted.append(base)
            continue
        if mr and base in ("codes", "vectors", "centroids", "codebook"):
            # pre-retrain layout, fully superseded by the model root
            fs.delete(st.getPath(), True)
            deleted.append(base)
            continue
        if base.startswith("codes_c") or base.startswith("vectors_c"):
            if base not in referenced:
                # generation no newer root map mentions: every list it
                # held has moved on (or it never committed)
                fs.delete(st.getPath(), True)
                deleted.append(base)
            else:
                surviving_gens.append(base)
    if mr and _fs_exists(spark, f"{index_dir}/_META.json"):
        fs.delete(spark._jvm.org.apache.hadoop.fs.Path(
            f"{index_dir}/_META.json"
        ), False)
        deleted.append("_META.json")
    # stale per-list partitions inside still-live roots: a list
    # redirected to a generation leaves its old files under the
    # default base (and under older generations that still serve
    # OTHER lists)
    for key, default_rel, prefix in (
        ("roots", f"{mr}/codes" if mr else "codes", "codes_c"),
        ("vec_roots", f"{mr}/vectors" if mr else "vectors", "vectors_c"),
    ):
        compacted = {
            int(lid): set(dirs)
            for lid, dirs in (((manifest or {}).get(key)) or {}).items()
        }
        if not compacted:
            continue
        bases = [default_rel] + [
            b for b in surviving_gens if b.startswith(prefix)
        ]
        for base_rel in bases:
            bpath = spark._jvm.org.apache.hadoop.fs.Path(
                f"{index_dir}/{base_rel}"
            )
            if not fs.exists(bpath):
                continue
            for part in fs.listStatus(bpath):
                name = part.getPath().getName()
                if not name.startswith("list_id="):
                    continue
                lid = int(name.split("=", 1)[1])
                if lid in compacted and base_rel not in compacted[lid]:
                    fs.delete(part.getPath(), True)
                    deleted.append(f"{base_rel}/{name}")
    return sorted(deleted)


def ivfpq_serve_persisted(
    embeddings: DataFrame,
    index_dir: str,
    query_vec_id: int = 0,
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """SERVE half: load the persisted index and answer the query with
    a PURE-CATALYST plan — no Python in the serving path. The trained
    constants (centroids + codebook, 24 rows) load to the driver; the
    query's per-probed-list ADC LUT (nprobe x m x n_codes rows)
    broadcasts; the plan is

      scan codes/ (PartitionFilters: list_id IN probed)
        -> posexplode(codes) -> BroadcastHashJoin LUT
        -> partial-agg SUM per vec_id -> TakeOrdered k

    so serving reads nprobe/n_lists of the index bytes and shuffles
    only (vec_id, partial sums). Result rows are bit-identical to
    ann_ivfpq_trained — asserted in pytest and shared with its SQL
    oracle."""
    spark = embeddings.sparkSession
    cids, cmat, cb, n_codes = _load_index_constants(spark, index_dir)
    m = _index_m(spark, index_dir)
    qrows = (
        embeddings.filter(F.col("vec_id") == query_vec_id)
        .select(_quantized_vec(F.col("embedding")).alias("xq"))
        .take(1)
    )
    if not qrows:
        raise ValueError(
            f"query_vec_id {query_vec_id} is not present in the corpus"
        )
    q = np.asarray(qrows[0]["xq"], np.int64)
    probe_order = ivfpq.probe(q, cmat, cids, nprobe)

    # LUT relation: one row per (list_id, s, code_id) with the exact
    # int64 partial distance — the broadcast side of the serve join
    lut_rows = []
    for pi in probe_order:
        lut = ivfpq.adc_lut(q - cmat[pi], cb, m)
        for s in range(m):
            for j in range(n_codes):
                lut_rows.append((int(cids[pi]), s, j, int(lut[s, j])))
    lut = _tiny_df(
        spark, lut_rows, "list_id LONG, s INT, code_id LONG, d LONG"
    )

    codes = _codes_sans_tombstones(spark, index_dir).filter(
        F.col("list_id").isin([int(cids[i]) for i in probe_order])
        & (F.col("vec_id") != query_vec_id)
    )
    exploded = codes.select(
        "vec_id",
        "list_id",
        F.posexplode("codes").alias("s", "code_id"),
    )
    topk = (
        exploded.join(F.broadcast(lut), ["list_id", "s", "code_id"])
        .groupBy("vec_id")
        .agg(F.sum("d").alias("adc_d2"))
        .orderBy("adc_d2", "vec_id")
        .limit(k)
    )
    w = Window.orderBy("adc_d2", "vec_id")
    return topk.select(
        F.row_number().over(w).cast("int").alias("rank"),
        "vec_id",
        F.col("adc_d2").cast("long").alias("adc_d2"),
    )


def ivfpq_serve_persisted_batch(
    embeddings: DataFrame,
    index_dir: str,
    n_queries: int = 8,
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """BATCHED serving over the persisted index (round 11) — the
    production shape unifying ann_ivfpq_batch (one Arrow pass, whole
    query batch) with ivfpq_serve_persisted (pure-Catalyst plan over
    the partition-pruned codes/): N queries answered in ONE plan.

    The query set is the n_queries smallest vec_ids (the
    ann_ivfpq_batch convention). Per query, the driver computes the
    probe ranking and the exact-int64 ADC LUT from the k + n_codes
    trained constants; the LUT relation is keyed by query_id —
    n_queries x nprobe x m x n_codes rows, still broadcast-sized.
    The plan is

      scan codes/ (PartitionFilters: list_id IN union-of-probed)
        -> posexplode(codes)
        -> BroadcastHashJoin LUT on (list_id, s, code_id)
             [fans each code row out to the queries probing its list]
        -> partial-agg SUM per (query_id, vec_id)
        -> per-query window rank <= k

    so the index is scanned ONCE for the whole batch — serving cost
    tracks the union of probed lists, not n_queries x corpus — and
    each query's rows are bit-identical to its single
    ivfpq_serve_persisted serve (asserted in pytest). Tombstoned ids
    are anti-joined out like the single serve."""
    spark = embeddings.sparkSession
    cids, cmat, cb, n_codes = _load_index_constants(spark, index_dir)
    m = _index_m(spark, index_dir)
    qrows = sorted(
        embeddings.select(
            "vec_id", _quantized_vec(F.col("embedding")).alias("xq")
        )
        .orderBy("vec_id")
        .limit(n_queries)
        .collect(),
        key=lambda r: r["vec_id"],
    )
    if not qrows:
        raise ValueError("empty corpus: no query vectors to serve")
    lut_rows, probed_union = _ivfpq_batch_lut(
        qrows, cids, cmat, cb, n_codes, m, nprobe
    )
    return _ivfpq_serve_lut(spark, index_dir, lut_rows, probed_union, k)


def _ivfpq_batch_lut(qrows, cids, cmat, cb, n_codes: int, m: int, nprobe: int):
    """Driver-side LUT construction for a batch of query rows
    ((vec_id, xq) Rows): per query, exact-int64 probe ranking and
    per-(list, subspace, code) ADC partials. Returns (lut_rows,
    probed_union) — the broadcast side of the serve join. Shared by
    the batch serve and the streaming per-micro-batch serve."""
    lut_rows = []
    probed_union: set[int] = set()
    for qr in qrows:
        qid = int(qr["vec_id"])
        q = np.asarray(qr["xq"], np.int64)
        for pi in ivfpq.probe(q, cmat, cids, nprobe):
            probed_union.add(int(cids[pi]))
            lut = ivfpq.adc_lut(q - cmat[pi], cb, m)
            for s in range(m):
                for j in range(n_codes):
                    lut_rows.append((qid, int(cids[pi]), s, j, int(lut[s, j])))
    return lut_rows, probed_union


def _ivfpq_serve_lut(
    spark, index_dir: str, lut_rows, probed_union, k: int
) -> DataFrame:
    """The pure-Catalyst serve plan over a prebuilt query-keyed LUT:
    partition-pruned codes scan (union of probed lists) -> posexplode
    -> BroadcastHashJoin -> partial-agg ADC -> per-query window rank
    <= k."""
    lut = _tiny_df(
        spark, lut_rows, "query_id LONG, list_id LONG, s INT, code_id LONG, d LONG"
    )
    codes = _codes_sans_tombstones(spark, index_dir).filter(
        F.col("list_id").isin(sorted(probed_union))
    )
    exploded = codes.select(
        "vec_id",
        "list_id",
        F.posexplode("codes").alias("s", "code_id"),
    )
    scored = (
        exploded.join(F.broadcast(lut), ["list_id", "s", "code_id"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d").alias("adc_d2"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_d2", "vec_id")
    return (
        scored.select(
            "query_id",
            F.row_number().over(w).cast("int").alias("rank"),
            "vec_id",
            F.col("adc_d2").cast("long").alias("adc_d2"),
        )
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def ivfpq_serve_refine_persisted_batch(
    embeddings: DataFrame,
    index_dir: str,
    n_queries: int = 8,
    k: int = 10,
    refine_factor: int = 4,
    nprobe: int = 2,
) -> DataFrame:
    """BATCHED two-stage serving (round 12): N queries' ADC shortlists
    from ONE partition-pruned codes/ scan (the ivfpq_serve_persisted_
    batch plan kept to k * refine_factor per query), then ONE
    partition-pruned vectors/ scan re-ranks every query's shortlist by
    exact int64 L2 against its broadcast query vector. Per-query rows
    are bit-identical to ivfpq_serve_refine_persisted (asserted in
    pytest); the whole batch reads each store once."""
    spark = embeddings.sparkSession
    cids, cmat, cb, n_codes = _load_index_constants(spark, index_dir)
    m = _index_m(spark, index_dir)
    qrows = sorted(
        embeddings.select(
            "vec_id", _quantized_vec(F.col("embedding")).alias("xq")
        )
        .orderBy("vec_id")
        .limit(n_queries)
        .collect(),
        key=lambda r: r["vec_id"],
    )
    if not qrows:
        raise ValueError("empty corpus: no query vectors to serve")
    lut_rows, probed_union = _ivfpq_batch_lut(
        qrows, cids, cmat, cb, n_codes, m, nprobe
    )
    short = _ivfpq_serve_lut(
        spark, index_dir, lut_rows, probed_union, k * refine_factor
    ).select("query_id", "vec_id", "adc_d2")
    qv = _tiny_df(
        spark,
        [(int(r["vec_id"]), [int(x) for x in r["xq"]]) for r in qrows],
        "query_id LONG, qxq ARRAY<LONG>",
    )
    vectors = _vectors_df(spark, index_dir).filter(
        F.col("list_id").isin(sorted(probed_union))
    )
    rer = (
        vectors.join(F.broadcast(short), "vec_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn(
            "exact_d2",
            F.aggregate(
                F.zip_with(
                    F.col("xq"), F.col("qxq"), lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy("exact_d2", "vec_id")
    return (
        rer.select(
            "query_id",
            F.row_number().over(w).cast("int").alias("rank"),
            "vec_id",
            F.col("adc_d2").cast("long").alias("adc_d2"),
            F.col("exact_d2").cast("long").alias("exact_d2"),
        )
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )
