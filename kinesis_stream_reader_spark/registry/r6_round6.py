"""Registry slice: ROUND 6 additions — progressive JPEG (SOF2) decode
completing the T.81 Huffman family, FLAC lossless audio decode, and the
streaming SPRT monitor twin of the batch sequential test."""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403
from ..operators import tiny_df
from ..operators.rowmap import doc_id_seed, map_rows
from ._shared import _FLAT_COLS, _nested_events  # noqa: F401


# ---------------------------------------------------------------------------
# ROUND 6 — progressive JPEG: spectral-selection + successive-
# approximation scans (T.81 G.1.2) over the round-5 Huffman/IDCT
# machinery. The fixture is compressed-domain like the baseline leg —
# DC-only reconstruction lands exactly on dc+128 and both AC probes
# (zigzag-1 = 1, zigzag-9 = 2, Q=1) stay cos-bounded under 0.5 and
# round away — so the ORACLE IS THE SAME closed pixel formula as
# multimodal_jpeg_decode; what changes is the wire path being decoded:
# 6 scans (interleaved DC first Al=1, per-component AC bands 1-5 and
# 6-63 with EOBRUN chains, DC refinement bits, AC refinement with
# newly-significant runs + correction bits).
# ---------------------------------------------------------------------------
@register(
    "multimodal_jpeg_progressive_decode",
    """
WITH dims AS (
  SELECT doc_id, 8 * (2 + doc_id % 3) AS w, 8 * (2 + doc_id % 2) AS h
  FROM documents
), px AS (
  SELECT doc_id, w, h,
         ((p.p // w) // 8) * (w // 8) + (p.p % w) // 8 AS b
  FROM dims, LATERAL (SELECT UNNEST(range(w * h)) AS p) p
), ycc AS (
  SELECT doc_id, w, h,
         (128 + (doc_id * 7 + 13 * b) % 120 - 60)::DOUBLE AS y,
         (128 + (doc_id * 5 + 11 * b) % 40 - 20)::DOUBLE AS cb,
         (128 + (doc_id * 3 + 17 * b) % 40 - 20)::DOUBLE AS cr
  FROM px
), rgb AS (
  SELECT doc_id, w, h,
         GREATEST(0, LEAST(255, FLOOR(y + 1.402 * (cr - 128.0) + 0.5))) AS r,
         GREATEST(0, LEAST(255, FLOOR(y - 0.344136 * (cb - 128.0)
                                        - 0.714136 * (cr - 128.0) + 0.5))) AS g,
         GREATEST(0, LEAST(255, FLOOR(y + 1.772 * (cb - 128.0) + 0.5))) AS bb
  FROM ycc
)
SELECT doc_id, ANY_VALUE(w)::INT AS width, ANY_VALUE(h)::INT AS height,
       3 AS channels,
       ROUND(SUM(r + g + bb) / (3.0 * ANY_VALUE(w) * ANY_VALUE(h)), 4)
         AS byte_mean
FROM rgb GROUP BY doc_id ORDER BY doc_id
""",
)
def multimodal_jpeg_progressive_decode_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL progressive (SOF2) JPEG decode executing in-sandbox
    (multimodal.decode_jpeg + _progressive_scan): coefficients
    accumulate across 6 spectral-selection / successive-approximation
    scans — DC first (point transform Al=1), per-component AC first
    passes over bands 1-5 and 6-63 with EOBRUN skips, DC refinement
    raw bits, AC refinement with newly-significant runs and buffered
    correction bits — then ONE dequant+IDCT+JFIF finish at EOI. The
    codec most real web-crawl JPEGs need (progressive dominates crawl
    data), closing the round-5 gate at multimodal.decode_jpeg.

    Plan shape / 100 TB: identical to multimodal_jpeg_decode — decode
    is map-side Arrow-batched over the binary payload; only (doc_id,
    dims, mean) ever shuffles."""
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    return multimodal.image_decode_features(
        multimodal.synthetic_progressive_jpeg_media(docs)
    )


# ---------------------------------------------------------------------------
# ROUND 6 — FLAC: lossless compressed audio joins the REAL-codec family
# (WAV/y4m/JPEG/PNG/BMP/GIF). Unlike MP3/AAC there is no float
# transform — Rice-coded residuals + integer predictors reconstruct
# samples EXACTLY, so the fixture formulas are the oracle.
# ---------------------------------------------------------------------------
@register(
    "multimodal_flac_decode",
    # closed-form stereo PCM per doc; lossless decode must return the
    # formulas bit-exactly, so the oracle recomputes them directly
    """
WITH s AS (
  SELECT doc_id, 64 + 32 * (doc_id % 3) AS n FROM documents
), samp AS (
  SELECT doc_id, n, j.j AS j,
         ((doc_id * 13 + j.j * 31) % 65536) - 32768 AS l,
         ((doc_id * 7 + j.j * 17) % 65536) - 32768 AS r
  FROM s, LATERAL (SELECT UNNEST(range(n)) AS j) j
)
SELECT doc_id, 8000 AS sample_rate, ANY_VALUE(n)::BIGINT AS n_samples,
       SUM(ABS(l))::BIGINT AS sum_abs_l, SUM(ABS(r))::BIGINT AS sum_abs_r,
       MAX(CASE WHEN j = 0 THEN l END)::BIGINT AS first_l
FROM samp GROUP BY doc_id ORDER BY doc_id
""",
)
def multimodal_flac_decode_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL FLAC decode executing in-sandbox (multimodal.decode_flac):
    STREAMINFO walk, frame headers with CRC-8 verify, CONSTANT /
    VERBATIM / FIXED(0-4) / LPC subframes, partitioned Rice residual
    decode, all four stereo decorrelation modes, frame CRC-16 verify.
    The fixture corpus rotates every subframe type and stereo mode so
    each decode path is exercised on the wire.

    Plan shape / 100 TB: decode is map-side Arrow-batched over binary
    payloads; only per-doc integer scalars shuffle."""
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    return multimodal.flac_decode_features(
        multimodal.synthetic_flac_media(docs)
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# ROUND 6 — interlaced GIF + local color tables, closing the two r5
# GIF gates. byte_mean is permutation-invariant, so this leg verifies
# with a POSITION-WEIGHTED checksum that any de-interlace mistake
# changes; even doc_ids carry a rotated LOCAL table that must override
# the global one (idx -> (idx+16) % 256).
# ---------------------------------------------------------------------------
@register(
    "multimodal_gif_interlaced_decode",
    """
WITH dims AS (
  SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 3 AS h FROM documents
), px AS (
  SELECT doc_id, w, h, i.i AS p,
         CASE WHEN doc_id % 2 = 0
              THEN ((doc_id * 7 + i.i) % 256 + 16) % 256
              ELSE (doc_id * 7 + i.i) % 256 END AS idx
  FROM dims, LATERAL (SELECT UNNEST(range(w * h)) AS i) i
)
SELECT doc_id, ANY_VALUE(w)::INT AS width, ANY_VALUE(h)::INT AS height,
       SUM((p + 1) * (idx + 2 * ((idx * 3) % 256) + 3 * ((idx * 7) % 256)))
         ::BIGINT AS checksum
FROM px GROUP BY doc_id ORDER BY doc_id
""",
)
def multimodal_gif_interlaced_decode_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL interlaced-GIF decode with local-color-table override
    (multimodal.decode_gif, round 6): the 4-pass interlace row
    permutation is inverted after LZW decode, and even doc_ids'
    images carry a 256-entry LOCAL table (the formula palette rotated
    16 entries) that per spec overrides the global table. Verified by
    a position-weighted checksum — de-interlacing errors and
    table-precedence errors both break it, where a byte mean would
    not. Map-side Arrow decode; scalar-only shuffle."""
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    return multimodal.image_decode_checksum(
        multimodal.synthetic_gif_interlaced_media(docs)
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# ROUND 6 — G.711 mu-law/A-law expansion (ITU-T public spec): the
# classic 8-bit log-PCM telephony codecs. Decode is a stateless
# closed integer formula per byte, so the oracle replays it in SQL
# over the fixture byte formula directly.
# ---------------------------------------------------------------------------
@register(
    "multimodal_g711_decode",
    """
WITH s AS (
  SELECT doc_id, 128 + 64 * (doc_id % 2) AS n,
         CASE WHEN doc_id % 2 = 0 THEN 'ulaw' ELSE 'alaw' END AS law
  FROM documents
), b AS (
  SELECT doc_id, n, law, j.j AS j, (doc_id * 11 + j.j * 7) % 256 AS code
  FROM s, LATERAL (SELECT UNNEST(range(n)) AS j) j
), pcm AS (
  SELECT doc_id, law, n, j,
         CASE WHEN law = 'ulaw' THEN
           CASE WHEN (255 - code) >= 128 THEN -1 ELSE 1 END *
           ((((255 - code) % 16) * 8 + 132)
            * (1 << (((255 - code) // 16) % 8)) - 132)
         ELSE
           CASE WHEN xor(code, 85) >= 128 THEN 1 ELSE -1 END *
           (CASE WHEN ((xor(code, 85) // 16) % 8) = 0
                 THEN (xor(code, 85) % 16) * 16 + 8
                 ELSE ((xor(code, 85) % 16) * 16 + 264)
                      * (1 << (((xor(code, 85) // 16) % 8) - 1)) END)
         END AS v
  FROM b
)
SELECT doc_id, ANY_VALUE(law) AS law, ANY_VALUE(n)::BIGINT AS n_samples,
       SUM(ABS(v))::BIGINT AS sum_abs,
       MAX(CASE WHEN j = 0 THEN v END)::BIGINT AS first_pcm
FROM pcm GROUP BY doc_id ORDER BY doc_id
""",
)
def multimodal_g711_decode_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL G.711 expansion executing in-sandbox
    (multimodal.g711_decode): mu-law for even doc_ids, A-law for odd,
    vectorized numpy over Arrow batches. The exact integer expansion
    formulas (sign/segment/mantissa with the 0x84 bias and the 0x55
    toggle) are mirrored bit-for-bit by the DuckDB oracle.

    Plan shape / 100 TB: stateless per-byte expansion, map-only;
    per-doc scalars shuffle."""
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    return multimodal.g711_decode_features(
        multimodal.synthetic_g711_media(docs)
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# ROUND 6 — baseline TIFF (6.0 public spec): both byte orders, IFD tag
# walk, multi-strip uncompressed chunky RGB — the seventh real image
# container, closing decode_image's TIFF gate. Verified by the
# position-weighted checksum (strip mis-assembly is invisible to a
# byte mean).
# ---------------------------------------------------------------------------
@register(
    "multimodal_tiff_decode",
    """
WITH dims AS (
  SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 3 AS h FROM documents
), px AS (
  SELECT doc_id, w, h, i.i AS p,
         (doc_id * 7 + 3 * i.i) % 256 AS r,
         (doc_id * 7 + 3 * i.i + 1) % 256 AS g,
         (doc_id * 7 + 3 * i.i + 2) % 256 AS b
  FROM dims, LATERAL (SELECT UNNEST(range(w * h)) AS i) i
)
SELECT doc_id, ANY_VALUE(w)::INT AS width, ANY_VALUE(h)::INT AS height,
       SUM((p + 1) * (r + 2 * g + 3 * b))::BIGINT AS checksum
FROM px GROUP BY doc_id ORDER BY doc_id
""",
)
def multimodal_tiff_decode_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-TIFF decode (multimodal.decode_tiff): byte order
    rotates per doc (II little / MM big), rows-per-strip rotates 1-4
    so single- and multi-strip layouts both appear; pixels follow the
    PPM leg's formula byte i = (doc_id*7 + i) % 256. Map-side Arrow
    decode; scalar-only shuffle."""
    import numpy as np

    from ..operators import multimodal

    def encode(d):
        w, h = 8 + d % 5, 6 + d % 3
        pix = (d * 7 + np.arange(w * h * 3)) % 256
        blob = multimodal.encode_tiff(
            pix.astype(np.uint8).reshape(h, w, 3),
            big_endian=bool(d % 2),
            rows_per_strip=1 + d % 4,
        )
        return [(d, blob)]

    docs = load_table(spark, sf_dir, "documents")
    media = map_rows(doc_id_seed(docs), encode, multimodal.MEDIA_SCHEMA)
    return multimodal.image_decode_checksum(media).orderBy("doc_id")


# ---------------------------------------------------------------------------
# ROUND 6 — hubness report (Radovanovic et al. 2010, public method):
# the k-occurrence distribution N_k(x) = how often x appears in other
# vectors' exact top-k. High-dimensional embedding spaces grow HUBS
# (N_k >> k) and antihubs (N_k = 0), which silently skew kNN-based
# dedup/retrieval — this is the diagnostic that says whether the
# space is usable before building on it. Rides the shared exact-kNN
# block-GEMM kernel (the documented quadratic diagnostic; IVF pruning
# is the scale path).
# ---------------------------------------------------------------------------
def _hubness_oracle() -> str:
    from .r3_curation_graph import _KNN_TOPK_CTE

    return _KNN_TOPK_CTE + """
, occ AS (
  SELECT e.vec_id, COUNT(k.neighbor_id) AS n_k
  FROM embeddings e LEFT JOIN knn k ON k.neighbor_id = e.vec_id
  GROUP BY e.vec_id
)
SELECT n_k::BIGINT AS k_occurrence, COUNT(*)::BIGINT AS n_vectors
FROM occ GROUP BY n_k ORDER BY n_k
"""


@register("hubness_report", _hubness_oracle())
def hubness_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-occurrence histogram of the exact kNN graph (k=5): bucket 0
    counts the ANTIHUBS (vectors no one retrieves), the tail counts
    the hubs; the mean is k by construction, so mass shifting into the
    tail is pure hubness. Composes the block-grid GEMM kNN kernel with
    one count + one histogram aggregate.

    Plan shape / 100 TB: inherits knn_graph's documented exact-kNN
    envelope (blocks^2 GEMM tasks; IVF-pruned grid is the production
    path); downstream is two long-keyed partial aggs."""
    from ..operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    knn = similarity.knn_graph(emb)
    # LEFT join keeps antihubs; count(nid) counts matched rows only
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


# ---------------------------------------------------------------------------
# ROUND 6 — coreset sensitivity selection (Bachem/Lucic/Krause line of
# work, public method): score every vector by its squared distance to
# the nearest of 8 broadcast seeds — the sensitivity upper bound that
# importance-samples coresets for k-means — and keep the
# deterministic top-64 (the outlier-biased prefix; a randomized
# sampler would draw ∝ the same weights). The data-selection
# counterpart of kcenter_init: one pass, no iterations.
# ---------------------------------------------------------------------------
@register(
    "coreset_sensitivity_select",
    # 1e-3 quantized ints (the cluster_silhouette convention) make
    # d^2 exact; weights are N * d2min / total, floored 1e-6
    """
WITH q AS (
  SELECT vec_id, d.i AS d,
         CAST(FLOOR(CAST(embedding[d.i + 1] AS DOUBLE) * 1000 + 0.5)
              AS BIGINT) AS xv
  FROM embeddings, LATERAL (SELECT UNNEST(range(len(embedding))) AS i) d
), seeds AS (
  SELECT vec_id AS sid, d, xv AS sv FROM q
  WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 8)
), d2 AS (
  SELECT q.vec_id, s.sid, SUM((q.xv - s.sv) * (q.xv - s.sv))::BIGINT AS dd
  FROM q JOIN seeds s ON s.d = q.d
  GROUP BY q.vec_id, s.sid
), best AS (
  SELECT vec_id, MIN(dd)::BIGINT AS d2min FROM d2 GROUP BY vec_id
), tot AS (
  SELECT SUM(d2min) AS total, COUNT(*) AS n FROM best
)
SELECT vec_id, d2min,
       FLOOR(CAST(b.d2min AS DOUBLE) * t.n / t.total * 1e6 + 0.5) / 1e6
         AS sensitivity_weight
FROM best b, tot t
ORDER BY d2min DESC, vec_id LIMIT 64
""",
)
def coreset_sensitivity_select_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sensitivity-based coreset selection for the embedding corpus:
    the 8 smallest vec_ids are the broadcast seed set (deterministic,
    training-free); every vector's d^2 to its nearest seed is its
    k-means sensitivity upper bound, and the top-64 by (d2min, vec_id)
    are the kept coreset prefix with importance weights
    N * d2min / sum(d2min). Under-covered regions (far from every
    seed) are exactly what the selection keeps — the principle behind
    coreset constructions and hard-example mining alike.

    Determinism: 1e-3 quantized coordinates make every distance an
    exact integer; the ordering key (d2min DESC, vec_id) is total.

    Plan shape / 100 TB: seeds broadcast (8 x dim); d^2 is one
    dim-keyed join + partial agg per (vector, seed) — 8x the scan,
    never vector x vector; TakeOrderedAndProject keeps 64 rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.posexplode("embedding").alias("d", "x"),
    ).select(
        "vec_id",
        "d",
        F.floor(F.col("x").cast("double") * 1000 + F.lit(0.5))
        .cast("long")
        .alias("xv"),
    )
    seed_ids = emb.select("vec_id").orderBy("vec_id").limit(8)
    seeds = q.join(
        F.broadcast(seed_ids.select(F.col("vec_id").alias("sid"))),
        F.col("vec_id") == F.col("sid"),
    ).select("sid", "d", F.col("xv").alias("sv"))
    d2 = (
        q.join(F.broadcast(seeds), "d")
        .groupBy("vec_id", "sid")
        .agg(
            F.sum((F.col("xv") - F.col("sv")) * (F.col("xv") - F.col("sv"))).alias(
                "dd"
            )
        )
    )
    best = d2.groupBy("vec_id").agg(F.min("dd").cast("long").alias("d2min"))
    tot = best.agg(F.sum("d2min").alias("total"), F.count("*").alias("n"))
    return (
        best.crossJoin(F.broadcast(tot))
        .select(
            "vec_id",
            "d2min",
            (
                F.floor(
                    F.col("d2min").cast("double")
                    * F.col("n")
                    / F.col("total")
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("sensitivity_weight"),
        )
        .orderBy(F.col("d2min").desc(), "vec_id")
        .limit(64)
    )


# ---------------------------------------------------------------------------
# ROUND 6 — Morton-curve embedding sharding (public technique:
# Z-order / bit-interleaved space-filling curves for locality-
# preserving range partitioning — the vector-DB sharding layout next
# to the IVF list assignment). Each vector's first 8 dims quantize to
# 4 bits; interleaving gives a 32-bit Morton code whose TOP bits
# define the shard, so nearby vectors land in the same shard without
# any training step (vs k-means IVF). The report scores each shard's
# locality by the exact-integer dot of every member against the shard
# SUM vector.
# ---------------------------------------------------------------------------
@register(
    "embedding_morton_shards",
    # quantize -> interleave bits -> top-4-bit shard -> per-shard census
    # + locality = sum_v (q_v . S_shard) in exact ints, 1e-6-floored
    # after the n^2 normalization
    """
WITH q AS (
  SELECT vec_id, d.i AS d,
         GREATEST(0, LEAST(15,
           CAST(FLOOR((CAST(embedding[d.i + 1] AS DOUBLE) + 1.0) * 8.0)
                AS BIGINT))) AS qv
  FROM embeddings, LATERAL (SELECT UNNEST(range(8)) AS i) d
), morton AS (
  SELECT vec_id,
         SUM(((qv // 1) % 2) * (1 << (0 * 8 + d))
             + ((qv // 2) % 2) * (1 << (1 * 8 + d))
             + ((qv // 4) % 2) * (1 << (2 * 8 + d))
             + ((qv // 8) % 2) * (1 << (3 * 8 + d)))::BIGINT AS code
  FROM q GROUP BY vec_id
), shards AS (
  SELECT vec_id, code, code >> 28 AS shard FROM morton
), sums AS (
  SELECT s.shard, q.d, SUM(q.qv)::BIGINT AS sd, COUNT(DISTINCT q.vec_id) AS n
  FROM shards s JOIN q USING (vec_id) GROUP BY s.shard, q.d
), loc AS (
  SELECT s.shard, SUM(q.qv * su.sd)::BIGINT AS dot_sum,
         ANY_VALUE(su.n) AS n
  FROM shards s JOIN q USING (vec_id)
  JOIN sums su ON su.shard = s.shard AND su.d = q.d
  GROUP BY s.shard
)
SELECT shard::BIGINT AS shard, n::BIGINT AS n_vectors,
       dot_sum,
       FLOOR(CAST(dot_sum AS DOUBLE) / (CAST(n AS DOUBLE) * n) * 1e6 + 0.5)
         / 1e6 AS locality
FROM loc ORDER BY shard
""",
)
def embedding_morton_shards_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order sharding for the embedding corpus: 4-bit quantization of
    the leading 8 dims, bit interleave to a 32-bit Morton code, shard =
    top 4 code bits (16 shards). Training-free locality-preserving
    range partitioning — at billion scale the shard key IS the sort/
    bucketing key, so co-located ANN probes stay intra-shard; the
    locality column (mean member-dot-shard-sum / n^2) quantifies how
    much cosine mass the curve kept together.

    Determinism: quantization, bit interleave and dot sums are exact
    integers; only the final normalization touches IEEE, floored 1e-6.

    Plan shape / 100 TB: the (vec, dim) explode is map-side; codes are
    one partial agg per vector; shard sums and locality are two
    shard-keyed partial-agg shuffles carrying longs. Linear, no
    training iterations (the contrast with kmeans/IVF)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.posexplode(F.slice("embedding", 1, 8)).alias("d", "x"),
    ).select(
        "vec_id",
        "d",
        F.greatest(
            F.lit(0),
            F.least(
                F.lit(15),
                F.floor((F.col("x").cast("double") + 1.0) * 8.0).cast("long"),
            ),
        ).alias("qv"),
    )
    bit = lambda b: (F.col("qv") / (1 << b)).cast("long") % 2  # noqa: E731
    morton = q.groupBy("vec_id").agg(
        F.sum(
            bit(0) * F.lit(1) * F.pow(F.lit(2.0), F.col("d")).cast("long")
            + bit(1) * F.pow(F.lit(2.0), F.col("d") + 8).cast("long")
            + bit(2) * F.pow(F.lit(2.0), F.col("d") + 16).cast("long")
            + bit(3) * F.pow(F.lit(2.0), F.col("d") + 24).cast("long")
        )
        .cast("long")
        .alias("code")
    )
    shards = morton.select(
        "vec_id", F.shiftright(F.col("code"), 28).alias("shard")
    )
    joined = shards.join(q, "vec_id")
    sums = joined.groupBy("shard", "d").agg(
        F.sum("qv").alias("sd"), F.countDistinct("vec_id").alias("n")
    )
    loc = (
        joined.join(sums.select("shard", "d", "sd"), ["shard", "d"])
        .groupBy("shard")
        .agg(F.sum(F.col("qv") * F.col("sd")).alias("dot_sum"))
        .join(
            sums.groupBy("shard").agg(F.first("n").alias("n")), "shard"
        )
    )
    return loc.select(
        F.col("shard").cast("long").alias("shard"),
        F.col("n").cast("long").alias("n_vectors"),
        F.col("dot_sum").cast("long").alias("dot_sum"),
        (
            F.floor(
                F.col("dot_sum").cast("double")
                / (F.col("n").cast("double") * F.col("n"))
                * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("locality"),
    ).orderBy("shard")


# ---------------------------------------------------------------------------
# ROUND 6 — UniMax language-budget allocation (Chung et al. 2023,
# "UniMax: Fairer and More Effective Language Sampling", public
# method): water-filling a token budget across languages with a
# per-language epoch cap — the principled alternative to temperature
# sampling for multilingual pretraining mixes (source_mixture_
# temperature's neighbor). The greedy loop has a closed form over
# capacity-sorted prefix sums, so it is ONE window pass — no driver
# loop, exact integers.
# ---------------------------------------------------------------------------
@register(
    "unimax_allocation",
    # token census per lang -> caps = tokens * MAX_EPOCHS -> water-fill
    # threshold by the prefix-sum inequality -> full caps below it, an
    # even integer share above; epochs quantized 1e-6
    """
WITH tok AS (
  SELECT lang,
         SUM(len(list_filter(string_split_regex(trim(text), '\\s+'),
                             t -> t <> '')))::BIGINT AS tokens
  FROM documents GROUP BY lang
), caps AS (
  SELECT lang, tokens, tokens * 4 AS cap,
         ROW_NUMBER() OVER (ORDER BY tokens * 4, lang) AS i,
         COUNT(*) OVER () AS l,
         (SELECT SUM(tokens) * 2 FROM tok) AS budget
  FROM tok
), pre AS (
  SELECT *, COALESCE(SUM(cap) OVER (ORDER BY i
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p_prev,
         -- full allocation iff this cap fits an even split of what's left
         cap * (l - i + 1) <= budget
           - COALESCE(SUM(cap) OVER (ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS full_fit
  FROM caps
), thresh AS (
  SELECT COALESCE(MAX(CASE WHEN full_fit THEN i END), 0) AS t,
         COALESCE(MAX(CASE WHEN full_fit THEN p_prev + cap END), 0) AS p_t
  FROM pre
), alloc AS (
  SELECT pre.lang, pre.tokens, pre.cap,
         CASE WHEN pre.i <= th.t THEN pre.cap
              ELSE (pre.budget - th.p_t) // (pre.l - th.t) END AS alloc
  FROM pre, thresh th
)
SELECT lang, tokens, cap::BIGINT AS cap, alloc::BIGINT AS alloc,
       FLOOR(CAST(alloc AS DOUBLE) / tokens * 1e6 + 0.5) / 1e6 AS epochs
FROM alloc ORDER BY lang
""",
)
def unimax_allocation_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax water-filling (public method): allocate a token budget
    (2x the corpus) across languages, capping every language at
    MAX_EPOCHS = 4 epochs of its own tokens; low-resource languages
    fill to their cap, the rest split the remainder evenly. The greedy
    loop collapses to a prefix-sum threshold over capacity-sorted
    languages: language i (ascending cap) gets its full cap iff
    cap_i * (L - i + 1) <= budget - prefix_{i-1}; everyone above the
    threshold gets the integer-floor even share.

    Determinism: token counts, caps, prefix sums and the threshold
    test are exact integers; the final epochs ratio quantizes at 1e-6.

    Plan shape / 100 TB: one token-count partial-agg shuffle collapses
    the corpus to |languages| rows; the water-fill is a window pass
    over that census. Linear."""
    from ..operators.text import tokens as tok_fn

    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select(
            "lang",
            F.size(F.filter(tok_fn(F.col("text")), lambda t: t != "")).alias("nt"),
        )
        .groupBy("lang")
        .agg(F.sum("nt").cast("long").alias("tokens"))
    )
    budget = tok.agg((F.sum("tokens") * 2).alias("budget"))
    wi = Window.orderBy(F.col("cap"), F.col("lang"))
    pre = (
        tok.select("lang", "tokens", (F.col("tokens") * 4).alias("cap"))
        .crossJoin(F.broadcast(budget))
        .select(
            "*",
            F.row_number().over(wi).alias("i"),
            F.count("*").over(Window.partitionBy()).alias("l"),
            F.coalesce(
                F.sum("cap").over(wi.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ).alias("p_prev"),
        )
        .withColumn(
            "full_fit",
            F.col("cap") * (F.col("l") - F.col("i") + 1)
            <= F.col("budget") - F.col("p_prev"),
        )
    )
    thresh = pre.agg(
        F.coalesce(F.max(F.when(F.col("full_fit"), F.col("i"))), F.lit(0)).alias("t"),
        F.coalesce(
            F.max(F.when(F.col("full_fit"), F.col("p_prev") + F.col("cap"))),
            F.lit(0),
        ).alias("p_t"),
    )
    return (
        pre.crossJoin(F.broadcast(thresh))
        .select(
            "lang",
            "tokens",
            F.col("cap").cast("long").alias("cap"),
            F.when(F.col("i") <= F.col("t"), F.col("cap"))
            .otherwise(
                F.floor(
                    (F.col("budget") - F.col("p_t")) / (F.col("l") - F.col("t"))
                )
            )
            .cast("long")
            .alias("alloc"),
        )
        .withColumn(
            "epochs",
            F.floor(F.col("alloc").cast("double") / F.col("tokens") * 1e6 + F.lit(0.5))
            / 1e6,
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# ROUND 6 — paletted PNG (color type 3, depths 8 AND 4): the common
# web-graphics path next to the r3 RGB leg. Sub-byte depth filters on
# packed BYTES per spec 9.2; verification uses the position-weighted
# checksum (row filters rotate per scanline, so a filter-inversion
# error anywhere breaks it).
# ---------------------------------------------------------------------------
@register(
    "multimodal_png_palette_decode",
    """
WITH dims AS (
  SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 3 AS h FROM documents
), px AS (
  SELECT doc_id, w, h, i.i AS p,
         CASE WHEN doc_id % 2 = 0 THEN (doc_id * 7 + i.i) % 256
              ELSE (doc_id * 7 + i.i) % 16 END AS idx
  FROM dims, LATERAL (SELECT UNNEST(range(w * h)) AS i) i
)
SELECT doc_id, ANY_VALUE(w)::INT AS width, ANY_VALUE(h)::INT AS height,
       SUM((p + 1) * (idx + 2 * ((idx * 3) % 256) + 3 * ((idx * 7) % 256)))
         ::BIGINT AS checksum
FROM px GROUP BY doc_id ORDER BY doc_id
""",
)
def multimodal_png_palette_decode_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL paletted-PNG decode (multimodal.decode_png round-6 palette
    path): PLTE lookup after full filter inversion; even doc_ids are
    depth-8 indexed, odd are DEPTH-4 (two pixels per byte, high nibble
    first, filters over packed bytes), and the scanline filter rotates
    with the row index so every filter type appears at both depths.
    Verified by the position-weighted checksum. Map-side Arrow decode;
    scalar-only shuffle."""
    import numpy as np

    from ..operators import multimodal

    pal256 = np.array(
        [(i, (i * 3) % 256, (i * 7) % 256) for i in range(256)],
        dtype=np.uint8,
    )

    def encode(d):
        w, h = 8 + d % 5, 6 + d % 3
        if d % 2 == 0:
            idx = ((d * 7 + np.arange(w * h)) % 256).reshape(h, w)
            blob = multimodal.encode_png(
                idx, palette=pal256, depth=8, filter_for_row=lambda y: y
            )
        else:
            idx = ((d * 7 + np.arange(w * h)) % 16).reshape(h, w)
            blob = multimodal.encode_png(
                idx, palette=pal256[:16], depth=4, filter_for_row=lambda y: y
            )
        return [(d, blob)]

    docs = load_table(spark, sf_dir, "documents")
    media = map_rows(doc_id_seed(docs), encode, multimodal.MEDIA_SCHEMA)
    return multimodal.image_decode_checksum(media).orderBy("doc_id")


# ---------------------------------------------------------------------------
# ROUND 6 — IMA ADPCM (public DVI/IMA spec): stateful 4-bit DPCM with
# the 89-step table. The per-nibble recursion replays as a recursive
# CTE carrying (predictor, step index, running |pcm| sum) — the
# registry's loop-oracle convention — bit-identical to the Python
# reference the Arrow kernel runs.
# ---------------------------------------------------------------------------
def _adpcm_oracle() -> str:
    from ..operators.multimodal import IMA_STEP_TABLE

    steps = ", ".join(str(v) for v in IMA_STEP_TABLE)
    return f"""
WITH RECURSIVE walk AS (
  SELECT doc_id, 0 AS j, 0::BIGINT AS pred, (doc_id % 89)::BIGINT AS idx,
         0::BIGINT AS sacc
  FROM documents
  UNION ALL
  SELECT doc_id, j + 1, np AS pred,
         GREATEST(0, LEAST(88, idx + CASE (nib % 8)
           WHEN 4 THEN 2 WHEN 5 THEN 4 WHEN 6 THEN 6 WHEN 7 THEN 8
           ELSE -1 END)) AS idx,
         sacc + ABS(np) AS sacc
  FROM (
    SELECT w.doc_id, w.j, w.pred, w.idx, w.sacc, t.nib, t.step,
           GREATEST(-32768, LEAST(32767,
             w.pred + CASE WHEN t.nib >= 8 THEN -1 ELSE 1 END *
               (t.step // 8 + (t.nib % 2) * (t.step // 4)
                + ((t.nib // 2) % 2) * (t.step // 2)
                + ((t.nib // 4) % 2) * t.step))) AS np
    FROM walk w, LATERAL (
      SELECT (w.doc_id * 3 + w.j * 5) % 16 AS nib,
             ([{steps}])[w.idx + 1] AS step
    ) t
    WHERE w.j < 64
  )
)
SELECT doc_id, 64::BIGINT AS n_samples, sacc::BIGINT AS sum_abs,
       pred::BIGINT AS last_pcm
FROM walk WHERE j = 64 ORDER BY doc_id
"""


@register("multimodal_adpcm_decode", _adpcm_oracle())
def multimodal_adpcm_decode_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL IMA ADPCM expansion executing in-sandbox
    (multimodal.ima_adpcm_decode): 64 nibbles per doc (packed
    low-nibble-first, the IMA/WAV layout), initial step index
    doc_id % 89 so the whole table gets walked across the corpus;
    the stateful (predictor, index) recursion is exact integers.

    Plan shape / 100 TB: stateful WITHIN a payload but stateless
    ACROSS payloads — map-only Arrow batches, per-doc scalars shuffle
    (the codec house contract)."""
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    return multimodal.adpcm_decode_features(
        multimodal.synthetic_adpcm_media(docs)
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# ROUND 6 — streaming SPRT monitor: the always-valid sequential test
# runs ON the stream (the guardrail twin of the batch
# sprt_sequential_test, completing the r5 eval family's streaming
# surface next to streaming_drift_monitor). Boundary checks happen at
# each finalized window close — the monitoring granularity — so the
# decision trajectory is the per-window cumulative LLR walk.
# ---------------------------------------------------------------------------
def _sprt_monitor_oracle() -> str:
    from .r5_codecs_eval import _SPRT_A_INC, _SPRT_B_INC, _SPRT_BOUND

    return f"""
WITH win AS (
  SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
           AS window_start,
         COUNT(*) AS n,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS k
  FROM events GROUP BY 1
), run AS (
  SELECT window_start,
         SUM(n) OVER w AS n_cum, SUM(k) OVER w AS k_cum
  FROM win
  WINDOW w AS (ORDER BY window_start ROWS UNBOUNDED PRECEDING)
), llr AS (
  SELECT window_start, n_cum, k_cum,
         {_SPRT_A_INC} * k_cum + {_SPRT_B_INC} * (n_cum - k_cum) AS q
  FROM run
), crossed AS (
  SELECT l.*,
         MIN(CASE WHEN ABS(q) >= {_SPRT_BOUND} THEN window_start END)
           OVER (ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS first_cross
  FROM llr l
), sgn AS (
  SELECT c.*, (SELECT q FROM llr WHERE window_start = c.first_cross) AS q_cross
  FROM crossed c
)
SELECT window_start, n_cum::BIGINT AS n_cum, k_cum::BIGINT AS k_cum,
       FLOOR(q / 1e9 * 1e6 + 0.5) / 1e6 AS llr,
       CASE WHEN first_cross IS NULL OR window_start < first_cross
            THEN 'continue'
            WHEN q_cross >= {_SPRT_BOUND} THEN 'accept_h1'
            ELSE 'accept_h0' END AS decision
FROM sgn ORDER BY window_start
"""


@register(
    "streaming_obf_monitor",
    # EVENT-level group-sequential looks on the streamed hourly census
    # (the batch group_sequential_obf is user-grained at epoch
    # quartiles; the stream twin looks at window-count quartiles over
    # the drained census — own oracle, same z expression and the
    # published K=4 two-sided alpha=0.05 O'Brien-Fleming bounds)
    """
WITH win AS (
  SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
           AS ws,
         user_id % 2 AS arm, COUNT(*) AS n,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS k
  FROM events GROUP BY 1, 2
), hours AS (
  SELECT ws, ROW_NUMBER() OVER (ORDER BY ws) AS r FROM (
    SELECT DISTINCT ws FROM win
  )
), looks AS (
  SELECT kk.k AS look,
         CASE kk.k WHEN 1 THEN 4.048 WHEN 2 THEN 2.862
                   WHEN 3 THEN 2.337 ELSE 2.024 END AS bound,
         CAST(CEIL(CAST((SELECT MAX(r) FROM hours) AS DOUBLE) * kk.k / 4)
              AS BIGINT) AS cr
  FROM (SELECT UNNEST(range(1, 5)) AS k) kk
), cells AS (
  SELECT l.look, l.bound,
         (SELECT ws FROM hours WHERE r = l.cr) AS cutoff_window,
         SUM(CASE WHEN w.arm = 0 THEN w.n ELSE 0 END) AS n0,
         SUM(CASE WHEN w.arm = 0 THEN w.k ELSE 0 END) AS k0,
         SUM(CASE WHEN w.arm = 1 THEN w.n ELSE 0 END) AS n1,
         SUM(CASE WHEN w.arm = 1 THEN w.k ELSE 0 END) AS k1
  FROM looks l JOIN hours h ON h.r <= l.cr JOIN win w ON w.ws = h.ws
  GROUP BY 1, 2, 3
), z AS (
  SELECT look, cutoff_window, bound, n0, k0, n1, k1,
         CASE WHEN n0 > 0 AND n1 > 0 AND k0 + k1 > 0
                   AND k0 + k1 < n0 + n1 THEN
           FLOOR((CAST(k1 AS DOUBLE) / n1 - CAST(k0 AS DOUBLE) / n0)
                 / sqrt((CAST(k0 + k1 AS DOUBLE) / (n0 + n1))
                        * (1.0 - CAST(k0 + k1 AS DOUBLE) / (n0 + n1))
                        * (1.0 / n0 + 1.0 / n1)) * 1e4 + 0.5) / 1e4
         ELSE 0.0 END AS z
  FROM cells
)
SELECT look::BIGINT AS look, cutoff_window, n0::BIGINT AS n0,
       k0::BIGINT AS k0, n1::BIGINT AS n1, k1::BIGINT AS k1, z, bound,
       ABS(z) >= bound AS crossed
FROM z ORDER BY look
""",
)
def streaming_obf_monitor_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sequential monitoring ON the stream (O'Brien & Fleming
    1979 boundaries, public K=4 two-sided alpha=0.05 table): the
    watermarked hourly per-arm census (arm = user_id % 2) drains with
    Trigger.AvailableNow, then four SCHEDULED looks at window-count
    quartiles each test the cumulative pooled two-proportion z against
    its OBF bound — the alpha-spending guardrail next to
    streaming_sprt_monitor's always-valid LLR walk. Event-grained by
    design (the batch group_sequential_obf is the user-grained epoch-
    quartile snapshot; this is its streaming-census twin).

    Plan shape / 100 TB: one watermark-bounded stateful census
    (|windows in flight| x 2 arms); looks are algebra on the drained
    calendar-bounded census — ranks over |hours| rows, a 4-row look
    table, one grouped aggregate."""
    from ..streaming import jobs

    stream = jobs.stream_events(spark, sf_dir)
    win_stream = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(
            F.window(F.col("ts"), "1 hour").alias("w"),
            (F.col("user_id") % 2).alias("arm"),
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("k"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("ws"),
            "arm",
            "n",
            "k",
        )
    )
    win = jobs.run_available_now(win_stream, "streaming_obf_monitor")
    # materialize the tiny hour-rank census locally to sever lineage:
    # `win` must appear on only ONE side of the look joins (the census
    # is |hours| rows — calendar-bounded, the bradley_terry contract)
    hour_rows = sorted(r.ws for r in win.select("ws").distinct().collect())
    hours = tiny_df(
        spark, [(ws, i + 1) for i, ws in enumerate(hour_rows)], "hws STRING, hr LONG"
    )
    hh = len(hour_rows)
    looks = tiny_df(
        spark,
        [
            (k, bound, -(-hh * k // 4))
            for k, bound in ((1, 4.048), (2, 2.862), (3, 2.337), (4, 2.024))
        ],
        "look INT, bound DOUBLE, cr LONG",
    )
    cutoffs = looks.join(
        F.broadcast(hours.select(F.col("hr").alias("cr"), F.col("hws").alias("cutoff_window"))),
        "cr",
    )
    cells = (
        cutoffs.join(F.broadcast(hours), F.col("hr") <= F.col("cr"))
        .join(win, F.col("hws") == F.col("ws"))
        .groupBy("look", "bound", "cutoff_window")
        .agg(
            F.sum(F.when(F.col("arm") == 0, F.col("n")).otherwise(0)).alias("n0"),
            F.sum(F.when(F.col("arm") == 0, F.col("k")).otherwise(0)).alias("k0"),
            F.sum(F.when(F.col("arm") == 1, F.col("n")).otherwise(0)).alias("n1"),
            F.sum(F.when(F.col("arm") == 1, F.col("k")).otherwise(0)).alias("k1"),
        )
    )
    kt = (F.col("k0") + F.col("k1")).cast("double") / (F.col("n0") + F.col("n1"))
    zexpr = (
        F.floor(
            (
                F.col("k1").cast("double") / F.col("n1")
                - F.col("k0").cast("double") / F.col("n0")
            )
            / F.sqrt(
                kt
                * (F.lit(1.0) - kt)
                * (F.lit(1.0) / F.col("n0") + F.lit(1.0) / F.col("n1"))
            )
            * 1e4
            + F.lit(0.5)
        )
        / 1e4
    )
    guard = (
        (F.col("n0") > 0)
        & (F.col("n1") > 0)
        & (F.col("k0") + F.col("k1") > 0)
        & (F.col("k0") + F.col("k1") < F.col("n0") + F.col("n1"))
    )
    return (
        cells.select(
            F.col("look").cast("long").alias("look"),
            "cutoff_window",
            F.col("n0").cast("long").alias("n0"),
            F.col("k0").cast("long").alias("k0"),
            F.col("n1").cast("long").alias("n1"),
            F.col("k1").cast("long").alias("k1"),
            F.when(guard, zexpr).otherwise(F.lit(0.0)).alias("z"),
            "bound",
        )
        .withColumn("crossed", F.abs(F.col("z")) >= F.col("bound"))
        .orderBy("look")
    )


@register("streaming_sprt_monitor", _sprt_monitor_oracle())
def streaming_sprt_monitor_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-valid sequential test ON the stream: the watermarked
    hourly census (windowed_counts, Trigger.AvailableNow drain) feeds a
    per-window cumulative Wald LLR (same pre-quantized 1e-9 integer
    increments as sprt_sequential_test: H0 p=0.15 vs H1 p=0.20,
    alpha = beta = 0.05), and each window's row reports the running
    (n, k, llr) plus the STICKY decision — 'continue' until the first
    window whose cumulative LLR leaves (-ln 19, +ln 19), then the
    crossing verdict for every later window. Drained result equals the
    batch oracle exactly.

    Plan shape / 100 TB: the stream pays one watermark-bounded
    stateful census (state = |windows in flight| x |types|, the
    streaming_drift_monitor bound); the LLR walk is a window pass over
    the drained CALENDAR-BOUNDED census (hours, not events), and the
    first-crossing lookup is a 1-row broadcast join."""
    from ..streaming import jobs
    from .r5_codecs_eval import _SPRT_A_INC, _SPRT_B_INC, _SPRT_BOUND

    stream = jobs.stream_events(spark, sf_dir)
    win = jobs.run_available_now(
        jobs.windowed_counts(stream), "streaming_sprt_monitor"
    )
    census = win.groupBy("window_start").agg(
        F.sum("n_events").alias("n"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("n_events")).otherwise(0)
        ).alias("k"),
    )
    wrun = Window.orderBy("window_start").rowsBetween(
        Window.unboundedPreceding, 0
    )
    llr = census.select(
        "window_start",
        F.sum("n").over(wrun).alias("n_cum"),
        F.sum("k").over(wrun).alias("k_cum"),
    ).select(
        "window_start",
        "n_cum",
        "k_cum",
        (
            F.lit(_SPRT_A_INC) * F.col("k_cum")
            + F.lit(_SPRT_B_INC) * (F.col("n_cum") - F.col("k_cum"))
        ).alias("q"),
    )
    first = (
        llr.filter(F.abs(F.col("q")) >= _SPRT_BOUND)
        .orderBy("window_start")
        .limit(1)
        .select(
            F.col("window_start").alias("first_cross"),
            F.col("q").alias("q_cross"),
        )
    )
    return (
        # 0- or 1-row broadcast: LEFT join on TRUE attaches the first
        # crossing to every window (NULLs when no window ever crosses)
        llr.join(F.broadcast(first), F.lit(True), "left")
        .select(
            "window_start",
            F.col("n_cum").cast("long").alias("n_cum"),
            F.col("k_cum").cast("long").alias("k_cum"),
            (F.floor(F.col("q") / 1e9 * 1e6 + F.lit(0.5)) / 1e6).alias("llr"),
            F.when(
                F.col("first_cross").isNull()
                | (F.col("window_start") < F.col("first_cross")),
                "continue",
            )
            .when(F.col("q_cross") >= _SPRT_BOUND, "accept_h1")
            .otherwise("accept_h0")
            .alias("decision"),
        )
        .orderBy("window_start")
    )


# ---------------------------------------------------------------------------
# ROUND 6 (late pass) — QOI image decode (qoiformat.org, public-domain
# one-page spec): the O(n) byte-oriented lossless format crawl
# pipelines meet as the cheap intermediate/cache encoding. The fixture
# formula deliberately exercises ALL five RGB-path chunk ops — first
# row is a +1 grayscale ramp (DIFF), every 17th pixel is a fixed color
# that recurs (INDEX), groups of three identical pixels (RUN), +11
# channel steps between groups (LUMA), and modulo wrap jumps (RGB).
# ---------------------------------------------------------------------------
@register(
    "multimodal_qoi_decode",
    """
WITH dims AS (
  SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 3 AS h FROM documents
), px AS (
  SELECT doc_id, w, h, i.i AS p,
         CASE WHEN i.i < w THEN (doc_id * 3 + i.i) % 256
              WHEN i.i % 17 = 16 THEN 10
              ELSE (doc_id * 7 + 11 * (i.i // 3)) % 256 END AS r,
         CASE WHEN i.i < w THEN (doc_id * 3 + i.i) % 256
              WHEN i.i % 17 = 16 THEN 20
              ELSE ((doc_id * 7 + 11 * (i.i // 3)) + 1) % 256 END AS g,
         CASE WHEN i.i < w THEN (doc_id * 3 + i.i) % 256
              WHEN i.i % 17 = 16 THEN 30
              ELSE ((doc_id * 7 + 11 * (i.i // 3)) + 2) % 256 END AS b
  FROM dims, LATERAL (SELECT UNNEST(range(w * h)) AS i) i
)
SELECT doc_id, ANY_VALUE(w)::INT AS width, ANY_VALUE(h)::INT AS height,
       SUM((p + 1) * (r + 2 * g + 3 * b))::BIGINT AS checksum
FROM px GROUP BY doc_id ORDER BY doc_id
""",
)
def multimodal_qoi_decode_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL QOI decode (multimodal.decode_qoi — the full 6-op chunk
    grammar with the 64-slot running color index, wrapping DIFF/LUMA
    deltas and 62-capped runs); the encoder twin packs the formula
    pixels so every RGB-path op appears on the wire (verified in
    tests). Same map-side Arrow shape as the TIFF/GIF legs: blobs are
    built and decoded executor-side, the shuffle carries only the
    position-weighted scalar checksum."""
    import numpy as np

    from ..operators import multimodal

    def encode(d):
        w, h = 8 + d % 5, 6 + d % 3
        p = np.arange(w * h, dtype=np.int64)
        base = (d * 7 + 11 * (p // 3)) % 256
        px = np.stack([base, (base + 1) % 256, (base + 2) % 256], 1)
        ramp = (d * 3 + p) % 256
        first = p < w
        px[first] = np.stack([ramp, ramp, ramp], 1)[first]
        mark = (~first) & (p % 17 == 16)
        px[mark] = (10, 20, 30)
        return [(d, multimodal.encode_qoi(px.astype(np.uint8).reshape(h, w, 3)))]

    docs = load_table(spark, sf_dir, "documents")
    media = map_rows(doc_id_seed(docs), encode, multimodal.MEDIA_SCHEMA)
    return multimodal.image_decode_checksum(media).orderBy("doc_id")


# ---------------------------------------------------------------------------
# ROUND 6 (late pass) — fill-in-the-middle (FIM) transform: the
# code-LLM training-data reordering (Bavarian et al. 2022). Hash-gated
# 50% of docs get two md5-derived cut points and the PSM
# serialization; the oracle mirrors the md5 arithmetic bit-for-bit so
# the full transformed text is compared via its digest.
# ---------------------------------------------------------------------------
@register(
    "fim_transform",
    """
WITH b AS (
  SELECT doc_id, text, LENGTH(text)::BIGINT AS n,
         (substr(md5(doc_id::VARCHAR || ':fim'), 1, 1)
            IN ('0','1','2','3','4','5','6','7')) AS gate,
         CAST(concat('0x', substr(md5(doc_id::VARCHAR || ':fim1'), 1, 12))
              AS UBIGINT)::BIGINT AS h1,
         CAST(concat('0x', substr(md5(doc_id::VARCHAR || ':fim2'), 1, 12))
              AS UBIGINT)::BIGINT AS h2
  FROM documents
), c AS (
  SELECT doc_id, text, n, gate,
         CASE WHEN gate THEN LEAST(h1 % (n + 1), h2 % (n + 1))
              ELSE 0 END AS cut1,
         CASE WHEN gate THEN GREATEST(h1 % (n + 1), h2 % (n + 1))
              ELSE 0 END AS cut2
  FROM b
)
SELECT doc_id, gate::INT AS fim_applied, cut1, cut2,
       cut1 AS prefix_len, cut2 - cut1 AS middle_len,
       n - cut2 AS suffix_len,
       md5(CASE WHEN gate
                THEN '<PRE>' || substr(text, 1, cut1)
                     || '<SUF>' || substr(text, cut2 + 1)
                     || '<MID>' || substr(text, cut1 + 1, cut2 - cut1)
                ELSE text END) AS psm_md5
FROM c ORDER BY doc_id
""",
)
def fim_transform_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic FIM split + PSM re-serialization as ONE codegen'd
    projection (md5/substr/concat built-ins, no UDF, no shuffle) —
    text.fim_transform. The map-only shape is exactly what a 100 TB
    pretraining tokenizer feed wants: the transform rides the scan."""
    from ..operators import text

    return text.fim_transform(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# ROUND 6 (late pass) — AIFF audio decode (Apple EA IFF 85, public
# spec): the big-endian sibling of the WAV leg, whose one nontrivial
# feature is the 80-bit IEEE extended-float sample rate (exact for
# integer rates — the 11025 case proves the non-power-of-two path).
# ---------------------------------------------------------------------------
@register(
    "multimodal_aiff_decode",
    """
WITH lens AS (
  SELECT doc_id, 48 + doc_id % 40 AS n,
         CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 11025
                         WHEN 2 THEN 22050 ELSE 44100 END AS rate
  FROM documents
), s AS (
  SELECT doc_id, n, rate, i.i AS j,
         ((doc_id * 17 + i.i * 37) % 65536) - 32768 AS v
  FROM lens, LATERAL (SELECT UNNEST(range(n)) AS i) i
)
SELECT doc_id, ANY_VALUE(rate) AS sample_rate, ANY_VALUE(n) AS n_samples,
       SUM((j + 1) * v)::BIGINT AS checksum
FROM s GROUP BY doc_id ORDER BY doc_id
""",
)
def multimodal_aiff_decode_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL AIFF decode (multimodal.decode_aiff): FORM/AIFF chunk
    walk, COMM 80-bit extended-float rate (rotating through 8000/
    11025/22050/44100 so the odd-mantissa path is exercised on real
    wire bytes), big-endian PCM16 SSND. House codec contract: media
    built by a SEPARATE synthetic_aiff_media stage (reusable, the
    decoder never sees bytes produced in its own closure), map-side
    Arrow decode, position-weighted checksum so frame reordering or
    truncation is caught."""
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    return multimodal.aiff_decode_features(
        multimodal.synthetic_aiff_media(docs)
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# ROUND 6 (late pass) — Expected Calibration Error: the one-number
# summary completing the calibration trio (reliability diagram ->
# Murphy decomposition -> ECE). Same exact-integer Platt squash and
# 10-bin census as the Brier leg; the per-bin |acc - conf| weights
# collapse to exact bigints.
# ---------------------------------------------------------------------------
@register(
    "ece_report",
    f"""
WITH f AS (
  SELECT doc_id,
         len({{toks}})::DOUBLE AS n_tokens,
         length(text)::DOUBLE AS n_chars,
         len(list_filter({{toks}}, t -> t IN ('the', 'a', 'of', 'and')))::DOUBLE
           AS n_stop,
         (length(text) - length(replace(text, '.', '')))::DOUBLE AS n_dots
  FROM documents
), wts AS (
  SELECT i.i AS i,
         2 * (CAST(concat('0x', substr(md5('qw:' || i.i), 1, 15)) AS UBIGINT)
              / 1152921504606846976.0) - 1 AS w
  FROM (SELECT UNNEST(range(5)) AS i) i
), z AS (
  SELECT f.doc_id,
         (SELECT w FROM wts WHERE i = 0) * (n_tokens / 100.0)
         + (SELECT w FROM wts WHERE i = 1) * (n_stop / (n_tokens + 1.0))
         + (SELECT w FROM wts WHERE i = 2) * (n_chars / (n_tokens + 1.0))
         + (SELECT w FROM wts WHERE i = 3) * (n_dots / (n_chars + 1.0))
         + (SELECT w FROM wts WHERE i = 4) AS z
  FROM f
), lab AS (
  SELECT z.doc_id,
         CAST(FLOOR(z * 1e4 + 0.5) AS BIGINT) AS lu,
         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM z JOIN documents d ON d.doc_id = z.doc_id
), p AS (
  SELECT LEAST(GREATEST(lu + 20000, 0), 40000) * 25 AS pq, pos FROM lab
), binned AS (
  SELECT LEAST(pq // 100000, 9) AS bin, pq, pos FROM p
), cells AS (
  SELECT bin, COUNT(*) AS n, SUM(pos) AS k, SUM(pq) AS sp FROM binned
  GROUP BY 1
)
SELECT SUM(n)::BIGINT AS n_docs,
       COUNT(*)::BIGINT AS n_bins,
       FLOOR(CAST(SUM(ABS(k * 1000000 - sp)) AS DOUBLE) / SUM(n) + 0.5) / 1e6
         AS ece,
       MAX(CAST(FLOOR(CAST(ABS(k * 1000000 - sp) AS DOUBLE) / n + 0.5)
                AS BIGINT)) / 1e6 AS max_gap
FROM cells
""".replace("{toks}", "list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')"),
)
def ece_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text.ece_report — scoring codegen pass + 10-cell census; the
    ECE numerator is integer algebra until one final division."""
    from ..operators import text

    return text.ece_report(load_table(spark, sf_dir, "documents"))
