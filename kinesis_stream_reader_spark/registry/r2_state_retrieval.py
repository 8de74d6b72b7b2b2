"""Registry slice: mechanical round-6 split of the original single-file
registry.py (22.4k LoC) into family modules — see registry/__init__.py.
Slice order is preserved; oracle-builder helpers that read ORACLES at
import time rely on it."""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403
from ..operators import tiny_df
from ._shared import _FLAT_COLS, _nested_events  # noqa: F401
from .r2_relational_formats import _roundtrip_dir  # noqa: F401
from .r1_parity_ext import _GRAMS  # noqa: F401
from .r1_parity_ext import _TOKS  # noqa: F401
from ..scratch import scratch

# ---------------------------------------------------------------------------
# Derived-state maintenance: CDC diff, SCD2, incremental agg, mergeable
# sketches — the operations that keep 100 TB derived tables fresh without
# full recomputation. (Absent in the reference: its pipeline is stateless
# and re-reads the stream per request, index.js:43-73.)
# ---------------------------------------------------------------------------
@register(
    "snapshot_diff",
    """
WITH old AS (
  SELECT o_orderkey, o_totalprice AS price FROM orders WHERE o_orderkey % 10 <> 3
), new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 1.1
              ELSE o_totalprice END AS price
  FROM orders WHERE o_orderkey % 10 <> 7
)
SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
       CASE WHEN o.o_orderkey IS NULL THEN 'insert'
            WHEN n.o_orderkey IS NULL THEN 'delete'
            ELSE 'update' END AS change_type,
       o.price AS old_price, n.price AS new_price
FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL OR o.price <> n.price
""",
)
def snapshot_diff_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    orders = load_table(spark, sf_dir, "orders")
    return relational.snapshot_diff(
        relational.snapshot_old(orders), relational.snapshot_new(orders)
    )


@register(
    "scd2_from_changelog",
    """
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
), changes AS (
  SELECT user_id, ts, event_id, event_type FROM ordered
  WHERE prev IS NULL OR prev <> event_type
)
SELECT user_id, event_type AS state, epoch_us(ts) AS valid_from_us,
       epoch_us(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS valid_to_us
FROM changes
""",
)
def scd2_from_changelog_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.scd2_from_changelog(load_events(spark, sf_dir))


@register(
    "incremental_agg_merge",
    # merged base+delta state must equal the full recompute — the oracle
    # IS the full recompute
    """
SELECT event_type, COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
FROM events GROUP BY event_type
""",
)
def incremental_agg_merge_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.incremental_agg_merge(load_events(spark, sf_dir))


@register(
    "agg_hll_mergeable",
    # same bound-contract as agg_approx_distinct: the merged
    # daily-sketch estimate must land within 10% of the exact distinct
    # count (Datasketches HLL at default lgK=12 has rsd ~1.6%; 10%
    # leaves headroom for the union of many daily sketches)
    """
SELECT event_type, COUNT(DISTINCT user_id) AS exact_users, true AS within_tol
FROM events GROUP BY event_type ORDER BY event_type
""",
)
def agg_hll_mergeable_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    est = relational.hll_mergeable_distinct(load_events(spark, sf_dir))
    exact = (
        load_events(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("exact_users"))
    )
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= F.lit(0.10) * F.col("exact_users")
            ).alias("within_tol"),
        )
        .orderBy("event_type")
    )


@register(
    "text_unigram_logprob",
    """
WITH toks AS (
  SELECT doc_id, t.tok
  FROM documents, LATERAL UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS t(tok)
  WHERE t.tok <> ''
), counts AS (
  SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
), total AS (
  SELECT SUM(cnt) AS total FROM counts
)
SELECT toks.doc_id, COUNT(*) AS n_tokens,
       ROUND(AVG(LN(counts.cnt / total.total)), 6) AS avg_logprob
FROM toks JOIN counts USING (tok), total
GROUP BY toks.doc_id
ORDER BY toks.doc_id
""",
)
def text_unigram_logprob_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.unigram_logprob(load_table(spark, sf_dir, "documents"))


@register(
    "bpe_pair_counts",
    """
WITH words AS (
  SELECT t.w
  FROM documents, LATERAL UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS t(w)
  WHERE length(t.w) >= 2
), pairs AS (
  SELECT substring(w, i, 2) AS pair
  FROM words, LATERAL UNNEST(generate_series(1, length(w) - 1)) AS g(i)
)
SELECT pair, COUNT(*) AS cnt FROM pairs
GROUP BY pair ORDER BY cnt DESC, pair LIMIT 50
""",
)
def bpe_pair_counts_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.bpe_pair_counts(load_table(spark, sf_dir, "documents"))


@register(
    "semdedup",
    """
WITH vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), seeds AS (
  SELECT vec_id AS seed_id, v AS s FROM vecs WHERE vec_id < 8
), scored AS (
  SELECT vec_id, seed_id,
         FLOOR(list_cosine_similarity(v, s) * 1000 + 0.5) / 1000 AS sim
  FROM vecs, seeds
), best AS (
  SELECT vec_id, MAX(sim) AS best_sim FROM scored GROUP BY vec_id
), assign AS (
  SELECT s.vec_id, MIN(s.seed_id) AS cluster
  FROM scored s JOIN best b ON s.vec_id = b.vec_id AND s.sim = b.best_sim
  GROUP BY s.vec_id
), av AS (
  SELECT a.vec_id, a.cluster, v.v FROM assign a JOIN vecs v ON a.vec_id = v.vec_id
), pairs AS (
  SELECT x.vec_id AS a_id, y.vec_id AS b_id
  FROM av x JOIN av y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
  WHERE ROUND(list_cosine_similarity(x.v, y.v), 3) >= 0.4
)
SELECT vec_id, cluster, vec_id NOT IN (SELECT b_id FROM pairs) AS kept
FROM av ORDER BY vec_id
""",
)
def semdedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup

    return dedup.semdedup(load_table(spark, sf_dir, "embeddings"))


@register(
    "corpus_shuffle_shards",
    """
SELECT doc_id, doc_id % 32 AS shard,
       ROW_NUMBER() OVER (
         PARTITION BY doc_id % 32
         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
       ) AS position
FROM documents
""",
)
def corpus_shuffle_shards_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.corpus_shuffle_shards(load_table(spark, sf_dir, "documents"))


@register(
    "kmeans_converged",
    # full-loop recursive-CTE mirror (the pagerank_converged pattern):
    # milli-quantized vectors make distances/sums exact bigints, the
    # packed MIN argmin is deterministic, the re-quantized centroid is
    # one float op, and the stop (total within-cluster d2 unchanged, or
    # the max_iter cap) rides the carried total/prev columns
    """
WITH RECURSIVE vecs AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))
           AS xq
  FROM embeddings
), iters AS (
  SELECT 0 AS iter,
         CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
         xq AS c,
         CAST(NULL AS BIGINT) AS n_members,
         CAST(NULL AS BIGINT) AS total_d2, CAST(NULL AS BIGINT) AS prev_d2
  FROM vecs QUALIFY row_number() OVER (ORDER BY vec_id) <= 8
  UNION ALL
  (
    WITH cur AS (
      SELECT * FROM iters
      WHERE iter < 5
        AND (total_d2 IS NULL OR prev_d2 IS NULL OR total_d2 <> prev_d2)
    ), packed AS (
      SELECT v.vec_id, v.xq,
             MIN(list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(list_zip(v.xq, c.c),
                                  p -> (p[1] - p[2]) * (p[1] - p[2]))),
                 (a, b) -> a + b) * 8 + c.cid) AS p
      FROM vecs v CROSS JOIN cur c
      GROUP BY v.vec_id, v.xq
    ), assign AS (
      SELECT vec_id, xq, p % 8 AS cluster_id, p // 8 AS d2min FROM packed
    ), tot AS (
      SELECT SUM(d2min) AS t FROM assign
    ), per_dim AS (
      SELECT cluster_id, pos,
             CAST(FLOOR(SUM(v) / COUNT(*) + 0.5) AS BIGINT) AS cm,
             COUNT(*) AS n
      FROM (SELECT cluster_id, unnest(xq) AS v, generate_subscripts(xq, 1) AS pos
            FROM assign)
      GROUP BY cluster_id, pos
    ), newc AS (
      SELECT cluster_id AS cid, list(cm ORDER BY pos) AS c, MAX(n) AS n_members
      FROM per_dim GROUP BY cluster_id
    )
    SELECT c0.iter + 1 AS iter, n.cid, n.c, n.n_members,
           t.t AS total_d2, c0.total_d2 AS prev_d2
    FROM newc n, tot t, (SELECT DISTINCT iter, total_d2 FROM cur) c0
  )
)
SELECT cid AS cluster_id, CAST(pos AS INT) AS pos, cm / 1000 AS centroid_val,
       n_members
FROM (
  SELECT cid, n_members, unnest(c) AS cm, generate_subscripts(c, 1) AS pos
  FROM iters WHERE iter = (SELECT MAX(iter) FROM iters)
)
ORDER BY cluster_id, pos
""",
)
def kmeans_converged_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity

    return similarity.kmeans_converged(load_table(spark, sf_dir, "embeddings"))


@register(
    "quality_model_score",
    # same md5-derived weights, same integer-ratio features, same
    # left-associative dot product — bit-identical inference
    f"""
WITH f AS (
  SELECT doc_id,
         len({_TOKS})::DOUBLE AS n_tokens,
         length(text)::DOUBLE AS n_chars,
         len(list_filter({_TOKS}, t -> t IN ('the', 'a', 'of', 'and')))::DOUBLE
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
)
SELECT doc_id, FLOOR(z * 1e4 + 0.5) / 1e4 AS logit, z > 0 AS keep
FROM z ORDER BY doc_id
""",
)
def quality_model_score_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.quality_model_score(load_table(spark, sf_dir, "documents"))


@register(
    "pagerank_step",
    """
WITH edges AS (
  SELECT DISTINCT user_id AS src, event_id % 500 AS dst FROM events
), outdeg AS (
  SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src
)
SELECT e.dst,
       -- (1 - CAST(.85 AS DOUBLE)) in DOUBLE, not a 0.15 literal: the
       -- Spark side computes 1-damping in binary64 (0.15000000000000002)
       -- while a plain 0.15 literal parses one ulp lower — enough to
       -- flip the half-up floor at exact midpoints like 0.1765625
       FLOOR(((1 - CAST(0.85 AS DOUBLE))
              + CAST(0.85 AS DOUBLE) * (SUM(1000000000 // o.outdeg) / 1e9))
             * 1e6 + 0.5) / 1e6 AS rank
FROM edges e JOIN outdeg o ON e.src = o.src
GROUP BY e.dst ORDER BY e.dst
""",
)
def pagerank_step_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.pagerank_step(load_events(spark, sf_dir))


@register(
    "tfidf_top_terms",
    """
WITH toks AS (
  SELECT doc_id, t.term
  FROM documents,
       LATERAL UNNEST(string_split(regexp_replace(lower(trim(text)), '[^a-z0-9 ]', '', 'g'), ' ')) AS t(term)
  WHERE t.term <> ''
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
), df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), n AS (
  SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         tf.tf * LN(n.n_docs / df.df) AS score
  FROM tf JOIN df USING (term), n
)
SELECT doc_id, term, tf, df, ROUND(score, 6) AS tfidf, rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
  FROM scored
)
WHERE rnk <= 3
ORDER BY doc_id, rnk
""",
)
def tfidf_top_terms_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.tfidf_top_terms(load_table(spark, sf_dir, "documents"))


@register(
    "pagerank_converged",
    # recursive-CTE oracle for the full driver loop, including the
    # data-dependent stop: ranks are exact integer micro-units on both
    # sides (see pagerank_converged docstring), so every iteration is
    # bit-identical and the convergence delta is an exact bigint. The
    # stop mirrors Spark's batched check (delta inspected only at
    # checkpoint iterations 3, 6, 9, then the max_iter=10 cap).
    # NB: inside WITH RECURSIVE, DuckDB treats a bare UNION between CTE
    # branches as the recursion operator, so `nodes` dedups explicitly.
    """
WITH RECURSIVE edges AS (
  SELECT DISTINCT user_id AS src, event_id % 500 AS dst FROM events
), outdeg AS (
  SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src
), nodes AS (
  SELECT DISTINCT node
  FROM (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
), iters AS (
  SELECT node, CAST(1000000000 AS BIGINT) AS rank_u,
         CAST(NULL AS BIGINT) AS delta_u, 0 AS iter
  FROM nodes
  UNION ALL
  (
    WITH cur AS (
      SELECT * FROM iters
      WHERE iter < 10
        AND (delta_u IS NULL
             OR NOT (iter IN (3, 6, 9) AND delta_u < 1000000))
    ), inflow AS (
      SELECT e.dst AS node, SUM(c.rank_u // o.outdeg) AS inflow_u
      FROM cur c JOIN edges e ON c.node = e.src
      JOIN outdeg o ON e.src = o.src
      GROUP BY e.dst
    ), nxt AS (
      SELECT c.node,
             CAST(150000000
                  + FLOOR(CAST(0.85 AS DOUBLE) * COALESCE(i.inflow_u, 0) + 0.5)
                  AS BIGINT) AS rank_u,
             c.rank_u AS old_rank_u, c.iter + 1 AS iter
      FROM cur c LEFT JOIN inflow i ON c.node = i.node
    )
    SELECT node, rank_u,
           SUM(ABS(rank_u - old_rank_u)) OVER () AS delta_u, iter
    FROM nxt
  )
)
SELECT node, ((rank_u + 500) // 1000) / 1e6 AS rank
FROM iters WHERE iter = (SELECT MAX(iter) FROM iters)
ORDER BY node
""",
)
def pagerank_converged_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.pagerank_converged(load_events(spark, sf_dir))


@register(
    "source_quality_report",
    """
WITH flagged AS (
  SELECT source, lang,
         length(text) AS n_chars,
         length(string_split_regex(trim(text), '\\s+')) AS n_tokens,
         COUNT(*) OVER (
           PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
         ) > 1 AS is_dup
  FROM documents
)
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT lang) AS n_langs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       ROUND(AVG(n_chars), 4) AS avg_chars,
       ROUND(AVG(CASE WHEN n_chars >= 100 THEN 1.0 ELSE 0.0 END), 4) AS len_retention,
       ROUND(AVG(CASE WHEN is_dup THEN 1.0 ELSE 0.0 END), 4) AS dup_rate
FROM flagged GROUP BY source ORDER BY source
""",
)
def source_quality_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.source_quality_report(load_table(spark, sf_dir, "documents"))


@register(
    "sample_weighted",
    """
SELECT doc_id, source, length(text) AS n_chars,
       ROUND(POW((doc_id * 2654435761) % 4294967296 / 4294967296.0,
                 1.0 / GREATEST(length(text), 1)), 6) AS es_key
FROM documents
ORDER BY es_key DESC, doc_id
LIMIT 100
""",
)
def sample_weighted_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.sample_weighted(load_table(spark, sf_dir, "documents"))


@register(
    "source_overlap_matrix",
    """
WITH by_src AS (
  SELECT md5(substring(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), 1, 64)) AS fp,
         source, COUNT(*) AS n_docs
  FROM documents GROUP BY 1, 2
)
SELECT a.source AS src_a, b.src_b,
       COUNT(DISTINCT a.fp) AS shared_fingerprints,
       CAST(SUM(a.n_docs) AS BIGINT) AS docs_duplicated
FROM by_src a JOIN (SELECT fp, source AS src_b FROM by_src) b ON a.fp = b.fp
WHERE a.source <> b.src_b
GROUP BY a.source, b.src_b
ORDER BY src_a, src_b
""",
)
def source_overlap_matrix_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.source_overlap_matrix(load_table(spark, sf_dir, "documents"))


# The training-batch oracle wraps the (already registered) curate oracle
# as a nested CTE, then derives chunk token counts arithmetically:
# chunk i of an n-token doc holds LEAST(chunk, n - i*stride) tokens —
# exactly what slicing produces.
ORACLES["training_batches"] = f"""
WITH curated AS (
{ORACLES["curate_corpus"]}
), chunks AS (
  SELECT c.doc_id, g.i AS chunk_id,
         LEAST(64, c.n_tokens - g.i * 48) AS n_tok
  FROM curated c,
       LATERAL UNNEST(generate_series(0,
         CAST(CEIL(GREATEST(c.n_tokens - 64, 0) / 48.0) AS INT))) AS g(i)
), packed AS (
  SELECT doc_id % 16 AS shard, doc_id, chunk_id, n_tok,
         SUM(n_tok) OVER (PARTITION BY doc_id % 16 ORDER BY doc_id, chunk_id
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM chunks
)
SELECT shard, CAST(FLOOR((cum - n_tok) / 512.0) AS BIGINT) AS bin_id,
       COUNT(*) AS n_chunks, COUNT(DISTINCT doc_id) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens
FROM packed GROUP BY 1, 2 ORDER BY shard, bin_id
"""


@register("training_batches")
def training_batches_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.training import training_batches

    return training_batches(load_table(spark, sf_dir, "documents"))


@register("dedup_containment")
def dedup_containment_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup

    return dedup.ngram_containment_pairs(load_table(spark, sf_dir, "documents"))


ORACLES["dedup_containment"] = f"""
WITH g AS (SELECT doc_id, lang, source, {_GRAMS} AS grams FROM documents)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       ROUND(len(list_intersect(a.grams, b.grams))::DOUBLE / len(a.grams), 4)
         AS containment
FROM g a JOIN g b
  ON a.lang = b.lang AND a.source = b.source AND a.doc_id <> b.doc_id
WHERE len(a.grams) > 0
  AND len(list_intersect(a.grams, b.grams))::DOUBLE / len(a.grams) >= 0.8
"""


# --- REAL multimodal decode (PPM / WAV codecs, operators/multimodal.py):
# synthetic payloads are pure integer functions of doc_id, so the oracle
# recomputes the DECODED facts from the same formulas — the codec path
# (header grammar, pixel/sample extraction, resize/resample index maps)
# is what's under test.
@register(
    "multimodal_image_decode",
    """
WITH dims AS (
  SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 3 AS h FROM documents
), px AS (
  SELECT doc_id, w, h, (doc_id * 7 + i.i) % 256 AS v
  FROM dims, LATERAL (SELECT UNNEST(range(w * h * 3)) AS i) i
)
SELECT doc_id, ANY_VALUE(w)::INT AS width, ANY_VALUE(h)::INT AS height,
       3 AS channels, ROUND(AVG(v), 4) AS byte_mean
FROM px GROUP BY doc_id ORDER BY doc_id
""",
)
def multimodal_image_decode_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    return multimodal.image_decode_features(multimodal.synthetic_ppm_media(docs))


# PNG leg of the same decode contract: identical pixel formula (the two
# generators share one oracle), but the payload is a REAL PNG — stdlib
# zlib inflate + all five scanline-filter inversions + chunk CRC checks
# (multimodal.decode_png). The per-row filter cycles (doc_id + y) % 5,
# so a wrong Sub/Average/Paeth inversion shifts byte_mean and fails the
# value hash.
@register(
    "multimodal_png_decode",
    """
WITH dims AS (
  SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 3 AS h FROM documents
), px AS (
  SELECT doc_id, w, h, (doc_id * 7 + i.i) % 256 AS v
  FROM dims, LATERAL (SELECT UNNEST(range(w * h * 3)) AS i) i
)
SELECT doc_id, ANY_VALUE(w)::INT AS width, ANY_VALUE(h)::INT AS height,
       3 AS channels, ROUND(AVG(v), 4) AS byte_mean
FROM px GROUP BY doc_id ORDER BY doc_id
""",
)
def multimodal_png_decode_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    return multimodal.image_decode_features(multimodal.synthetic_png_media(docs))


@register(
    "multimodal_image_resize_decoded",
    # nearest-neighbor grid map mirrored in SQL: resized flat index j ->
    # original pixel ((y*h//4)*w + x*w//4)*3 + c
    """
WITH dims AS (
  SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 3 AS h FROM documents
), cell AS (
  SELECT doc_id, j.j,
         ((((j.j // 3) // 4) * h // 4) * w + ((j.j // 3) % 4) * w // 4) * 3
           + j.j % 3 AS oi
  FROM dims, LATERAL (SELECT UNNEST(range(48)) AS j) j
)
SELECT doc_id, 4 AS out_w, 4 AS out_h,
       SUM((j + 1) * ((doc_id * 7 + oi) % 256))::BIGINT AS checksum
FROM cell GROUP BY doc_id ORDER BY doc_id
""",
)
def multimodal_image_resize_decoded_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    return multimodal.image_resize_decoded(multimodal.synthetic_ppm_media(docs))


@register(
    "multimodal_audio_decode",
    """
WITH lens AS (
  SELECT doc_id, 64 + doc_id % 50 AS n FROM documents
), s AS (
  SELECT doc_id, n, ((doc_id * 13 + i.i * 31) % 65536) - 32768 AS v
  FROM lens, LATERAL (SELECT UNNEST(range(n)) AS i) i
)
SELECT doc_id, 8000 AS sample_rate, ANY_VALUE(n) AS n_samples,
       ANY_VALUE(n) * 2 AS n_resampled, SUM(v)::BIGINT AS sample_sum
FROM s GROUP BY doc_id ORDER BY doc_id
""",
)
def multimodal_audio_decode_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    return multimodal.audio_decode_features(multimodal.synthetic_wav_media(docs))


@register(
    "heavy_hitters_cms",
    # identical md5-derived CMS table + min-over-cells estimates
    """
WITH cells AS (
  SELECT r.r AS r,
         CAST(concat('0x', substr(md5('cms' || r.r || ':' || user_id), 1, 15))
              AS UBIGINT) % 256 AS c,
         COUNT(*) AS n
  FROM events, (SELECT UNNEST(range(4)) AS r) r
  GROUP BY 1, 2
), top AS (
  SELECT user_id, exact_n FROM (
    SELECT user_id, COUNT(*) AS exact_n,
           ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, user_id) AS rk
    FROM events GROUP BY user_id
  ) WHERE rk <= 10
), probes AS (
  SELECT t.user_id, t.exact_n, r.r AS r,
         CAST(concat('0x', substr(md5('cms' || r.r || ':' || t.user_id), 1, 15))
              AS UBIGINT) % 256 AS c
  FROM top t, (SELECT UNNEST(range(4)) AS r) r
)
SELECT p.user_id, p.exact_n, MIN(ce.n) AS cms_n,
       MIN(ce.n) - p.exact_n AS overcount
FROM probes p JOIN cells ce ON p.r = ce.r AND p.c = ce.c
GROUP BY p.user_id, p.exact_n
ORDER BY p.exact_n DESC, p.user_id
""",
)
def heavy_hitters_cms_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.heavy_hitters_cms(load_events(spark, sf_dir))


@register(
    "streaming_asof_enrich",
    # foreachBatch as-of against the static orders snapshot: per-batch
    # results == the global batch as-of join (the match depends only on
    # the event row + the static table), so the oracle is the batch
    # as-of oracle verbatim
    """
WITH o1 AS (
  SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
  FROM orders GROUP BY o_custkey, o_orderdate
)
SELECT e.event_id, e.user_id, o.o_orderkey AS asof_orderkey
FROM events e ASOF LEFT JOIN o1 o
  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
""",
)
def streaming_asof_enrich_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..streaming import jobs

    stream = jobs.stream_events(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    out_dir = tempfile.mkdtemp(prefix="ksr_out_streaming_asof_enrich_")
    jobs.asof_enrich_stream(stream, orders, out_dir)
    return spark.read.schema(
        "event_id BIGINT, user_id BIGINT, asof_orderkey BIGINT"
    ).parquet(out_dir)


@register(
    "streaming_cms_cells",
    # the same CMS table built incrementally on the stream: cell
    # counters are pure additive state, so complete-mode output after
    # the AvailableNow drain equals the batch table — the
    # sketch-on-stream story (any key's estimate = min over its d
    # cells, servable mid-stream at every trigger)
    """
SELECT r.r AS r,
       CAST(concat('0x', substr(md5('cms' || r.r || ':' || user_id), 1, 15))
            AS UBIGINT) % 256 AS c,
       COUNT(*) AS n
FROM events, (SELECT UNNEST(range(4)) AS r) r
GROUP BY 1, 2
""",
)
def streaming_cms_cells_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import jobs

    stream = jobs.stream_events(spark, sf_dir)
    probes = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("r"),
                    F.pmod(
                        F.conv(
                            F.substring(
                                F.md5(
                                    F.concat(
                                        F.lit(f"cms{i}:"),
                                        F.col("user_id").cast("string"),
                                    )
                                ),
                                1,
                                15,
                            ),
                            16,
                            10,
                        ).cast("long"),
                        F.lit(256),
                    ).alias("c"),
                )
                for i in range(4)
            ]
        )
    )
    cells = (
        stream.select(probes.alias("rc"))
        .groupBy(F.col("rc.r").alias("r"), F.col("rc.c").alias("c"))
        .agg(F.count("*").alias("n"))
    )
    return jobs.run_available_now(cells, "streaming_cms_cells")


@register(
    "join_salted_skew",
    # salting is plan-internal: semantics = the plain equi-join
    """
SELECT e.event_id, e.user_id, c.c_nationkey
FROM events e JOIN customer c ON e.user_id = c.c_custkey
ORDER BY e.event_id
""",
)
def join_salted_skew_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.join_salted_skew(
        load_events(spark, sf_dir), load_table(spark, sf_dir, "customer")
    )


@register(
    "feature_quantile_bins",
    # decile EDGES via quantile_disc (identical to Spark's GK sketch
    # when group size <= accuracy), then the same strictly-below edge
    # count assignment — no per-row window on either side
    """
WITH edges AS (
  SELECT event_type,
         quantile_disc(value, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS edges
  FROM events GROUP BY event_type
), binned AS (
  SELECT e.event_type, e.value,
         1 + len(list_filter(d.edges, x -> e.value > x)) AS bucket
  FROM events e JOIN edges d USING (event_type)
)
SELECT event_type, bucket, COUNT(*) AS n,
       ROUND(MIN(value), 6) AS lo, ROUND(MAX(value), 6) AS hi
FROM binned GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def feature_quantile_bins_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.feature_quantile_bins(load_events(spark, sf_dir))


@register(
    "feature_quantile_bins_exact",
    """
WITH binned AS (
  SELECT event_type, value,
         NTILE(10) OVER (PARTITION BY event_type ORDER BY value, event_id) AS bucket
  FROM events
)
SELECT event_type, bucket, COUNT(*) AS n,
       ROUND(MIN(value), 6) AS lo, ROUND(MAX(value), 6) AS hi
FROM binned GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def feature_quantile_bins_exact_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.feature_quantile_bins_exact(load_events(spark, sf_dir))


@register(
    "ewma_smoothing",
    """
WITH win AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS vals
  FROM events
)
SELECT user_id, event_id, ts_us,
       ROUND(
         list_sum(list_transform(generate_series(1, len(vals)),
                  i -> vals[i] * POW(0.5, len(vals) - i)))
         / ((1 - POW(0.5, len(vals))) / 0.5), 6) AS ewma
FROM win
""",
)
def ewma_smoothing_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.ewma_smoothing(load_events(spark, sf_dir))


@register(
    "multimodal_dedup",
    f"""
WITH blobs AS (
  SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name,
         md5(decode(content)) AS content_md5
  FROM read_blob('{scratch("ksr_binfiles_dup")}/*.bin')
)
SELECT content_md5, MIN(file_name) AS canonical_file,
       CAST(COUNT(*) AS BIGINT) AS n_copies
FROM blobs GROUP BY content_md5 ORDER BY content_md5
""",
)
def multimodal_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup of media objects by content hash — the first pass
    over any scraped image/audio corpus (identical bytes re-collected
    under different names/URLs). The shuffle carries (md5, file_name)
    pairs, never blob bytes: hashing happens scan-side per file. The
    fixture packs 50 objects whose payloads repeat every 30 ids, so
    real duplicate groups exist; a deployment points the same plan at
    an object-store prefix (near-dup then proceeds via perceptual
    hashes in the multimodal UDF family)."""
    import os

    out = scratch("ksr_binfiles_dup")
    os.makedirs(out, exist_ok=True)
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 50)
        .select("doc_id", "text")
        .collect()  # 50-row fixture packing, not a data-path collect
    )
    by_id = {r.doc_id: r.text for r in docs}
    for doc_id in by_id:
        with open(f"{out}/obj_{doc_id:05d}.bin", "wb") as fh:
            fh.write(by_id[doc_id % 30].encode("utf-8"))
    binf = spark.read.format("binaryFile").option("pathGlobFilter", "*.bin").load(out)
    return (
        binf.select(
            F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
            F.md5(F.col("content")).alias("content_md5"),
        )
        .groupBy("content_md5")
        .agg(
            F.min("file_name").alias("canonical_file"),
            F.count("*").alias("n_copies"),
        )
        .orderBy("content_md5")
    )


@register(
    "schema_evolution_read",
    # batch 1 lacks `value`, batch 2 carries it: the merged read fills
    # NULLs for the missing column — oracle restates the union
    """
SELECT event_id, event_type,
       CASE WHEN event_id % 2 = 1 THEN value END AS value
FROM events
""",
)
def schema_evolution_read_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on the storage layer: two parquet batches with
    DIFFERENT schemas (a column added between ingestion generations)
    read as one table via mergeSchema — the contract every long-lived
    100 TB dataset depends on (old files never rewritten when a column
    lands). Footer-level merge only: no data rewrite, missing columns
    surface as NULLs, pruning still applies per file."""
    out_dir = _roundtrip_dir(sf_dir, "evolve")
    events = load_events(spark, sf_dir)
    (
        events.filter(F.col("event_id") % 2 == 0)
        .select("event_id", "event_type")
        .write.mode("overwrite")
        .parquet(f"{out_dir}/gen=1")
    )
    (
        events.filter(F.col("event_id") % 2 == 1)
        .select("event_id", "event_type", "value")
        .write.mode("overwrite")
        .parquet(f"{out_dir}/gen=2")
    )
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{out_dir}/gen=1", f"{out_dir}/gen=2"
    )
    return merged.select("event_id", "event_type", "value")


@register(
    "sink_partition_overwrite",
    # after dynamically overwriting ONE day with reprocessed values,
    # the read-back must equal: untouched days + the reprocessed day
    """
SELECT event_id, CASE WHEN CAST(ts AS DATE) = DATE '2024-01-15'
                      THEN value * 2 ELSE value END AS value,
       CAST(CAST(ts AS DATE) AS VARCHAR) AS day
FROM events
""",
)
def sink_partition_overwrite_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite: re-running one day of a
    date-partitioned table replaces ONLY that partition (INSERT
    OVERWRITE semantics with partitionOverwriteMode=dynamic) — the
    idempotent-backfill primitive of every partitioned 100 TB dataset;
    static overwrite would drop every other day."""
    out_dir = _roundtrip_dir(sf_dir, "dynover")
    events = load_events(spark, sf_dir).select(
        "event_id", "value", F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
    )
    events.write.mode("overwrite").partitionBy("day").parquet(out_dir)
    # reprocess one day (doubled values) and overwrite just its partition;
    # the mode is a per-write option, NOT a session conf — setting the
    # session-wide partitionOverwriteMode here would silently change the
    # semantics of every later partitioned overwrite on the shared session
    (
        events.filter(F.col("day") == "2024-01-15")
        .withColumn("value", F.col("value") * 2)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day")
        .parquet(out_dir)
    )
    return spark.read.parquet(out_dir).select("event_id", "value", "day")


@register(
    "streaming_attribution_full",
    # FULL OUTER stream-stream join: the left-outer oracle plus the
    # third leg — unmatched purchases emit (NULL, purchase_id) once the
    # terminal per-stream-min watermark passes the purchase time (the
    # youngest possibly-matching click is strictly older)
    """
WITH wm AS (
  SELECT LEAST(
           (SELECT MAX(ts) FROM events WHERE event_type = 'click'),
           (SELECT MAX(ts) FROM events WHERE event_type = 'purchase')
         ) - INTERVAL 2 HOUR AS w
),
matched AS (
  SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
  FROM events c JOIN events p
    ON c.user_id = p.user_id
   AND c.event_type = 'click' AND p.event_type = 'purchase'
   AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
),
unmatched_c AS (
  SELECT c.event_id AS click_id, CAST(NULL AS BIGINT) AS purchase_id,
         c.user_id
  FROM events c, wm
  WHERE c.event_type = 'click'
    AND c.ts + INTERVAL 1 HOUR < wm.w
    AND NOT EXISTS (
      SELECT 1 FROM events p
      WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
        AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    )
),
unmatched_p AS (
  SELECT CAST(NULL AS BIGINT) AS click_id, p.event_id AS purchase_id,
         p.user_id
  FROM events p, wm
  WHERE p.event_type = 'purchase'
    AND p.ts < wm.w
    AND NOT EXISTS (
      SELECT 1 FROM events c
      WHERE c.user_id = p.user_id AND c.event_type = 'click'
        AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    )
)
SELECT * FROM matched
UNION ALL SELECT * FROM unmatched_c
UNION ALL SELECT * FROM unmatched_p
""",
)
def streaming_attribution_full_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import jobs

    stream = jobs.stream_events(spark, sf_dir)
    return jobs.run_available_now(
        jobs.attribution_join(stream, "full_outer"), "streaming_attribution_full"
    )


@register(
    "agg_udaf_median",
    """
SELECT event_type, ROUND(MEDIAN(value), 6) AS median_value
FROM events GROUP BY event_type ORDER BY event_type
""",
)
def agg_udaf_median_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.agg_udaf_median(load_events(spark, sf_dir))


@register(
    "sink_compact_small_files",
    # compaction preserves content exactly — the oracle is the identity
    """
SELECT event_id, user_id, event_type, value FROM events
""",
)
def sink_compact_small_files_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: rewrite a fragmented table (here: 64
    tiny files, the classic streaming-sink residue) into
    target-byte-sized files computed from the actual input size — the
    maintenance pass that keeps scan task counts and parquet footer
    overhead sane on a 100 TB table. Row-count preservation is
    oracle-checked; the file-count collapse is pytest-asserted.
    Production twin: OPTIMIZE/rewriteDataFiles; expressed here with
    stock repartition + write."""
    frag_dir = _roundtrip_dir(sf_dir, "fragmented")
    compact_dir = _roundtrip_dir(sf_dir, "compacted")
    events = load_events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value"
    )
    events.repartition(64).write.mode("overwrite").parquet(frag_dir)
    fragmented = spark.read.parquet(frag_dir)
    import os

    total_bytes = sum(
        e.stat().st_size for e in os.scandir(frag_dir) if e.name.endswith(".parquet")
    )
    target_files = max(1, round(total_bytes / (8 * 1024 * 1024)))  # ~8 MiB files
    fragmented.repartition(target_files).write.mode("overwrite").parquet(compact_dir)
    return spark.read.parquet(compact_dir)


@register(
    "join_asof_tolerance",
    """
WITH o1 AS (
  SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
  FROM orders GROUP BY o_custkey, o_orderdate
)
SELECT e.event_id, e.user_id,
       CASE WHEN o.o_orderdate >= e.ts - INTERVAL 30 DAY
            THEN o.o_orderkey END AS near_orderkey
FROM events e ASOF LEFT JOIN o1 o
  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
""",
)
def join_asof_tolerance_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.join_asof_tolerance(
        load_events(spark, sf_dir), load_table(spark, sf_dir, "orders")
    )


@register(
    "bloom_semi_filter",
    # identical md5-derived bit positions; Bloom's no-false-negative
    # contract is visible as a zero (false, true) cell
    """
WITH member AS (
  SELECT DISTINCT o_custkey AS key FROM orders
  WHERE o_orderdate >= DATE '2001-01-01'
),
bits AS (
  SELECT DISTINCT
    CAST(concat('0x', substr(md5('bloom' || i.i || ':' || key), 1, 15))
         AS UBIGINT) % 4096 AS bit
  FROM member, (SELECT UNNEST(range(3)) AS i) i
),
probes AS (
  SELECT c_custkey AS key,
         CAST(concat('0x', substr(md5('bloom' || i.i || ':' || c_custkey), 1, 15))
              AS UBIGINT) % 4096 AS bit
  FROM customer, (SELECT UNNEST(range(3)) AS i) i
),
hits AS (
  SELECT key FROM probes p
  WHERE EXISTS (SELECT 1 FROM bits b WHERE b.bit = p.bit)
  GROUP BY key HAVING COUNT(*) = 3
)
SELECT c.c_custkey IN (SELECT key FROM hits) AS bloom_hit,
       c.c_custkey IN (SELECT key FROM member) AS actual_member,
       COUNT(*) AS n_customers
FROM customer c GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def bloom_semi_filter_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.bloom_semi_filter(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "customer")
    )


@register(
    "graph_triangles",
    # same degree-ordered orientation; every triangle counted once
    """
WITH raw AS (
  SELECT user_id % 200 AS p, event_id % 199 AS q FROM events
  WHERE user_id % 200 <> event_id % 199
),
edges AS (SELECT DISTINCT LEAST(p, q) AS u, GREATEST(p, q) AS v FROM raw),
deg AS (
  SELECT x, COUNT(*) AS deg FROM (
    SELECT u AS x FROM edges UNION ALL SELECT v AS x FROM edges
  ) GROUP BY x
),
ordered AS (
  SELECT CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
              THEN e.u ELSE e.v END AS a,
         CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
              THEN e.v ELSE e.u END AS b
  FROM edges e JOIN deg du ON du.x = e.u JOIN deg dv ON dv.x = e.v
),
wedges AS (
  SELECT e1.a AS a, e1.b AS b1, e2.b AS b2
  FROM ordered e1 JOIN ordered e2 ON e1.a = e2.a AND e1.b < e2.b
),
und AS (
  SELECT a AS b1, b AS b2 FROM ordered
  UNION
  SELECT b AS b1, a AS b2 FROM ordered
),
tris AS (
  SELECT w.a, w.b1, w.b2 FROM wedges w
  WHERE EXISTS (SELECT 1 FROM und WHERE und.b1 = w.b1 AND und.b2 = w.b2)
),
pv AS (
  SELECT vertex, COUNT(*) AS n_triangles FROM (
    SELECT a AS vertex FROM tris
    UNION ALL SELECT b1 AS vertex FROM tris
    UNION ALL SELECT b2 AS vertex FROM tris
  ) GROUP BY vertex ORDER BY n_triangles DESC, vertex LIMIT 10
),
tot AS (SELECT CAST(-1 AS BIGINT) AS vertex, COUNT(*) AS n_triangles FROM tris)
SELECT vertex, n_triangles FROM (
  SELECT * FROM pv UNION ALL SELECT * FROM tot
) ORDER BY n_triangles DESC, vertex
""",
)
def graph_triangles_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import graph

    return graph.triangle_count(load_events(spark, sf_dir))


@register(
    "gap_fill_interpolate",
    # identical micro-unit lerp: DuckDB // and Spark DIV both truncate,
    # and every term is non-negative
    """
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS hour,
         CAST(FLOOR(SUM(value) * 1e6 + 0.5) AS BIGINT) AS v_u
  FROM events GROUP BY 1, 2
), spans AS (
  SELECT user_id, MIN(hour) AS h0, MAX(hour) AS h1 FROM hourly GROUP BY 1
), grid AS (
  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
  FROM spans
), g AS (
  SELECT g.user_id, g.hour, h.v_u,
    LAST_VALUE(CASE WHEN h.v_u IS NOT NULL THEN
        struct_pack(t := CAST(epoch(g.hour) AS BIGINT), v_u := h.v_u)
      END IGNORE NULLS) OVER (
      PARTITION BY g.user_id ORDER BY g.hour
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev,
    FIRST_VALUE(CASE WHEN h.v_u IS NOT NULL THEN
        struct_pack(t := CAST(epoch(g.hour) AS BIGINT), v_u := h.v_u)
      END IGNORE NULLS) OVER (
      PARTITION BY g.user_id ORDER BY g.hour
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next
  FROM grid g LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hour = h.hour
)
SELECT user_id, strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour,
       v_u IS NOT NULL AS observed,
       (CASE WHEN v_u IS NOT NULL THEN v_u
             WHEN prev IS NOT NULL AND next IS NOT NULL THEN
               (prev.v_u * (next.t - CAST(epoch(hour) AS BIGINT))
                + next.v_u * (CAST(epoch(hour) AS BIGINT) - prev.t))
               // (next.t - prev.t)
        END) / 1e6 AS filled_value
FROM g ORDER BY user_id, hour
""",
)
def gap_fill_interpolate_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.gap_fill_interpolate(load_events(spark, sf_dir))


@register(
    "pareto_frontier",
    # same cent-quantized running-max skyline over strictly-smaller sizes
    """
WITH q AS (
  SELECT p_partkey, p_size,
         CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) AS price_c
  FROM part
), w AS (
  SELECT p_partkey, p_size, price_c,
         MAX(price_c) OVER (ORDER BY p_size
           RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_smaller
  FROM q
)
SELECT p_partkey, p_size, price_c / 100 AS p_retailprice
FROM w WHERE best_smaller IS NULL OR price_c > best_smaller
ORDER BY p_size, p_partkey
""",
)
def pareto_frontier_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.pareto_frontier(load_table(spark, sf_dir, "part"))


@register(
    "dsir_select",
    # identical md5 bucket ids and exact integer importance ratios
    """
WITH toks AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5('dsir:' || tok), 1, 15))
              AS UBIGINT) % 256 AS b,
         lang
  FROM (
    SELECT doc_id, lang,
           unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
    FROM documents
  ) WHERE tok <> ''
),
census AS (
  SELECT b, COUNT(*) AS n_raw,
         COUNT(CASE WHEN lang = 'en' THEN 1 END) AS n_target
  FROM toks GROUP BY b
),
ratios AS (
  SELECT b, (n_target + 1) * 1000000 // (n_raw + 1) AS ratio_u FROM census
)
SELECT doc_id, COUNT(*) AS n_tokens,
       CAST(SUM(ratio_u) // COUNT(*) AS BIGINT) AS score_u
FROM toks JOIN ratios USING (b)
GROUP BY doc_id ORDER BY score_u DESC, doc_id LIMIT 50
""",
)
def dsir_select_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.dsir_importance(load_table(spark, sf_dir, "documents"))


@register(
    "streaming_bloom_bits",
    # Bloom built incrementally on the stream: the bit set is the
    # distinct (hash-index x bit) relation over distinct keys —
    # dropDuplicates handles the exact-distinct state, and the drained
    # complete-mode table equals the batch build; bit-set union across
    # shards/streams is the Bloom merge rule
    """
SELECT i.i AS r,
       CAST(concat('0x', substr(md5('sbloom' || i.i || ':' || key), 1, 15))
            AS UBIGINT) % 4096 AS bit,
       COUNT(*) AS n_keys
FROM (SELECT DISTINCT user_id AS key FROM events),
     (SELECT UNNEST(range(3)) AS i) i
GROUP BY 1, 2
""",
)
def streaming_bloom_bits_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import jobs

    stream = jobs.stream_events(spark, sf_dir)
    probes = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("r"),
                    F.pmod(
                        F.conv(
                            F.substring(
                                F.md5(
                                    F.concat(
                                        F.lit(f"sbloom{i}:"),
                                        F.col("user_id").cast("string"),
                                    )
                                ),
                                1,
                                15,
                            ),
                            16,
                            10,
                        ).cast("long"),
                        F.lit(4096),
                    ).alias("bit"),
                )
                for i in range(3)
            ]
        )
    )
    bits = (
        stream.select("user_id")
        .dropDuplicates(["user_id"])
        .select(probes.alias("rb"))
        .groupBy(F.col("rb.r").alias("r"), F.col("rb.bit").alias("bit"))
        .agg(F.count("*").alias("n_keys"))
    )
    return jobs.run_available_now(bits, "streaming_bloom_bits")


@register(
    "graph_label_propagation",
    # three synchronous LPA rounds unrolled as CTEs; argmax = most
    # frequent neighbor label, smallest label on ties
    """
WITH raw AS (
  SELECT user_id % 200 AS p, event_id % 199 AS q FROM events
  WHERE user_id % 200 <> event_id % 199
),
edges AS (SELECT DISTINCT LEAST(p, q) AS u, GREATEST(p, q) AS v FROM raw),
und AS (
  SELECT u AS src, v AS dst FROM edges
  UNION ALL SELECT v AS src, u AS dst FROM edges
),
l0 AS (SELECT DISTINCT src AS vertex, src AS label FROM und),
v1 AS (
  SELECT dst, label, COUNT(*) AS cnt FROM und JOIN l0 ON und.src = l0.vertex
  GROUP BY dst, label
),
l1 AS (
  SELECT dst AS vertex, label FROM v1
  QUALIFY ROW_NUMBER() OVER (PARTITION BY dst ORDER BY cnt DESC, label) = 1
),
v2 AS (
  SELECT dst, label, COUNT(*) AS cnt FROM und JOIN l1 ON und.src = l1.vertex
  GROUP BY dst, label
),
l2 AS (
  SELECT dst AS vertex, label FROM v2
  QUALIFY ROW_NUMBER() OVER (PARTITION BY dst ORDER BY cnt DESC, label) = 1
),
v3 AS (
  SELECT dst, label, COUNT(*) AS cnt FROM und JOIN l2 ON und.src = l2.vertex
  GROUP BY dst, label
),
l3 AS (
  SELECT dst AS vertex, label FROM v3
  QUALIFY ROW_NUMBER() OVER (PARTITION BY dst ORDER BY cnt DESC, label) = 1
)
SELECT vertex, label FROM l3 ORDER BY vertex
""",
)
def graph_label_propagation_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import graph

    return graph.label_propagation(load_events(spark, sf_dir))


@register(
    "anomaly_mad",
    # discrete medians (quantile_disc == percentile_approx at
    # degenerate accuracy) keep both engines on actual data values
    """
WITH med AS (
  SELECT event_type, quantile_disc(value, 0.5) AS med
  FROM events GROUP BY event_type
),
resid AS (
  SELECT e.event_type, e.value, m.med, ABS(e.value - m.med) AS adev
  FROM events e JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, quantile_disc(adev, 0.5) AS mad FROM resid
  GROUP BY event_type
)
SELECT r.event_type, COUNT(*) AS n_events,
       COUNT(CASE WHEN r.adev > 3 * d.mad THEN 1 END) AS n_outliers,
       ROUND(MIN(r.med), 2) AS med, ROUND(MIN(d.mad), 2) AS mad,
       ROUND(MAX(CASE WHEN r.adev > 3 * d.mad THEN r.value END), 2)
         AS worst_value
FROM resid r JOIN mad d USING (event_type)
GROUP BY r.event_type ORDER BY r.event_type
""",
)
def anomaly_mad_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.anomaly_mad(load_events(spark, sf_dir))


@register(
    "rag_retrieval",
    # full mirror of the flagship RAG path: chunk arithmetic (the
    # chunk_documents oracle), md5 feature-hashed +-1 embeddings, and
    # exact integer dot-product ranking
    r"""
WITH toks AS (
  SELECT doc_id, str_split_regex(trim(text), '\s+') AS t FROM documents
),
chunks AS (
  SELECT doc_id, CAST(i AS INT) AS chunk_id,
         t[i * 48 + 1 : least((i * 48) + 64, len(t))] AS ct
  FROM toks, generate_series(0, 4096) AS g(i)
  WHERE i <= CEIL(GREATEST(len(t) - 64, 0) / 48.0)
),
tokr AS (SELECT doc_id, chunk_id, UNNEST(ct) AS tok FROM chunks),
vecs AS (
  SELECT doc_id, chunk_id,
         CAST(CAST(concat('0x', substr(md5('ragd:' || tok), 1, 15))
              AS UBIGINT) % 16 AS BIGINT) AS dim,
         CAST(SUM(1 - 2 * CAST(CAST(concat('0x', substr(md5('rags:' || tok), 1, 15))
              AS UBIGINT) % 2 AS BIGINT)) AS BIGINT) AS w
  FROM tokr GROUP BY 1, 2, 3
),
qids AS (SELECT doc_id AS q_doc FROM documents ORDER BY doc_id LIMIT 3),
qvecs AS (
  SELECT q.q_doc, v.dim AS qdim, v.w AS qw
  FROM vecs v JOIN qids q ON v.doc_id = q.q_doc WHERE v.chunk_id = 0
),
dots AS (
  SELECT q.q_doc, v.doc_id, v.chunk_id,
         CAST(SUM(v.w * q.qw) AS BIGINT) AS dot_u
  FROM vecs v JOIN qvecs q ON v.dim = q.qdim AND v.doc_id <> q.q_doc
  GROUP BY 1, 2, 3
)
SELECT q_doc, CAST(rank AS INT) AS rank, doc_id, chunk_id, dot_u FROM (
  SELECT q_doc, doc_id, chunk_id, dot_u,
         ROW_NUMBER() OVER (PARTITION BY q_doc
                            ORDER BY dot_u DESC, doc_id, chunk_id) AS rank
  FROM dots
) WHERE rank <= 5 ORDER BY q_doc, rank
""",
)
def rag_retrieval_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity

    return similarity.rag_retrieval(load_table(spark, sf_dir, "documents"))


@register(
    "ann_ivf_incremental",
    # milli-quantized integer centroids (SUM DIV n) and exact bigint
    # distances: assignment is bit-identical across engines
    """
WITH vecs AS (
  SELECT vec_id, label AS list_id,
         list_transform(embedding,
           v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS xu
  FROM embeddings
),
base AS (SELECT * FROM vecs WHERE vec_id % 10 <> 0),
delta AS (SELECT * FROM vecs WHERE vec_id % 10 = 0),
base_dims AS (
  SELECT list_id, generate_subscripts(xu, 1) - 1 AS pos, unnest(xu) AS v
  FROM base
),
centroids AS (
  SELECT list_id, pos, CAST(SUM(v) // COUNT(*) AS BIGINT) AS cu
  FROM base_dims GROUP BY 1, 2
),
delta_dims AS (
  SELECT vec_id, generate_subscripts(xu, 1) - 1 AS pos, unnest(xu) AS v
  FROM delta
),
d2 AS (
  SELECT d.vec_id, c.list_id,
         CAST(SUM((d.v - c.cu) * (d.v - c.cu)) AS BIGINT) AS d2
  FROM delta_dims d JOIN centroids c USING (pos)
  GROUP BY 1, 2
),
assigned AS (
  SELECT list_id, COUNT(*) AS n_delta FROM (
    SELECT vec_id, list_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, list_id) AS rn
    FROM d2
  ) WHERE rn = 1 GROUP BY list_id
),
nb AS (SELECT list_id, COUNT(*) AS n_base FROM base GROUP BY list_id)
SELECT nb.list_id, nb.n_base, COALESCE(a.n_delta, 0) AS n_delta,
       nb.n_base + COALESCE(a.n_delta, 0) AS n_total
FROM nb LEFT JOIN assigned a USING (list_id)
ORDER BY nb.list_id
""",
)
def ann_ivf_incremental_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity

    return similarity.ann_ivf_incremental(load_table(spark, sf_dir, "embeddings"))


@register(
    "source_mixture_temperature",
    # IEEE sqrt is correctly rounded: floor(sqrt(n*1e6)) is the same
    # bigint on both engines; quotas are exact integer proportions
    """
WITH counts AS (
  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
),
weighted AS (
  SELECT source, n_docs,
         CAST(FLOOR(SQRT(n_docs * 1000000)) AS BIGINT) AS weight_u
  FROM counts
),
total AS (SELECT CAST(SUM(weight_u) AS BIGINT) AS total_w FROM weighted)
SELECT source, n_docs, weight_u,
       CAST(10000 * weight_u // total_w AS BIGINT) AS quota
FROM weighted, total ORDER BY source
""",
)
def source_mixture_temperature_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.source_mixture_temperature(
        load_table(spark, sf_dir, "documents")
    )


@register(
    "join_shuffle_hash_hint",
    # the hint is plan-internal: semantics = the plain equi-join
    """
SELECT o.o_orderpriority, COUNT(*) AS n_pairs
FROM events e JOIN orders o ON e.user_id = o.o_custkey
GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
""",
)
def join_shuffle_hash_hint_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.join_shuffle_hash_hint(
        load_events(spark, sf_dir), load_table(spark, sf_dir, "orders")
    )


@register(
    "streaming_attribution_right",
    # RIGHT OUTER stream-stream join: matched rows equal the batch
    # self-join; organic purchases emit (NULL, purchase_id) once the
    # per-stream-min terminal watermark passes the purchase time
    """
WITH wm AS (
  SELECT LEAST(
           (SELECT MAX(ts) FROM events WHERE event_type = 'click'),
           (SELECT MAX(ts) FROM events WHERE event_type = 'purchase')
         ) - INTERVAL 2 HOUR AS w
),
matched AS (
  SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
  FROM events c JOIN events p
    ON c.user_id = p.user_id
   AND c.event_type = 'click' AND p.event_type = 'purchase'
   AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
),
unmatched_p AS (
  SELECT CAST(NULL AS BIGINT) AS click_id, p.event_id AS purchase_id,
         p.user_id
  FROM events p, wm
  WHERE p.event_type = 'purchase'
    AND p.ts < wm.w
    AND NOT EXISTS (
      SELECT 1 FROM events c
      WHERE c.user_id = p.user_id AND c.event_type = 'click'
        AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    )
)
SELECT * FROM matched UNION ALL SELECT * FROM unmatched_p
""",
)
def streaming_attribution_right_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import jobs

    stream = jobs.stream_events(spark, sf_dir)
    return jobs.run_available_now(
        jobs.attribution_join(stream, "right_outer"), "streaming_attribution_right"
    )


@register(
    "streaming_resume_exactly_once",
    # the whole point is that a RESTARTED job (same checkpoint) neither
    # loses nor duplicates: injected at-least-once replays are dropped
    # by dedup state recovered from the checkpoint, so the sink equals
    # the plain batch projection of the events exactly once
    """
SELECT event_id, user_id, event_type, value FROM events
""",
)
def streaming_resume_exactly_once_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exactly-once across a restart — the checkpoint-recovery story:

    phase 1: drain half-ish of the feed (AvailableNow) through
    dropDuplicates(event_id) into a parquet sink with a PERSISTENT
    checkpoint; phase 2: new files arrive INCLUDING at-least-once
    replays of phase-1 events (the upstream-retry failure mode the
    reference's fetch loop is exposed to, kinesisReader/index.js:39-44),
    and the SAME query restarts against the same checkpoint. The file
    source's processed-file log skips nothing and repeats nothing, and
    the dedup state store — recovered from the checkpoint, not rebuilt
    — drops every replay. The sink then equals the batch projection
    exactly once, which is the oracle.

    This is the operational guarantee the engine inherits from
    Structured Streaming's checkpoint protocol (WAL of file batches +
    versioned state store), demonstrated end-to-end rather than
    asserted."""
    import shutil
    import tempfile

    from ..session import ensure_confs
    from ..sources.tables import normalize_timestamps
    from ..streaming import jobs

    ensure_confs(spark)
    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream_dir = tempfile.mkdtemp(prefix="ksr_resume_src_")
    out_dir = tempfile.mkdtemp(prefix="ksr_resume_out_")
    ckpt_dir = tempfile.mkdtemp(prefix="ksr_resume_ckpt_")

    def drain() -> None:
        stream = normalize_timestamps(
            spark.readStream.schema(static.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(stream_dir)
        ).select("event_id", "user_id", "event_type", "value")
        writer = stream.dropDuplicates(["event_id"]).writeStream.format("parquet")
        jobs.drain(writer.option("path", out_dir), ckpt_dir, mode="append")

    try:
        # phase 1: the first 3/4 of events, 4 files
        static.filter(F.col("event_id") % 4 != 0).repartition(4).write.mode(
            "append"
        ).parquet(stream_dir)
        drain()
        # phase 2: the remaining quarter PLUS replays of phase-1 events
        static.filter(
            (F.col("event_id") % 4 == 0) | (F.col("event_id") % 3 == 0)
        ).repartition(3).write.mode("append").parquet(stream_dir)
        drain()
    finally:
        # only the sink survives: the returned DataFrame reads out_dir
        shutil.rmtree(stream_dir, ignore_errors=True)
        shutil.rmtree(ckpt_dir, ignore_errors=True)
    return spark.read.schema(
        "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE"
    ).parquet(out_dir)


@register(
    "expectations_check",
    # exact integer counts: the constraint report is engine-deterministic
    """
WITH agg AS (
  SELECT COUNT(*) AS n, COUNT(DISTINCT event_id) AS n_ids,
         COUNT(user_id) AS n_user,
         COUNT(CASE WHEN value >= 0 THEN 1 END) AS n_nonneg,
         COUNT(CASE WHEN event_type IN
               ('click','view','purchase','signup','error') THEN 1 END)
           AS n_domain
  FROM events
),
orph AS (
  SELECT COUNT(*) AS n_orphans FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
)
SELECT check_name, observed, threshold, passed FROM (
  SELECT 'events_nonempty' AS check_name, n AS observed,
         CAST(1 AS BIGINT) AS threshold, n >= 1 AS passed FROM agg
  UNION ALL
  SELECT 'event_id_unique', n_ids, n, n_ids = n FROM agg
  UNION ALL
  SELECT 'user_id_complete', n_user, n, n_user = n FROM agg
  UNION ALL
  SELECT 'value_nonnegative', n_nonneg, n, n_nonneg = n FROM agg
  UNION ALL
  SELECT 'event_type_in_domain', n_domain, n, n_domain = n FROM agg
  UNION ALL
  SELECT 'orders_custkey_refint', n_orphans, CAST(0 AS BIGINT),
         n_orphans = 0 FROM orph
) ORDER BY check_name
""",
)
def expectations_check_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.expectations_check(
        load_events(spark, sf_dir),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
    )


@register(
    "drift_report",
    # cross-multiplied TVD numerators: bigint-exact, no division or log
    """
WITH hist AS (
  SELECT CAST(FLOOR(value / 50) AS BIGINT) AS bucket,
         COUNT(CASE WHEN event_id % 2 = 0 THEN 1 END) AS n_a,
         COUNT(CASE WHEN event_id % 2 <> 0 THEN 1 END) AS n_b
  FROM events GROUP BY 1
),
totals AS (
  SELECT CAST(SUM(n_a) AS BIGINT) AS t_a, CAST(SUM(n_b) AS BIGINT) AS t_b
  FROM hist
)
SELECT bucket, n_a, n_b,
       ABS(n_a * t_b - n_b * t_a) AS dev_u
FROM hist, totals ORDER BY bucket
""",
)
def drift_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.drift_report(load_events(spark, sf_dir))


@register(
    "model_eval_auc",
    # same logits (quality_model_score CTE), same midrank algebra:
    # 2U is an exact bigint; one final IEEE division, floor-half-up
    f"""
WITH f AS (
  SELECT doc_id, lang,
         len({_TOKS})::DOUBLE AS n_tokens,
         length(text)::DOUBLE AS n_chars,
         len(list_filter({_TOKS}, t -> t IN ('the', 'a', 'of', 'and')))::DOUBLE
           AS n_stop,
         (length(text) - length(replace(text, '.', '')))::DOUBLE AS n_dots
  FROM documents
), wts AS (
  SELECT i.i AS i,
         2 * (CAST(concat('0x', substr(md5('qw:' || i.i), 1, 15)) AS UBIGINT)
              / 1152921504606846976.0) - 1 AS w
  FROM (SELECT UNNEST(range(5)) AS i) i
), z AS (
  SELECT f.doc_id, f.lang = 'en' AS is_pos,
         (SELECT w FROM wts WHERE i = 0) * (n_tokens / 100.0)
         + (SELECT w FROM wts WHERE i = 1) * (n_stop / (n_tokens + 1.0))
         + (SELECT w FROM wts WHERE i = 2) * (n_chars / (n_tokens + 1.0))
         + (SELECT w FROM wts WHERE i = 3) * (n_dots / (n_chars + 1.0))
         + (SELECT w FROM wts WHERE i = 4) AS z
  FROM f
), ranked AS (
  SELECT is_pos,
         FLOOR(z * 1e4 + 0.5) / 1e4 AS logit,
         RANK() OVER (ORDER BY FLOOR(z * 1e4 + 0.5) / 1e4) AS min_rank,
         COUNT(*) OVER (PARTITION BY FLOOR(z * 1e4 + 0.5) / 1e4) AS ties
  FROM z
), agg AS (
  SELECT COUNT(CASE WHEN is_pos THEN 1 END) AS n_pos,
         COUNT(CASE WHEN NOT is_pos THEN 1 END) AS n_neg,
         CAST(SUM(CASE WHEN is_pos THEN 2 * min_rank + ties - 1 ELSE 0 END)
              - COUNT(CASE WHEN is_pos THEN 1 END)
                * (COUNT(CASE WHEN is_pos THEN 1 END) + 1) AS BIGINT) AS u2
  FROM ranked
)
SELECT n_pos, n_neg, u2,
       FLOOR(u2 / (2.0 * n_pos * n_neg) * 1e6 + 0.5) / 1e6 AS auc
FROM agg
""",
)
def model_eval_auc_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.model_eval_auc(load_table(spark, sf_dir, "documents"))


def _bpe_round_sql(i: int) -> str:
    """One unrolled BPE round: pair census + argmax + greedy merge
    (identical window algebra to operators/text.bpe_train_merges)."""
    p, n = f"s{i - 1}", i
    return f"""
r{n}_lead AS (
  SELECT w, freq, seq, sym,
         LEAD(sym) OVER (PARTITION BY w ORDER BY seq) AS nxt
  FROM {p}
),
r{n}_best AS MATERIALIZED (
  -- MATERIALIZED (round 12): the argmax is referenced as a scalar
  -- subquery 4x per round; without the hint DuckDB re-evaluates the
  -- whole upstream chain per reference — 4^rounds blowup that turned
  -- the 6-round byte-level oracle from 0.4 s into 9+ minutes
  SELECT sym AS a, nxt AS b, CAST(SUM(freq) AS BIGINT) AS pair_count
  FROM r{n}_lead WHERE nxt IS NOT NULL
  GROUP BY sym, nxt ORDER BY pair_count DESC, sym, nxt LIMIT 1
),
r{n}_marked AS (
  SELECT w, freq, seq, sym, nxt,
         (sym = (SELECT a FROM r{n}_best)
          AND nxt = (SELECT b FROM r{n}_best)) AS cand,
         SUM(CASE WHEN sym = (SELECT a FROM r{n}_best)
                   AND nxt = (SELECT b FROM r{n}_best)
             THEN 1 ELSE 0 END)
           OVER (PARTITION BY w ORDER BY seq) AS crn
  FROM r{n}_lead
),
r{n}_keep AS (
  SELECT w, freq, seq, sym, nxt,
         cand AND ((seq - MIN(seq) OVER (PARTITION BY w,
             CASE WHEN cand THEN seq - crn END)) % 2 = 0) AS keep
  FROM r{n}_marked
),
r{n}_drop AS (
  SELECT w, freq, seq, sym, nxt, keep,
         COALESCE(LAG(keep) OVER (PARTITION BY w ORDER BY seq), FALSE) AS drp
  FROM r{n}_keep
),
s{n} AS (
  SELECT w, freq,
         ROW_NUMBER() OVER (PARTITION BY w ORDER BY seq) - 1 AS seq,
         CASE WHEN keep THEN sym || nxt ELSE sym END AS sym
  FROM r{n}_drop WHERE NOT COALESCE(drp, FALSE)
)"""


_BPE_ORACLE = (
    """
WITH words AS (
  SELECT w, COUNT(*) AS freq FROM (
    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
    FROM documents
  ) WHERE w <> '' GROUP BY w
),
s0 AS (
  SELECT w, freq, generate_subscripts(syms, 1) - 1 AS seq, unnest(syms) AS sym
  FROM (SELECT w, freq,
               list_filter(string_split(w, ''), c -> c <> '') AS syms
        FROM words)
),"""
    + ",".join(_bpe_round_sql(i) for i in (1, 2, 3))
    + """
SELECT * FROM (
  SELECT 1 AS round, a AS lhs, b AS rhs, pair_count FROM r1_best
  UNION ALL SELECT 2, a, b, pair_count FROM r2_best
  UNION ALL SELECT 3, a, b, pair_count FROM r3_best
) ORDER BY round
"""
)


@register("bpe_train_merges", _BPE_ORACLE)
def bpe_train_merges_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.bpe_train_merges(load_table(spark, sf_dir, "documents"))


@register(
    "interval_coverage",
    # same sweep line: +1 on the start day, -1 the day after the end
    """
WITH deltas AS (
  SELECT day, CAST(SUM(delta) AS BIGINT) AS d FROM (
    SELECT CAST(o_orderdate AS DATE) AS day, 1 AS delta FROM orders
    UNION ALL
    SELECT CAST(o_orderdate AS DATE) + INTERVAL 31 DAY, -1 FROM orders
  ) GROUP BY day
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       CAST(SUM(d) OVER (ORDER BY day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS n_active
FROM deltas ORDER BY day
""",
)
def interval_coverage_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.interval_coverage(load_table(spark, sf_dir, "orders"))


@register(
    "drift_ks",
    # exact integer ECDF cross-products; one final IEEE division
    """
WITH per_val AS (
  SELECT value,
         COUNT(CASE WHEN event_id % 2 = 0 THEN 1 END) AS n_a,
         COUNT(CASE WHEN event_id % 2 <> 0 THEN 1 END) AS n_b
  FROM events GROUP BY value
),
cum AS (
  SELECT SUM(n_a) OVER (ORDER BY value
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
         SUM(n_b) OVER (ORDER BY value
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b
  FROM per_val
),
totals AS (
  SELECT CAST(SUM(n_a) AS BIGINT) AS t_a, CAST(SUM(n_b) AS BIGINT) AS t_b
  FROM per_val
)
SELECT t_a AS n_a, t_b AS n_b,
       CAST(MAX(ABS(cum_a * t_b - cum_b * t_a)) AS BIGINT) AS d_num,
       FLOOR(CAST(MAX(ABS(cum_a * t_b - cum_b * t_a)) AS BIGINT)
             / (t_a * t_b) * 1e6 + 0.5) / 1e6 AS ks_d
FROM cum, totals GROUP BY t_a, t_b
""",
)
def drift_ks_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.drift_ks(load_events(spark, sf_dir))


_BPE_VOCAB_ORACLE = _BPE_ORACLE.split("SELECT * FROM (")[0] + """
SELECT sym, CAST(SUM(freq) AS BIGINT) AS n_occurrences
FROM s3 GROUP BY sym ORDER BY n_occurrences DESC, sym LIMIT 20
"""


@register("bpe_encoded_vocab", _BPE_VOCAB_ORACLE)
def bpe_encoded_vocab_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.bpe_encoded_vocab(load_table(spark, sf_dir, "documents"))


@register(
    "sink_python_datasource",
    # full write -> read round trip through BOTH halves of the Python
    # DataSource: rows serialize to wire pages (<=500 records per
    # flush, the PutRecords limit), land in shard files via the
    # writer's commit protocol, and read back through the reader
    # partition-per-shard — identity oracle on the event projection
    """
SELECT event_id, user_id, event_type, value FROM events
""",
)
def sink_python_datasource_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..sources.python_source import KinesisBackfillDataSource

    spark.dataSource.register(KinesisBackfillDataSource)
    events = load_events(spark, sf_dir)
    payload = F.to_json(
        F.struct("event_id", "user_id", "event_type", "value")
    )
    wire = events.select(F.encode(payload, "utf-8").alias("data")).repartition(
        4, F.col("data")
    )
    out_dir = tempfile.mkdtemp(prefix="ksr_wire_out_")
    wire.write.format("kinesis_backfill").option("path", out_dir).mode(
        "append"
    ).save()
    back = (
        spark.read.format("kinesis_backfill").option("path", out_dir).load()
    )
    parsed = back.select(
        F.from_json(
            F.decode("data", "utf-8"),
            "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE",
        ).alias("r")
    )
    return parsed.select("r.event_id", "r.user_id", "r.event_type", "r.value").orderBy(
        "event_id"
    )


@register(
    "table_checksum",
    # same 60-bit md5 row hashes, same XOR fold: order-independent on
    # both engines; quantized ints avoid float-formatting divergence
    """
WITH ev AS (
  SELECT CAST(concat('0x', substr(md5(
           event_id || chr(31) || strftime(ts, '%Y-%m-%d %H:%M:%S')
           || chr(31) || user_id || chr(31) || event_type || chr(31)
           || CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT)), 1, 15))
         AS UBIGINT) AS h
  FROM events
),
od AS (
  SELECT CAST(concat('0x', substr(md5(
           o_orderkey || chr(31) || o_custkey || chr(31)
           || CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)), 1, 15))
         AS UBIGINT) AS h
  FROM orders
),
li AS (
  SELECT CAST(concat('0x', substr(md5(
           l_orderkey || chr(31) || l_linenumber || chr(31)
           || CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)), 1, 15))
         AS UBIGINT) AS h
  FROM lineitem
)
SELECT table_name, n_rows, checksum FROM (
  SELECT 'events' AS table_name, COUNT(*) AS n_rows,
         CAST(bit_xor(h) AS BIGINT) AS checksum FROM ev
  UNION ALL
  SELECT 'lineitem', COUNT(*), CAST(bit_xor(h) AS BIGINT) FROM li
  UNION ALL
  SELECT 'orders', COUNT(*), CAST(bit_xor(h) AS BIGINT) FROM od
) ORDER BY table_name
""",
)
def table_checksum_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.table_checksum(
        load_events(spark, sf_dir),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "funnel_asof_chain",
    # two chained ASOF legs, ties pre-collapsed to MAX(event_id) per
    # (user, ts) so both engines' as-of picks are identical
    """
WITH p AS (
  SELECT user_id, event_id AS purchase_id, ts AS p_ts
  FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, ts, MAX(event_id) AS event_id
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
),
v AS (
  SELECT user_id, ts, MAX(event_id) AS event_id
  FROM events WHERE event_type = 'view' GROUP BY user_id, ts
),
s1 AS (
  SELECT p.user_id, p.purchase_id, p.p_ts,
         c.ts AS click_ts, c.event_id AS click_id_raw
  FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.p_ts >= c.ts
),
s2 AS (
  SELECT s1.user_id, s1.purchase_id, s1.p_ts, s1.click_ts, s1.click_id_raw,
         v.ts AS view_ts, v.event_id AS view_id_raw
  FROM s1 ASOF LEFT JOIN v
    ON s1.user_id = v.user_id AND s1.click_ts >= v.ts
)
SELECT user_id, purchase_id,
       CASE WHEN click_ts >= p_ts - INTERVAL 2 HOUR
            THEN click_id_raw END AS click_id,
       CASE WHEN click_ts >= p_ts - INTERVAL 2 HOUR
             AND view_ts >= click_ts - INTERVAL 2 HOUR
            THEN view_id_raw END AS view_id
FROM s2 ORDER BY purchase_id
""",
)
def funnel_asof_chain_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.funnel_asof_chain(load_events(spark, sf_dir))


@register(
    "bigram_logprob",
    # head counts come from the BIGRAM relation (tokens with a
    # successor), so P(.|w) sums to 1 per head exactly
    """
WITH toks AS (
  SELECT doc_id, pos, tok FROM (
    SELECT doc_id,
           generate_subscripts(t, 1) AS pos, unnest(t) AS tok
    FROM (SELECT doc_id,
                 string_split_regex(lower(trim(text)), '\\s+') AS t
          FROM documents)
  ) WHERE tok <> ''
),
bigrams AS (
  SELECT doc_id, tok, nxt FROM (
    SELECT doc_id, tok,
           LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
    FROM toks
  ) WHERE nxt IS NOT NULL
),
pc AS (SELECT tok, nxt, COUNT(*) AS c2 FROM bigrams GROUP BY tok, nxt),
hc AS (SELECT tok, COUNT(*) AS c1 FROM bigrams GROUP BY tok)
SELECT b.doc_id, COUNT(*) AS n_bigrams,
       ROUND(AVG(LN(pc.c2 / hc.c1)), 6) AS avg_logprob
FROM bigrams b JOIN pc ON b.tok = pc.tok AND b.nxt = pc.nxt
JOIN hc ON b.tok = hc.tok
GROUP BY b.doc_id ORDER BY b.doc_id
""",
)
def bigram_logprob_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.bigram_logprob(load_table(spark, sf_dir, "documents"))


@register(
    "minhash_estimate_report",
    # identical md5 permutations over the same string grams; errors
    # quantize through one fixed IEEE expression
    f"""
WITH g AS (SELECT doc_id, lang, source, {_GRAMS} AS grams FROM documents),
pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         ROUND(len(list_intersect(a.grams, b.grams))::DOUBLE
               / len(list_distinct(list_concat(a.grams, b.grams))), 4) AS jaccard
  FROM g a JOIN g b
    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
  WHERE len(list_intersect(a.grams, b.grams))::DOUBLE
        / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.3
),
gr AS (SELECT doc_id, UNNEST(grams) AS gram FROM g),
sig AS (
  SELECT doc_id, i.i AS i,
         MIN(CAST(CAST(concat('0x', substr(md5('mh' || i.i || ':' || gram), 1, 15))
             AS UBIGINT) AS BIGINT)) AS m
  FROM gr, (SELECT UNNEST(range(32)) AS i) i
  GROUP BY doc_id, i.i
),
matched AS (
  SELECT p.a_id, p.b_id, p.jaccard,
         SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS matches
  FROM pairs p
  JOIN sig sa ON sa.doc_id = p.a_id
  JOIN sig sb ON sb.doc_id = p.b_id AND sb.i = sa.i
  GROUP BY 1, 2, 3
),
per AS (
  SELECT jaccard, matches / 32.0 AS est,
         CAST(FLOOR(ABS(matches / 32.0 - jaccard) * 1e6 + 0.5) AS BIGINT) AS err_u
  FROM matched
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(err_u) // COUNT(*) AS BIGINT) AS mean_err_u,
       CAST(MAX(err_u) AS BIGINT) AS max_err_u,
       COUNT(CASE WHEN est > jaccard THEN 1 END) AS n_over,
       COUNT(CASE WHEN est < jaccard THEN 1 END) AS n_under
FROM per
""",
)
def minhash_estimate_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup

    return dedup.minhash_estimate_report(load_table(spark, sf_dir, "documents"))


@register(
    "agg_boxplot",
    # discrete quartiles (quantile_disc twin); whisker flags exact
    """
WITH q AS (
  SELECT event_type,
         quantile_disc(value, 0.25) AS q1,
         quantile_disc(value, 0.5) AS med,
         quantile_disc(value, 0.75) AS q3
  FROM events GROUP BY event_type
)
SELECT e.event_type, COUNT(*) AS n,
       ROUND(MIN(q.q1), 2) AS q1, ROUND(MIN(q.med), 2) AS med,
       ROUND(MIN(q.q3), 2) AS q3,
       COUNT(CASE WHEN e.value < q.q1 - 1.5 * (q.q3 - q.q1) THEN 1 END)
         AS n_low_outliers,
       COUNT(CASE WHEN e.value > q.q3 + 1.5 * (q.q3 - q.q1) THEN 1 END)
         AS n_high_outliers
FROM events e JOIN q USING (event_type)
GROUP BY e.event_type ORDER BY e.event_type
""",
)
def agg_boxplot_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.agg_boxplot(load_events(spark, sf_dir))


@register(
    "k_anonymity_report",
    # exact integer class sizes over the quasi-identifier domain
    """
WITH classes AS (
  SELECT event_type, EXTRACT(HOUR FROM ts) AS hod, user_id % 100 AS cohort,
         COUNT(*) AS sz
  FROM events GROUP BY 1, 2, 3
)
SELECT CAST(SUM(sz) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(MIN(sz) AS BIGINT) AS min_class_size,
       COUNT(CASE WHEN sz < 5 THEN 1 END) AS n_classes_below_k,
       CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
         AS n_rows_at_risk
FROM classes
""",
)
def k_anonymity_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.k_anonymity_report(load_events(spark, sf_dir))


@register(
    "obs_metrics",
    # the observed metrics equal the plain aggregates — observe() just
    # piggybacks them on the pipeline's own pass
    """
SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 4) AS sum_value,
       COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_clicks,
       MAX(value) AS max_value
FROM events
""",
)
def obs_metrics_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability via the Observation API: the metrics a
    production job reports per run (row counts, value mass, class
    counts) ride the SAME job as the pipeline's real action — observe()
    attaches accumulator-backed aggregates to a plan node, so the scan
    is paid ONCE and the metrics cost nothing extra (vs a second
    .agg() pass that rescans at 100 TB). The correctness contract:
    observed metrics == the standalone aggregates, which is the
    oracle."""
    from pyspark.sql import Observation

    events = load_events(spark, sf_dir)
    obs = Observation("pipeline_metrics")
    observed = events.observe(
        obs,
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
        F.count(F.when(F.col("event_type") == "click", 1)).alias("n_clicks"),
        # DISTINCT aggregates are rejected in observed metrics (they
        # can't ride an accumulator) — max is the idiomatic substitute
        F.max("value").alias("max_value"),
    )
    # the pipeline's own action materializes the metrics as a side effect
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return tiny_df(
        spark,
        [(m["n_events"], m["sum_value"], m["n_clicks"], m["max_value"])],
        "n_events BIGINT, sum_value DOUBLE, n_clicks BIGINT, max_value DOUBLE",
    )


@register(
    "html_extract_text",
    # identical synthetic pages, identical RE2-safe extraction
    """
WITH pages AS (
  SELECT doc_id, text,
         '<html><head><title>Doc ' || doc_id
         || '</title><meta charset="utf-8"></head><body>'
         || '<nav>home | about | contact</nav>'
         || '<div class="ad">SPONSORED: buy now</div><p>'
         || text || '</p><footer>(c) 2026 example.com</footer></body></html>'
           AS html
  FROM documents
),
ex AS (
  SELECT doc_id, text, html,
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(html, '<head>.*?</head>', ' ', 'g'),
            '<nav>.*?</nav>', ' ', 'g'),
          '<div class="ad">.*?</div>', ' ', 'g'),
        '<footer>.*?</footer>', ' ', 'g'),
      '<[^>]+>', ' ', 'g')) AS extracted
  FROM pages
)
SELECT doc_id, length(html) AS n_chars_html,
       length(regexp_replace(extracted, '\\s+', ' ', 'g')) AS n_chars_extracted,
       regexp_replace(extracted, '\\s+', ' ', 'g')
         = regexp_replace(trim(text), '\\s+', ' ', 'g') AS roundtrip_ok,
       md5(regexp_replace(extracted, '\\s+', ' ', 'g')) AS fingerprint
FROM ex ORDER BY doc_id
""",
)
def html_extract_text_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.html_extract_text(load_table(spark, sf_dir, "documents"))


