"""Registry slice: mechanical round-6 split of the original single-file
registry.py (22.4k LoC) into family modules — see registry/__init__.py.
Slice order is preserved; oracle-builder helpers that read ORACLES at
import time rely on it."""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403
from ..operators import tiny_df
from ._shared import _FLAT_COLS, _nested_events  # noqa: F401
from .r2_stats_streams import _TOKS_CTE  # noqa: F401
from .r2_state_retrieval import _bpe_round_sql  # noqa: F401
from .r1_parity_ext import _TOKS  # noqa: F401

# ---------------------------------------------------------------------------
# ext (round 3): published rule-filter gates + curriculum ordering — the
# named heuristic stages (Gopher repetition rules, C4 quality rules) and
# the difficulty-banded shard layout a trainer consumes. Reference has no
# text surface; extension mandated by the north star.
# ---------------------------------------------------------------------------


@register(
    "gopher_repetition_rules",
    # mirror of text.gopher_repetition_rules: same n-gram construction
    # (1-based list indexing in DuckDB), same dup-mass/top-share ratios,
    # same published thresholds on the ROUNDED values
    """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents
), g2 AS (
  SELECT doc_id, g.g FROM t, LATERAL UNNEST(
    CASE WHEN len(toks) >= 2
         THEN list_transform(generate_series(1, len(toks) - 1),
                             i -> toks[i] || ' ' || toks[i + 1])
         ELSE []::VARCHAR[] END) AS g(g)
), g3 AS (
  SELECT doc_id, g.g FROM t, LATERAL UNNEST(
    CASE WHEN len(toks) >= 3
         THEN list_transform(generate_series(1, len(toks) - 2),
                             i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])
         ELSE []::VARCHAR[] END) AS g(g)
), s2 AS (
  SELECT doc_id, SUM(cnt) AS total,
         SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup, MAX(cnt) AS top
  FROM (SELECT doc_id, g, COUNT(*) AS cnt FROM g2 GROUP BY doc_id, g)
  GROUP BY doc_id
), s3 AS (
  SELECT doc_id, SUM(cnt) AS total,
         SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup
  FROM (SELECT doc_id, g, COUNT(*) AS cnt FROM g3 GROUP BY doc_id, g)
  GROUP BY doc_id
), m AS (
  SELECT s2.doc_id,
         ROUND(s2.dup / s2.total, 4) AS dup_2gram_mass,
         ROUND(COALESCE(s3.dup / s3.total, 0), 4) AS dup_3gram_mass,
         ROUND(s2.top / s2.total, 4) AS top_2gram_share
  FROM s2 LEFT JOIN s3 USING (doc_id)
)
SELECT doc_id, dup_2gram_mass, dup_3gram_mass, top_2gram_share,
       (dup_2gram_mass > 0.2 OR dup_3gram_mass > 0.18
        OR top_2gram_share > 0.2) AS fails_repetition
FROM m ORDER BY doc_id
""",
)
def gopher_repetition_rules_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.gopher_repetition_rules(load_table(spark, sf_dir, "documents"))


@register(
    "c4_quality_filters",
    # mirror of text.c4_quality_filters: boolean gates computed on the
    # UNROUNDED mean word length in both engines
    """
WITH t AS (
  SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents
), m AS (
  SELECT doc_id, toks, text,
         len(toks)::BIGINT AS n_words,
         length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE / len(toks)
           AS mwl
  FROM t
)
SELECT doc_id, n_words,
       ROUND(mwl, 4) AS mean_word_len,
       (n_words >= 50 AND n_words <= 10000) AS ok_word_count,
       (mwl >= 3.0 AND mwl <= 10.0) AS ok_mean_word_len,
       NOT contains(text, '{') AS ok_no_brace,
       (len(list_filter(toks, x -> lower(x) IN ('javascript', 'lorem'))) = 0)
         AS ok_no_blocklist,
       ((n_words >= 50 AND n_words <= 10000)
        AND (mwl >= 3.0 AND mwl <= 10.0)
        AND NOT contains(text, '{')
        AND len(list_filter(toks, x -> lower(x) IN ('javascript', 'lorem'))) = 0)
         AS keep
FROM m ORDER BY doc_id
""",
)
def c4_quality_filters_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.c4_quality_filters(load_table(spark, sf_dir, "documents"))


@register(
    "curriculum_shards",
    # same quality-model CTE as model_eval_auc, then the value-census
    # decile construction (prefix-sum over distinct quantized logits)
    # and the md5-keyed within-shard shuffle — every window mirrored
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
         FLOOR((
           (SELECT w FROM wts WHERE i = 0) * (n_tokens / 100.0)
           + (SELECT w FROM wts WHERE i = 1) * (n_stop / (n_tokens + 1.0))
           + (SELECT w FROM wts WHERE i = 2) * (n_chars / (n_tokens + 1.0))
           + (SELECT w FROM wts WHERE i = 3) * (n_dots / (n_chars + 1.0))
           + (SELECT w FROM wts WHERE i = 4)) * 1e4 + 0.5)::BIGINT AS lv
  FROM f
), census AS (
  SELECT lv, COUNT(*) AS c FROM z GROUP BY lv
), ranked AS (
  SELECT lv,
         COALESCE(SUM(c) OVER (ORDER BY lv
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS first_rank,
         SUM(c) OVER () AS total
  FROM census
), edges AS (
  SELECT lv,
         (9 - LEAST(9, FLOOR(first_rank * 10 / CAST(total AS DOUBLE))))::INT
           AS shard
  FROM ranked
), ws AS (
  SELECT z.doc_id, e.shard FROM z JOIN edges e USING (lv)
)
SELECT doc_id, shard,
       (ROW_NUMBER() OVER (PARTITION BY shard
          ORDER BY md5('curriculum:' || doc_id), doc_id) - 1) AS position,
       COUNT(*) OVER (PARTITION BY shard) AS n_in_shard
FROM ws ORDER BY shard, position
""",
)
def curriculum_shards_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.curriculum_shards(load_table(spark, sf_dir, "documents"))


@register(
    "ccnet_perplexity_buckets",
    # bigram_logprob's LM CTEs (per-lang), then the per-lang tercile
    # census: prefix-sum over distinct rounded scores, head = highest
    # avg logprob (lowest perplexity)
    """
WITH toks AS (
  SELECT doc_id, lang, pos, tok FROM (
    SELECT doc_id, lang,
           generate_subscripts(t, 1) AS pos, unnest(t) AS tok
    FROM (SELECT doc_id, lang,
                 string_split_regex(lower(trim(text)), '\\s+') AS t
          FROM documents)
  ) WHERE tok <> ''
),
bigrams AS (
  SELECT doc_id, lang, tok, nxt FROM (
    SELECT doc_id, lang, tok,
           LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
    FROM toks
  ) WHERE nxt IS NOT NULL
),
pc AS (SELECT tok, nxt, COUNT(*) AS c2 FROM bigrams GROUP BY tok, nxt),
hc AS (SELECT tok, COUNT(*) AS c1 FROM bigrams GROUP BY tok),
scored AS (
  SELECT b.doc_id, b.lang, ROUND(AVG(LN(pc.c2 / hc.c1)), 6) AS score
  FROM bigrams b JOIN pc ON b.tok = pc.tok AND b.nxt = pc.nxt
  JOIN hc ON b.tok = hc.tok
  GROUP BY b.doc_id, b.lang
),
census AS (SELECT lang, score, COUNT(*) AS c FROM scored GROUP BY lang, score),
edges AS (
  SELECT lang, score,
         COALESCE(SUM(c) OVER (PARTITION BY lang ORDER BY score DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS first_rank,
         SUM(c) OVER (PARTITION BY lang) AS total
  FROM census
),
bk AS (
  SELECT lang, score,
         (['head', 'middle', 'tail'])[
           LEAST(2, FLOOR(first_rank * 3 / CAST(total AS DOUBLE)))::INT + 1
         ] AS bucket
  FROM edges
)
SELECT s.doc_id, s.lang, s.score, bk.bucket
FROM scored s JOIN bk USING (lang, score) ORDER BY s.doc_id
""",
)
def ccnet_perplexity_buckets_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.ccnet_perplexity_buckets(load_table(spark, sf_dir, "documents"))


@register(
    "ann_ivfpq",
    # composition of the ann_ivf probe CTEs and the ann_pq ADC CTEs,
    # candidates restricted to the probed inverted lists
    """
WITH e AS (SELECT vec_id, label AS list_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
cent AS (
  SELECT list_id, array_agg(m ORDER BY i) AS c FROM (
    SELECT list_id, i, AVG(v[i]) AS m
    FROM e, generate_series(1, 64) AS t(i)
    GROUP BY list_id, i
  ) GROUP BY list_id
),
probe AS (
  SELECT list_id FROM cent, q
  ORDER BY list_cosine_similarity(c, qv) DESC, list_id LIMIT 2
),
cand AS (SELECT vec_id FROM e JOIN probe USING (list_id)),
parts AS (
  SELECT vec_id, s.s AS sub_id, v[s.s * 16 + 1 : (s.s + 1) * 16] AS sv
  FROM e, (SELECT UNNEST(range(4)) AS s) s
), codes AS (
  SELECT sub_id AS c_sub, vec_id AS code_id, sv AS cv FROM parts WHERE vec_id < 8
), scored AS (
  SELECT p.vec_id, p.sub_id, c.code_id,
         CAST(FLOOR(list_sum(list_transform(range(1, 17),
                i -> (p.sv[i] - c.cv[i]) * (p.sv[i] - c.cv[i]))) * 1000 + 0.5)
              AS BIGINT) AS d_milli
  FROM parts p JOIN codes c ON p.sub_id = c.c_sub
), assign AS (
  SELECT vec_id, sub_id, MIN(d_milli * 8 + code_id) % 8 AS code
  FROM scored
  WHERE vec_id IN (SELECT vec_id FROM cand)
  GROUP BY vec_id, sub_id
), lut AS (
  SELECT s.sub_id, s.code_id, s.d_milli AS q_milli
  FROM scored s WHERE s.vec_id = 0
)
SELECT a.vec_id, SUM(l.q_milli) / 1000 AS adc_dist
FROM assign a JOIN lut l ON a.sub_id = l.sub_id AND a.code = l.code_id
WHERE a.vec_id <> 0
GROUP BY a.vec_id
ORDER BY adc_dist, a.vec_id LIMIT 10
""",
)
def ann_ivfpq_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity

    return similarity.ann_ivfpq(load_table(spark, sf_dir, "embeddings"))


@register(
    "multimodal_scene_cuts",
    # formula-derived clips again: per-byte |v_f - v_{f-1}| where
    # v_f = (doc_id*11 + f*17 + j*5) % 256 — the oracle recomputes the
    # exact SAD the decoder must produce from real frame bytes
    """
WITH dims AS (
  SELECT doc_id,
         4 + 2 * (doc_id % 3) AS w,
         4 + 2 * (doc_id % 2) AS h,
         3 + doc_id % 4 AS nf
  FROM documents
), fj AS (
  SELECT doc_id, w, h, f.f, j.j,
         (doc_id * 11 + f.f * 17 + j.j * 5) % 256 AS v,
         (doc_id * 11 + (f.f - 1) * 17 + j.j * 5) % 256 AS pv
  FROM dims
  CROSS JOIN LATERAL (SELECT unnest(generate_series(1, nf - 1)) AS f) f
  CROSS JOIN LATERAL (SELECT unnest(generate_series(0, w * h - 1)) AS j) j
)
SELECT doc_id, CAST(f AS INT) AS frame_idx,
       CAST(SUM(ABS(v - pv)) AS BIGINT) AS sad,
       SUM(ABS(v - pv)) > 32 * MAX(w) * MAX(h) AS is_cut
FROM fj GROUP BY doc_id, f ORDER BY doc_id, frame_idx
""",
)
def multimodal_scene_cuts_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.synthetic_y4m_media(docs)
    return multimodal.video_scene_cuts(media).orderBy("doc_id", "frame_idx")


_FERTILITY_ORACLE = (
    """
WITH lw AS (
  SELECT lang, word, COUNT(*) AS freq FROM (
    SELECT lang,
           unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
    FROM documents
  ) WHERE word <> '' GROUP BY lang, word
),
s0 AS (
  SELECT lang || '|' || word AS w, freq,
         generate_subscripts(syms, 1) - 1 AS seq, unnest(syms) AS sym
  FROM (SELECT lang, word, freq,
               list_filter(string_split(word, ''), c -> c <> '') AS syms
        FROM lw)
),"""
    + ",".join(_bpe_round_sql(i) for i in (1, 2, 3))
    + """,
pw AS (SELECT w, freq, COUNT(*) AS n_sym FROM s3 GROUP BY w, freq)
SELECT split_part(w, '|', 1) AS lang,
       COUNT(*) AS n_distinct_words,
       CAST(SUM(freq) AS BIGINT) AS word_occurrences,
       CAST(SUM(freq * n_sym) AS BIGINT) AS token_occurrences,
       ROUND(SUM(freq * n_sym) / CAST(SUM(freq) AS DOUBLE), 4) AS fertility
FROM pw GROUP BY split_part(w, '|', 1) ORDER BY lang
"""
)


@register("tokenizer_fertility_report", _FERTILITY_ORACLE)
def tokenizer_fertility_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.tokenizer_fertility_report(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_substring_scrub",
    # the removal policy on top of dedup_substring_spans' machinery:
    # rank each duplicated gram's occurrences by (doc_id, pos), keep
    # rank 1, merge later ranks into cut intervals, rebuild the token
    # stream outside the cuts and fingerprint it
    """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tl FROM documents
), posts AS (
  SELECT doc_id, i.i AS s, i.i + 8 AS e,
         array_to_string(tl[i.i + 1 : i.i + 8], ' ') AS gram
  FROM toks, LATERAL (SELECT UNNEST(range(greatest(len(tl) - 7, 0))) AS i) i
), occ AS (
  SELECT doc_id, s, e,
         COUNT(*) OVER (PARTITION BY gram) AS n_occ,
         ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, s) AS rk
  FROM posts
), intervals AS (
  SELECT doc_id, s, e FROM occ WHERE n_occ >= 2 AND rk >= 2
), marked AS (
  SELECT doc_id, s, e,
         CASE WHEN s > COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS new_island
  FROM intervals
), islands AS (
  SELECT doc_id, s, e,
         SUM(new_island) OVER (PARTITION BY doc_id ORDER BY s) AS island
  FROM marked
), mg AS (
  SELECT doc_id, island, MIN(s) AS s, MAX(e) AS e
  FROM islands GROUP BY doc_id, island
), pos AS (
  SELECT doc_id, i.i - 1 AS pos, tl[i.i] AS tok
  FROM toks, LATERAL (SELECT UNNEST(range(1, len(tl) + 1)) AS i) i
), kept AS (
  SELECT p.doc_id, p.pos, p.tok FROM pos p
  WHERE NOT EXISTS (SELECT 1 FROM mg m
                    WHERE m.doc_id = p.doc_id
                      AND p.pos >= m.s AND p.pos < m.e)
), rebuilt AS (
  SELECT doc_id, COUNT(*) AS kept_tokens,
         md5(string_agg(tok, ' ' ORDER BY pos)) AS clean_md5
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id, len(t.tl)::BIGINT AS n_tokens,
       COALESCE(r.kept_tokens, 0)::BIGINT AS kept_tokens,
       (len(t.tl) - COALESCE(r.kept_tokens, 0))::BIGINT AS removed_tokens,
       COALESCE(r.clean_md5, md5('')) AS clean_md5
FROM toks t LEFT JOIN rebuilt r USING (doc_id)
ORDER BY t.doc_id
""",
)
def dedup_substring_scrub_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup

    return dedup.substring_scrub(load_table(spark, sf_dir, "documents"))


_NEAR_DEDUP_STREAM_ORACLE = """
WITH t AS (
  SELECT doc_id, trim(text) AS tx,
         string_split_regex(trim(text), '\\s+') AS toks
  FROM documents
), g AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3
              THEN list_transform(generate_series(1, len(toks) - 2),
                                  i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])
              ELSE [tx] END AS grams
  FROM t
), gh AS (
  SELECT doc_id,
         list_transform(grams,
           s -> CAST(CAST(concat('0x', substr(md5(s), 1, 15)) AS UBIGINT) AS BIGINT)) AS gh
  FROM g
), sig AS (
  SELECT doc_id,
         list_min(list_transform(gh, x -> (1447053421 * (x >> 30) + 2018637147 * (x % 1073741824) + 821879811) % 2305843009213693951)) AS h0,
         list_min(list_transform(gh, x -> (176928717 * (x >> 30) + 1840952405 * (x % 1073741824) + 704113017) % 2305843009213693951)) AS h1,
         list_min(list_transform(gh, x -> (1765449693 * (x >> 30) + 2080088805 * (x % 1073741824) + 448146271) % 2305843009213693951)) AS h2,
         list_min(list_transform(gh, x -> (492862055 * (x >> 30) + 2054100235 * (x % 1073741824) + 171799059) % 2305843009213693951)) AS h3,
         list_min(list_transform(gh, x -> (156203051 * (x >> 30) + 1040078385 * (x % 1073741824) + 1265968343) % 2305843009213693951)) AS h4,
         list_min(list_transform(gh, x -> (852485825 * (x >> 30) + 579023709 * (x % 1073741824) + 636098179) % 2305843009213693951)) AS h5,
         list_min(list_transform(gh, x -> (2001589517 * (x >> 30) + 1384731507 * (x % 1073741824) + 1513411053) % 2305843009213693951)) AS h6,
         list_min(list_transform(gh, x -> (1183995427 * (x >> 30) + 1483771595 * (x % 1073741824) + 1295655385) % 2305843009213693951)) AS h7,
         list_min(list_transform(gh, x -> (1757684611 * (x >> 30) + 1977193477 * (x % 1073741824) + 2094125749) % 2305843009213693951)) AS h8,
         list_min(list_transform(gh, x -> (1025415121 * (x >> 30) + 936150355 * (x % 1073741824) + 587825955) % 2305843009213693951)) AS h9,
         list_min(list_transform(gh, x -> (1216879987 * (x >> 30) + 1663348111 * (x % 1073741824) + 1204798077) % 2305843009213693951)) AS h10,
         list_min(list_transform(gh, x -> (288620849 * (x >> 30) + 340073899 * (x % 1073741824) + 432610199) % 2305843009213693951)) AS h11,
         list_min(list_transform(gh, x -> (1830857049 * (x >> 30) + 721240335 * (x % 1073741824) + 1547197805) % 2305843009213693951)) AS h12,
         list_min(list_transform(gh, x -> (1365328469 * (x >> 30) + 411226205 * (x % 1073741824) + 1352987033) % 2305843009213693951)) AS h13,
         list_min(list_transform(gh, x -> (560535623 * (x >> 30) + 855913339 * (x % 1073741824) + 182950487) % 2305843009213693951)) AS h14,
         list_min(list_transform(gh, x -> (478807603 * (x >> 30) + 1098033359 * (x % 1073741824) + 1424595627) % 2305843009213693951)) AS h15
  FROM gh
), buckets AS (
  SELECT doc_id, 0 AS band, CAST(CAST(concat('0x', substr(md5(h0 || ':' || h1), 1, 15)) AS UBIGINT) AS BIGINT) AS bucket FROM sig
  UNION ALL SELECT doc_id, 1 AS band, CAST(CAST(concat('0x', substr(md5(h2 || ':' || h3), 1, 15)) AS UBIGINT) AS BIGINT) AS bucket FROM sig
  UNION ALL SELECT doc_id, 2 AS band, CAST(CAST(concat('0x', substr(md5(h4 || ':' || h5), 1, 15)) AS UBIGINT) AS BIGINT) AS bucket FROM sig
  UNION ALL SELECT doc_id, 3 AS band, CAST(CAST(concat('0x', substr(md5(h6 || ':' || h7), 1, 15)) AS UBIGINT) AS BIGINT) AS bucket FROM sig
  UNION ALL SELECT doc_id, 4 AS band, CAST(CAST(concat('0x', substr(md5(h8 || ':' || h9), 1, 15)) AS UBIGINT) AS BIGINT) AS bucket FROM sig
  UNION ALL SELECT doc_id, 5 AS band, CAST(CAST(concat('0x', substr(md5(h10 || ':' || h11), 1, 15)) AS UBIGINT) AS BIGINT) AS bucket FROM sig
  UNION ALL SELECT doc_id, 6 AS band, CAST(CAST(concat('0x', substr(md5(h12 || ':' || h13), 1, 15)) AS UBIGINT) AS BIGINT) AS bucket FROM sig
  UNION ALL SELECT doc_id, 7 AS band, CAST(CAST(concat('0x', substr(md5(h14 || ':' || h15), 1, 15)) AS UBIGINT) AS BIGINT) AS bucket FROM sig
), winners AS (
  SELECT band, bucket, MIN(doc_id) AS first_doc FROM buckets GROUP BY band, bucket
), firsts AS (
  SELECT first_doc AS doc_id, COUNT(*) AS n_bands_first
  FROM winners GROUP BY first_doc
)
SELECT t.doc_id, COALESCE(f.n_bands_first, 0)::BIGINT AS n_bands_first,
       COALESCE(f.n_bands_first, 0) > 0 AS is_novel
FROM t LEFT JOIN firsts f USING (doc_id)
ORDER BY t.doc_id
"""


@register("streaming_near_dedup", _NEAR_DEDUP_STREAM_ORACLE)
def streaming_near_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup NOVELTY detection on the corpus STREAM: per-row md5
    MinHash band keys (md5_minhash_bands — no aggregation needed, so
    the signature computes inside the streaming plan), then ONE
    stateful aggregate MIN(doc_id) per (band, bucket) whose state is
    bounded by the DISTINCT BAND BUCKETS, not the stream length — the
    incremental form of LSH dedup a crawl-ingest pipeline runs. A
    document is novel iff it is the first arrival in at least one of
    its buckets (shares every bucket with earlier docs = near-dup
    candidate); MIN makes the winner arrival-order-independent, so
    the drained complete-mode table equals the batch build exactly."""
    from ..operators.dedup import minhash_band_keys
    from ..streaming import jobs

    stream = jobs.stream_table(spark, sf_dir, "documents")
    banded = minhash_band_keys(stream)
    winners = banded.groupBy("band", "bucket").agg(
        F.min("doc_id").alias("first_doc")
    )
    res = jobs.run_available_now(winners, "streaming_near_dedup")
    firsts = res.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count("*").alias("n_bands_first")
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return (
        docs.join(firsts, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bands_first"), F.lit(0)).alias("n_bands_first"),
            (F.coalesce(F.col("n_bands_first"), F.lit(0)) > 0).alias("is_novel"),
        )
        .orderBy("doc_id")
    )


@register(
    "doremi_reweight_step",
    # quality-model CTE -> quantized logit -> per-source exact integer
    # sums -> linearized multiplicative update in integer micro-units
    f"""
WITH f AS (
  SELECT doc_id, source,
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
  SELECT f.doc_id, f.source,
         FLOOR((
           (SELECT w FROM wts WHERE i = 0) * (n_tokens / 100.0)
           + (SELECT w FROM wts WHERE i = 1) * (n_stop / (n_tokens + 1.0))
           + (SELECT w FROM wts WHERE i = 2) * (n_chars / (n_tokens + 1.0))
           + (SELECT w FROM wts WHERE i = 3) * (n_dots / (n_chars + 1.0))
           + (SELECT w FROM wts WHERE i = 4)) * 1e4 + 0.5)::BIGINT AS lv
  FROM f
), per_source AS (
  SELECT source, COUNT(*) AS n_docs, SUM(lv) AS lv_sum FROM z GROUP BY source
), m AS (
  SELECT source, n_docs,
         lv_sum / n_docs / 1e4 AS mean_i,
         SUM(lv_sum) OVER () / CAST(SUM(n_docs) OVER () AS DOUBLE) / 1e4
           AS mean_all
  FROM per_source
), fx AS (
  SELECT source, n_docs, mean_i,
         FLOOR((mean_i - mean_all) * 1e6 + 0.5) / 1e6 AS excess
  FROM m
), fu AS (
  SELECT source, n_docs, mean_i, excess,
         GREATEST(1, FLOOR((1.0 + excess) * 1e6 + 0.5)::BIGINT) AS factor_u
  FROM fx
)
SELECT source, n_docs,
       ROUND(mean_i, 6) AS avg_logit,
       excess,
       ROUND(factor_u / CAST(SUM(factor_u) OVER () AS DOUBLE), 6) AS new_weight
FROM fu ORDER BY source
""",
)
def doremi_reweight_step_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.doremi_reweight_step(load_table(spark, sf_dir, "documents"))


@register(
    "matryoshka_recall",
    # two ranked top-20 lists (full dim vs first-16 prefix), overlap
    # counted per k — same cosine/rounding conventions as ann_bruteforce
    """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
full_s AS (
  SELECT vec_id, ROUND(list_cosine_similarity(v, qv), 3) AS cs
  FROM e, q WHERE vec_id <> 0 ORDER BY cs DESC, vec_id LIMIT 20
), full_r AS (
  SELECT vec_id, ROW_NUMBER() OVER (ORDER BY cs DESC, vec_id) AS r FROM full_s
), tr_s AS (
  SELECT vec_id, ROUND(list_cosine_similarity(v[1:16], qv[1:16]), 3) AS cs
  FROM e, q WHERE vec_id <> 0 ORDER BY cs DESC, vec_id LIMIT 20
), tr_r AS (
  SELECT vec_id, ROW_NUMBER() OVER (ORDER BY cs DESC, vec_id) AS r FROM tr_s
), ov AS (
  SELECT f.r AS fr, t.r AS tr FROM full_r f JOIN tr_r t USING (vec_id)
), ks AS (SELECT UNNEST([5, 10, 20]) AS k)
SELECT ks.k, COUNT(ov.fr)::BIGINT AS n_overlap,
       ROUND(COUNT(ov.fr) / CAST(ks.k AS DOUBLE), 4) AS recall
FROM ks LEFT JOIN ov ON ov.fr <= ks.k AND ov.tr <= ks.k
GROUP BY ks.k ORDER BY ks.k
""",
)
def matryoshka_recall_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity

    return similarity.matryoshka_recall_report(
        load_table(spark, sf_dir, "embeddings")
    )


# the confusion-matrix oracle nests the (already verified) lang-ID
# prediction SQL as a CTE — single source of truth for the predictor
_LANG_CONFUSION_ORACLE = (
    "WITH pred AS (" + ORACLES["text_lang_id_ngram"] + """)
SELECT lang, lang_pred, COUNT(*)::BIGINT AS n_docs,
       ROUND(COUNT(*) / CAST(SUM(COUNT(*)) OVER (PARTITION BY lang) AS DOUBLE), 4)
         AS frac
FROM pred GROUP BY lang, lang_pred ORDER BY lang, lang_pred
"""
)


@register("lang_id_confusion", _LANG_CONFUSION_ORACLE)
def lang_id_confusion_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.lang_id_confusion(load_table(spark, sf_dir, "documents"))


_KCENTER_ORACLE = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c1 AS (SELECT vec_id FROM e ORDER BY vec_id LIMIT 1),
cand2 AS (
  SELECT a.vec_id, MIN(CAST(FLOOR(list_sum(list_transform(range(1, 65), i -> (a.v[i] - c.v[i]) * (a.v[i] - c.v[i]))) * 1000 + 0.5) AS BIGINT)) AS dmin
  FROM e a JOIN e c ON c.vec_id IN (SELECT vec_id FROM c1)
  WHERE a.vec_id NOT IN (SELECT vec_id FROM c1)
  GROUP BY a.vec_id
), pick2 AS (
  SELECT vec_id, dmin FROM cand2 ORDER BY dmin DESC, vec_id LIMIT 1
), c2 AS (
  SELECT vec_id FROM c1 UNION ALL SELECT vec_id FROM pick2
),
cand3 AS (
  SELECT a.vec_id, MIN(CAST(FLOOR(list_sum(list_transform(range(1, 65), i -> (a.v[i] - c.v[i]) * (a.v[i] - c.v[i]))) * 1000 + 0.5) AS BIGINT)) AS dmin
  FROM e a JOIN e c ON c.vec_id IN (SELECT vec_id FROM c2)
  WHERE a.vec_id NOT IN (SELECT vec_id FROM c2)
  GROUP BY a.vec_id
), pick3 AS (
  SELECT vec_id, dmin FROM cand3 ORDER BY dmin DESC, vec_id LIMIT 1
), c3 AS (
  SELECT vec_id FROM c2 UNION ALL SELECT vec_id FROM pick3
),
cand4 AS (
  SELECT a.vec_id, MIN(CAST(FLOOR(list_sum(list_transform(range(1, 65), i -> (a.v[i] - c.v[i]) * (a.v[i] - c.v[i]))) * 1000 + 0.5) AS BIGINT)) AS dmin
  FROM e a JOIN e c ON c.vec_id IN (SELECT vec_id FROM c3)
  WHERE a.vec_id NOT IN (SELECT vec_id FROM c3)
  GROUP BY a.vec_id
), pick4 AS (
  SELECT vec_id, dmin FROM cand4 ORDER BY dmin DESC, vec_id LIMIT 1
), c4 AS (
  SELECT vec_id FROM c3 UNION ALL SELECT vec_id FROM pick4
),
cand5 AS (
  SELECT a.vec_id, MIN(CAST(FLOOR(list_sum(list_transform(range(1, 65), i -> (a.v[i] - c.v[i]) * (a.v[i] - c.v[i]))) * 1000 + 0.5) AS BIGINT)) AS dmin
  FROM e a JOIN e c ON c.vec_id IN (SELECT vec_id FROM c4)
  WHERE a.vec_id NOT IN (SELECT vec_id FROM c4)
  GROUP BY a.vec_id
), pick5 AS (
  SELECT vec_id, dmin FROM cand5 ORDER BY dmin DESC, vec_id LIMIT 1
), c5 AS (
  SELECT vec_id FROM c4 UNION ALL SELECT vec_id FROM pick5
),
cand6 AS (
  SELECT a.vec_id, MIN(CAST(FLOOR(list_sum(list_transform(range(1, 65), i -> (a.v[i] - c.v[i]) * (a.v[i] - c.v[i]))) * 1000 + 0.5) AS BIGINT)) AS dmin
  FROM e a JOIN e c ON c.vec_id IN (SELECT vec_id FROM c5)
  WHERE a.vec_id NOT IN (SELECT vec_id FROM c5)
  GROUP BY a.vec_id
), pick6 AS (
  SELECT vec_id, dmin FROM cand6 ORDER BY dmin DESC, vec_id LIMIT 1
), c6 AS (
  SELECT vec_id FROM c5 UNION ALL SELECT vec_id FROM pick6
)
SELECT 1 AS sel_order, vec_id, CAST(0 AS BIGINT) AS dmin_milli FROM c1
UNION ALL SELECT 2, vec_id, dmin FROM pick2
UNION ALL SELECT 3, vec_id, dmin FROM pick3
UNION ALL SELECT 4, vec_id, dmin FROM pick4
UNION ALL SELECT 5, vec_id, dmin FROM pick5
UNION ALL SELECT 6, vec_id, dmin FROM pick6
ORDER BY sel_order"""


@register("kcenter_init", _KCENTER_ORACLE)
def kcenter_init_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity

    return similarity.kcenter_init(load_table(spark, sf_dir, "embeddings"))


@register(
    "multimodal_audio_vad",
    # formula-derived WAV clips (synthetic_wav_media): sample i =
    # ((doc_id*13 + i*31) % 65536) - 32768, n = 64 + doc_id % 50 —
    # the oracle recomputes every frame energy the decoder must produce
    """
WITH dims AS (
  SELECT doc_id, 64 + doc_id % 50 AS n FROM documents
), s AS (
  SELECT doc_id, i.i AS i,
         ((doc_id * 13 + i.i * 31) % 65536) - 32768 AS v
  FROM dims, LATERAL (SELECT UNNEST(range(n)) AS i) i
), fr AS (
  SELECT doc_id, CAST(i // 16 AS INT) AS frame_idx,
         CAST(SUM(v * v) AS BIGINT) AS energy
  FROM s
  WHERE i // 16 < (SELECT n FROM dims d WHERE d.doc_id = s.doc_id) // 16
  GROUP BY doc_id, i // 16
)
SELECT doc_id, frame_idx, energy, energy > 4800000000 AS is_active
FROM fr ORDER BY doc_id, frame_idx
""",
)
def multimodal_audio_vad_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.synthetic_wav_media(docs)
    return multimodal.audio_vad_frames(media).orderBy("doc_id", "frame_idx")


@register(
    "source_token_kl",
    # same one-log expression shape, nano-quantized per term, exact
    # bigint per-source sums
    """
WITH toks AS (
  SELECT source, t.tok FROM documents,
       LATERAL UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS t(tok)
  WHERE t.tok <> ''
), cst AS (
  SELECT source, tok, COUNT(*) AS c_st FROM toks GROUP BY source, tok
), ns AS (
  SELECT source, SUM(c_st) AS n_s FROM cst GROUP BY source
), ct AS (
  SELECT tok, SUM(c_st) AS c_t FROM cst GROUP BY tok
), tot AS (SELECT SUM(c_t) AS n FROM ct),
contrib AS (
  SELECT cst.source, ns.n_s,
         CAST(FLOOR((cst.c_st / CAST(ns.n_s AS DOUBLE))
              * LN((cst.c_st * tot.n) / (CAST(ns.n_s AS DOUBLE) * ct.c_t))
              * 1e9 + 0.5) AS BIGINT) AS u
  FROM cst JOIN ns USING (source) JOIN ct USING (tok) CROSS JOIN tot
)
SELECT source, CAST(MAX(n_s) AS BIGINT) AS n_tokens,
       CAST(SUM(u) AS BIGINT) AS kl_nano,
       ROUND(SUM(u) / 1e9, 6) AS kl
FROM contrib GROUP BY source ORDER BY source
""",
)
def source_token_kl_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.source_token_kl(load_table(spark, sf_dir, "documents"))


@register(
    "timeseries_topk_similar",
    # same grid/z-norm/ordered-fold construction: counts exact, mean
    # one division, std one sqrt, distance a day-ordered fold
    """
WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
users AS (SELECT DISTINCT user_id FROM events),
counts AS (
  SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS c
  FROM events GROUP BY user_id, CAST(ts AS DATE)
), grid AS (
  SELECT u.user_id, d.day, COALESCE(c.c, 0) AS c
  FROM users u CROSS JOIN days d
  LEFT JOIN counts c ON c.user_id = u.user_id AND c.day = d.day
), vec AS (
  SELECT user_id,
         list_transform(array_agg(c ORDER BY day), x -> CAST(x AS DOUBLE)) AS v
  FROM grid GROUP BY user_id
), wm AS (
  SELECT user_id, v, list_sum(v) / len(v) AS m FROM vec
), ws AS (
  SELECT user_id, v, m,
         CASE WHEN sqrt(list_sum(list_transform(v, x -> (x - m) * (x - m))) / len(v)) = 0
              THEN 1.0
              ELSE sqrt(list_sum(list_transform(v, x -> (x - m) * (x - m))) / len(v))
         END AS s
  FROM wm
), z AS (
  SELECT user_id, list_transform(v, x -> (x - m) / s) AS z FROM ws
), q AS (SELECT z AS qz FROM z WHERE user_id = 0)
SELECT z.user_id,
       ROUND(list_sum(list_transform(range(1, len(z.z) + 1),
             i -> (z.z[i] - q.qz[i]) * (z.z[i] - q.qz[i]))), 6) AS znorm_dist
FROM z, q WHERE z.user_id <> 0
ORDER BY znorm_dist, z.user_id LIMIT 10
""",
)
def timeseries_topk_similar_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.timeseries_topk_similar(load_events(spark, sf_dir))


# ---------------------------------------------------------------------------
# Round 3 (cont.): kNN graph + mutual-kNN clustering, corpus novelty,
# robust trend estimation, mergeable-histogram quantiles.
# ---------------------------------------------------------------------------

# shared CTE: milli-quantized vectors and the exact top-5 MIPS ranking —
# mirrors similarity._quantized_vec / knn_graph bit-for-bit (integer dots)
_KNN_TOPK_CTE = """
WITH qv AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(floor(x * 1000 + 0.5) AS BIGINT)) AS v
  FROM embeddings
), dots AS (
  SELECT a.vec_id, b.vec_id AS neighbor_id,
         CAST(list_dot_product(a.v, b.v) AS BIGINT) AS dot_q
  FROM qv a JOIN qv b ON a.vec_id <> b.vec_id
), ranked AS (
  SELECT vec_id, neighbor_id, dot_q,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY dot_q DESC, neighbor_id) AS rank
  FROM dots
), knn AS (
  SELECT vec_id, CAST(rank AS INT) AS rank, neighbor_id, dot_q
  FROM ranked WHERE rank <= 5
)
"""


@register(
    "knn_graph",
    _KNN_TOPK_CTE + "SELECT * FROM knn ORDER BY vec_id, rank",
)
def knn_graph_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity

    return similarity.knn_graph(load_table(spark, sf_dir, "embeddings"))


@register(
    "knn_graph_components",
    _KNN_TOPK_CTE
    + """
, mutual AS (
  SELECT a.vec_id AS u, a.neighbor_id AS v
  FROM knn a JOIN knn b
    ON a.vec_id = b.neighbor_id AND a.neighbor_id = b.vec_id
), reach AS (
  WITH RECURSIVE walk(src, dst) AS (
    SELECT vec_id, vec_id FROM embeddings
    UNION
    SELECT w.src, m.v FROM walk w JOIN mutual m ON w.dst = m.u
  )
  SELECT src, dst FROM walk
)
SELECT src AS vec_id, MIN(dst) AS component_id
FROM reach GROUP BY src ORDER BY vec_id
""",
)
def knn_graph_components_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity

    return similarity.mutual_knn_components(load_table(spark, sf_dir, "embeddings"))


@register(
    "ngram_novelty_curve",
    # string grams stand in for the engine's xxhash64'd grams: counts and
    # min-owner agree absent 64-bit collisions (the gopher/span convention)
    """
WITH t AS (
  SELECT doc_id, trim(text) AS txt,
         string_split_regex(trim(text), '\\s+') AS toks
  FROM documents
), dg AS (
  SELECT DISTINCT doc_id, g.g FROM t, LATERAL UNNEST(
    CASE WHEN len(toks) >= 3
         THEN list_transform(generate_series(1, len(toks) - 2),
                             i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])
         ELSE [txt] END) AS g(g)
), first_owner AS (
  SELECT g, MIN(doc_id) AS first_doc FROM dg GROUP BY g
)
SELECT dg.doc_id,
       COUNT(*) AS n_grams,
       SUM(CASE WHEN f.first_doc = dg.doc_id THEN 1 ELSE 0 END)::BIGINT AS n_novel,
       floor(SUM(CASE WHEN f.first_doc = dg.doc_id THEN 1 ELSE 0 END)
             / COUNT(*) * 1e4 + 0.5) / 1e4 AS novelty_frac
FROM dg JOIN first_owner f USING (g)
GROUP BY dg.doc_id ORDER BY dg.doc_id
""",
)
def ngram_novelty_curve_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.ngram_novelty(load_table(spark, sf_dir, "documents"))


@register(
    "theil_sen_trend",
    """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS v
  FROM events GROUP BY 1, 2
), pairs AS (
  SELECT a.event_type,
         CAST(b.v - a.v AS DOUBLE) / (b.day - a.day) AS slope
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.day < b.day
)
SELECT event_type,
       ROUND(median(slope), 6) AS theil_sen_slope,
       COUNT(*) AS n_pairs
FROM pairs GROUP BY event_type ORDER BY event_type
""",
)
def theil_sen_trend_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per event_type: the median over all day
    pairs of the pairwise slope of DAILY revenue — the estimator that
    shrugs off the outlier days that wreck OLS (price_elasticity's
    least-squares twin). Daily sums are cent-quantized ints, so both
    engines divide identical integers; the slope median interpolates
    identically.

    Scale shape: the pair relation is daily-agg x daily-agg PER KEY —
    O(D^2) in CALENDAR DAYS, independent of row count (100 TB of events
    still collapses to types x days rows before the self-join). The
    event scan aggregates map-side; the self-join input is tiny."""
    ev = load_events(spark, sf_dir).select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("vq"),
    )
    daily = ev.groupBy("event_type", "day").agg(F.sum("vq").alias("v"))
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.day") < F.col("b.day")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (
            (F.col("b.v") - F.col("a.v")).cast("double")
            / F.datediff(F.col("b.day"), F.col("a.day"))
        ).alias("slope"),
    )
    return (
        pairs.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(slope, 0.5)"), 6).alias("theil_sen_slope"),
            F.count("*").alias("n_pairs"),
        )
        .orderBy("event_type")
    )


@register(
    "quantiles_merged_histograms",
    """
WITH mm AS (
  SELECT MIN(o_totalprice::DOUBLE) AS lo, MAX(o_totalprice::DOUBLE) AS hi,
         COUNT(*) AS n
  FROM orders
), binned AS (
  SELECT LEAST(31, CAST(floor((o_totalprice::DOUBLE - mm.lo)
                              / ((mm.hi - mm.lo) / 32)) AS INT)) AS bin,
         COUNT(*) AS cnt
  FROM orders, mm GROUP BY 1
), cum AS (
  SELECT bin, cnt, SUM(cnt) OVER (ORDER BY bin) AS cum
  FROM binned
), targets AS (
  SELECT q, q * mm.n AS target FROM (VALUES (0.25), (0.5), (0.75), (0.9), (0.99)) t(q), mm
), est AS (
  SELECT t.q,
         MIN(c.bin) AS bin,
         MIN(mm.lo + (mm.hi - mm.lo) / 32
             * (c.bin + (t.target - (c.cum - c.cnt)) / c.cnt)) AS raw_est
  FROM targets t JOIN cum c ON c.cum >= t.target AND (c.cum - c.cnt) < t.target
  CROSS JOIN mm
  GROUP BY t.q
), exact AS (
  SELECT ROUND(quantile_cont(o_totalprice::DOUBLE, 0.25), 4) AS e25,
         ROUND(quantile_cont(o_totalprice::DOUBLE, 0.5), 4) AS e50,
         ROUND(quantile_cont(o_totalprice::DOUBLE, 0.75), 4) AS e75,
         ROUND(quantile_cont(o_totalprice::DOUBLE, 0.9), 4) AS e90,
         ROUND(quantile_cont(o_totalprice::DOUBLE, 0.99), 4) AS e99
  FROM orders
)
SELECT q, bin,
       ROUND(raw_est, 4) AS est,
       CASE q WHEN 0.25 THEN e25 WHEN 0.5 THEN e50 WHEN 0.75 THEN e75
              WHEN 0.9 THEN e90 ELSE e99 END AS exact,
       ROUND(ABS(raw_est - CASE q WHEN 0.25 THEN e25 WHEN 0.5 THEN e50
                                  WHEN 0.75 THEN e75 WHEN 0.9 THEN e90
                                  ELSE e99 END), 4) AS abs_err,
       ABS(raw_est - CASE q WHEN 0.25 THEN e25 WHEN 0.5 THEN e50
                            WHEN 0.75 THEN e75 WHEN 0.9 THEN e90
                            ELSE e99 END)
         <= (SELECT (hi - lo) / 32 FROM mm) AS within_bin_width
FROM est, exact ORDER BY q
""",
)
def quantiles_merged_histograms_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimation from MERGEABLE histogram sketches: each shard
    builds a fixed 32-bin equi-width histogram (the mergeable state — a
    32-int vector), partial states merge associatively, and quantiles
    interpolate inside the covering bin. The exact percentile runs
    alongside and the contract asserts |est - exact| <= bin width — the
    sketch's provable error bound. This is the two-level (shard ->
    global) shape every distributed quantile sketch (t-digest/KLL)
    uses; equi-width bins keep the merge and the oracle bit-exact.

    Plan: one min/max pass (broadcast 1-row), one map-side-combined
    groupBy(shard, bin) -> groupBy(bin) merge; the window prefix-sum
    runs over the BOUNDED 32-row bin relation (benign SinglePartition);
    exact quantiles via percentile() for the error column."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast("double").alias("x")
    )
    mm = o.agg(
        F.min("x").alias("lo"), F.max("x").alias("hi"), F.count("*").alias("n")
    )
    width = (F.col("hi") - F.col("lo")) / 32
    binned = o.join(F.broadcast(mm)).select(
        F.pmod(F.col("o_orderkey"), F.lit(16)).alias("shard"),
        F.least(F.lit(31), F.floor((F.col("x") - F.col("lo")) / width).cast("int"))
        .alias("bin"),
    )
    # two-level merge: per-shard partial histograms, then the global merge
    state = binned.groupBy("shard", "bin").agg(F.count("*").alias("cnt"))
    merged = state.groupBy("bin").agg(F.sum("cnt").alias("cnt"))
    cum = merged.withColumn(
        "cum", F.sum("cnt").over(Window.orderBy("bin"))
    )
    qs = tiny_df(
        spark, [(0.25,), (0.5,), (0.75,), (0.9,), (0.99,)], "q double"
    )
    targets = qs.crossJoin(F.broadcast(mm)).select(
        "q", "lo", "hi", "n", (F.col("q") * F.col("n")).alias("target")
    )
    est = (
        F.broadcast(targets)
        .join(
            cum,
            (F.col("cum") >= F.col("target"))
            & ((F.col("cum") - F.col("cnt")) < F.col("target")),
        )
        .groupBy("q")
        .agg(
            F.min("bin").alias("bin"),
            F.min(
                F.col("lo")
                + (F.col("hi") - F.col("lo")) / 32
                * (
                    F.col("bin")
                    + (F.col("target") - (F.col("cum") - F.col("cnt"))) / F.col("cnt")
                )
            ).alias("raw_est"),
        )
    )
    exact = o.agg(
        *[
            F.round(F.expr(f"percentile(x, {q})"), 4).alias(f"e{int(q*100)}")
            for q in (0.25, 0.5, 0.75, 0.9, 0.99)
        ]
    )
    exact_col = (
        F.when(F.col("q") == 0.25, F.col("e25"))
        .when(F.col("q") == 0.5, F.col("e50"))
        .when(F.col("q") == 0.75, F.col("e75"))
        .when(F.col("q") == 0.9, F.col("e90"))
        .otherwise(F.col("e99"))
    )
    bound = mm.select((width).alias("w"))
    return (
        est.join(F.broadcast(exact))
        .join(F.broadcast(bound))
        .select(
            "q",
            "bin",
            F.round(F.col("raw_est"), 4).alias("est"),
            exact_col.alias("exact"),
            F.round(F.abs(F.col("raw_est") - exact_col), 4).alias("abs_err"),
            (F.abs(F.col("raw_est") - exact_col) <= F.col("w")).alias(
                "within_bin_width"
            ),
        )
        .orderBy("q")
    )


@register(
    "split_semantic_leakage",
    """
WITH emb AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(floor(x * 1000 + 0.5) AS BIGINT)) AS v,
         substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) IN ('0','1','2') AS is_test
  FROM embeddings
), scored AS (
  SELECT t.vec_id AS test_id, tr.vec_id AS nearest_train_id,
         CAST(list_dot_product(t.v, tr.v) AS BIGINT) AS dot_q,
         ROW_NUMBER() OVER (PARTITION BY t.vec_id
                            ORDER BY CAST(list_dot_product(t.v, tr.v) AS BIGINT) DESC,
                                     tr.vec_id) AS rn
  FROM emb t JOIN emb tr ON t.is_test AND NOT tr.is_test
)
SELECT test_id, nearest_train_id, dot_q, dot_q >= 2000000 AS leaked
FROM scored WHERE rn = 1 ORDER BY test_id
""",
)
def split_semantic_leakage_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity

    return similarity.split_semantic_leakage(load_table(spark, sf_dir, "embeddings"))


@register(
    "randomized_response_audit",
    """
WITH cats AS (
  SELECT event_type AS cat,
         ROW_NUMBER() OVER (ORDER BY event_type) - 1 AS idx
  FROM (SELECT DISTINCT event_type FROM events)
), kk AS (SELECT COUNT(*) AS k FROM cats),
reported AS (
  SELECT CASE WHEN CAST(concat('0x', substr(md5('rrkeep:' || CAST(e.event_id AS VARCHAR)), 1, 15)) AS UBIGINT) % 100 < 75
              THEN e.event_type ELSE c.cat END AS category
  FROM events e, kk
  JOIN cats c
    ON c.idx = CAST(CAST(concat('0x', substr(md5('rrcat:' || CAST(e.event_id AS VARCHAR)), 1, 15)) AS UBIGINT) % kk.k AS BIGINT)
), obs AS (
  SELECT category, COUNT(*) AS observed_n FROM reported GROUP BY category
), tru AS (
  SELECT event_type AS category, COUNT(*) AS true_n FROM events GROUP BY event_type
), tot AS (SELECT COUNT(*) AS n FROM events)
SELECT t.category, t.true_n, o.observed_n,
       ROUND((o.observed_n - 0.25 * tot.n / kk.k) / 0.75, 2) AS estimated_n,
       ROUND(ABS((o.observed_n - 0.25 * tot.n / kk.k) / 0.75 - t.true_n), 2) AS abs_err
FROM tru t JOIN obs o USING (category), tot, kk
ORDER BY t.category
""",
)
def randomized_response_audit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCAL differential privacy by randomized response (Warner 1965;
    the RAPPOR-style categorical variant): each event keeps its true
    category with p=0.75, else reports a hash-chosen uniform category;
    the debiased estimator (obs - (1-p)N/k) / p recovers per-category
    counts. The audit reports true vs observed vs estimated side by
    side — the calibration check a privacy pipeline ships with. The
    coin flips are md5-derived (the h60 convention), so both engines
    replay the identical mechanism.

    Plan: the category table (k rows) broadcasts twice (index join +
    debias constants); the event pass is one codegen projection + one
    partial-agg census. Nothing scales with more than the category
    count after the scan."""
    ev = load_events(spark, sf_dir).select("event_id", "event_type")

    def h60(prefix: str) -> Column:
        return F.conv(
            F.substring(
                F.md5(F.concat(F.lit(prefix), F.col("event_id").cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("long")

    w = Window.orderBy("event_type")
    cats = (
        ev.select("event_type")
        .distinct()
        .select(
            F.col("event_type").alias("cat"),
            (F.row_number().over(w) - 1).cast("long").alias("idx"),
        )
    )
    kdf = cats.agg(F.count("*").alias("k"))
    tot = ev.agg(F.count("*").alias("n"))
    reported = (
        ev.join(F.broadcast(kdf))
        .select(
            "event_type",
            (F.pmod(h60("rrkeep:"), F.lit(100)) < 75).alias("keep"),
            F.pmod(h60("rrcat:"), F.col("k")).alias("ridx"),
        )
        .join(F.broadcast(cats), F.col("ridx") == F.col("idx"))
        .select(
            F.when(F.col("keep"), F.col("event_type"))
            .otherwise(F.col("cat"))
            .alias("category")
        )
    )
    obs = reported.groupBy("category").agg(F.count("*").alias("observed_n"))
    tru = ev.groupBy(F.col("event_type").alias("category")).agg(
        F.count("*").alias("true_n")
    )
    est = (
        F.col("observed_n") - 0.25 * F.col("n") / F.col("k")
    ) / 0.75
    return (
        tru.join(obs, "category")
        .join(F.broadcast(tot))
        .join(F.broadcast(kdf))
        .select(
            "category",
            "true_n",
            "observed_n",
            F.round(est, 2).alias("estimated_n"),
            F.round(F.abs(est - F.col("true_n")), 2).alias("abs_err"),
        )
        .orderBy("category")
    )


@register(
    "markov_transition_matrix",
    """
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS from_type
  FROM events
), t AS (
  SELECT from_type, event_type AS to_type, COUNT(*) AS n
  FROM seq WHERE from_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       floor(n / SUM(n) OVER (PARTITION BY from_type) * 1e4 + 0.5) / 1e4 AS p
FROM t ORDER BY from_type, to_type
""",
)
def markov_transition_matrix_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current) — the behavioral model
    behind next-event prediction, anomaly scoring (low-probability
    transitions) and Markov attribution. One lag window per user, one
    (from, to) census, and the row-normalizing sum runs over the
    |types|^2-bounded transition relation — the heavy shuffle is the
    per-user sort, which sessionize_batch/funnel queries already pay
    and reuse."""
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).filter(F.col("from_type").isNotNull())
    t = seq.groupBy("from_type", "to_type").agg(F.count("*").alias("n"))
    row_total = Window.partitionBy("from_type")
    return t.select(
        "from_type",
        "to_type",
        "n",
        (
            F.floor(F.col("n") / F.sum("n").over(row_total) * 1e4 + F.lit(0.5)) / 1e4
        ).alias("p"),
    ).orderBy("from_type", "to_type")


@register(
    "keyword_textrank",
    """
WITH d AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
), pairs AS (
  SELECT t[i] AS w, t[i + 1] AS v
  FROM d, LATERAL UNNEST(generate_series(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 2 AND t[i] <> t[i + 1]
), wedges AS (
  SELECT LEAST(w, v) AS a, GREATEST(w, v) AS b, COUNT(*) AS wt
  FROM pairs GROUP BY 1, 2
), edges AS (
  SELECT a, b, wt FROM wedges
  UNION ALL SELECT b AS a, a AS b, wt FROM wedges
), wdeg AS (
  SELECT a, SUM(wt)::BIGINT AS wdeg FROM edges GROUP BY a
), r1 AS (
  SELECT e.b AS word,
         150000000::BIGINT
           + CAST(floor(0.85 * SUM((1000000000::BIGINT * e.wt) // w.wdeg) + 0.5) AS BIGINT)
           AS rank_u
  FROM edges e JOIN wdeg w ON e.a = w.a
  GROUP BY e.b
), r2 AS (
  SELECT e.b AS word,
         150000000::BIGINT
           + CAST(floor(0.85 * SUM((r.rank_u * e.wt) // w.wdeg) + 0.5) AS BIGINT)
           AS rank_u
  FROM edges e JOIN wdeg w ON e.a = w.a JOIN r1 r ON r.word = e.a
  GROUP BY e.b
)
SELECT n.a AS word, COALESCE(r2.rank_u, 150000000) / 1e9 AS textrank
FROM wdeg n LEFT JOIN r2 ON r2.word = n.a
ORDER BY COALESCE(r2.rank_u, 150000000) DESC, word LIMIT 20
""",
)
def keyword_textrank_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.keyword_textrank(load_table(spark, sf_dir, "documents"))


@register(
    "als_implicit_step",
    """
WITH r AS (
  SELECT user_id, event_type, COUNT(*) AS r FROM events GROUP BY 1, 2
), f AS (
  SELECT event_type,
         CAST(CAST(concat('0x', substr(md5('alsa:' || event_type), 1, 15)) AS UBIGINT) % 1000 AS BIGINT) AS a,
         CAST(CAST(concat('0x', substr(md5('alsb:' || event_type), 1, 15)) AS UBIGINT) % 1000 AS BIGINT) AS b
  FROM (SELECT DISTINCT event_type FROM events)
), yty AS (
  SELECT SUM(a * a)::BIGINT AS saa, SUM(a * b)::BIGINT AS sab,
         SUM(b * b)::BIGINT AS sbb
  FROM f
), peru AS (
  SELECT r.user_id,
         COUNT(*) AS n_items,
         SUM(r.r * f.a * f.a)::BIGINT AS waa,
         SUM(r.r * f.a * f.b)::BIGINT AS wab,
         SUM(r.r * f.b * f.b)::BIGINT AS wbb,
         SUM((1 + r.r) * f.a)::BIGINT AS v0,
         SUM((1 + r.r) * f.b)::BIGINT AS v1
  FROM r JOIN f USING (event_type) GROUP BY r.user_id
), solved AS (
  SELECT user_id, n_items,
         CAST(yty.saa + waa + 100000 AS DOUBLE) AS m11,
         CAST(yty.sab + wab AS DOUBLE) AS m12,
         CAST(yty.sbb + wbb + 100000 AS DOUBLE) AS m22,
         CAST(v0 AS DOUBLE) AS v0, CAST(v1 AS DOUBLE) AS v1
  FROM peru, yty
)
SELECT user_id, n_items,
       floor((m22 * v0 - m12 * v1) / (m11 * m22 - m12 * m12) * 1e6 + 0.5) / 1e6 AS x0,
       floor((m11 * v1 - m12 * v0) / (m11 * m22 - m12 * m12) * 1e6 + 0.5) / 1e6 AS x1
FROM solved ORDER BY user_id
""",
)
def als_implicit_step_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One implicit-feedback ALS half-step (Hu, Koren & Volinsky 2008,
    public algorithm), rank 2: item factors are fixed md5-derived
    integer millis (the deterministic stand-in for the previous
    iteration — swapping in learned factors changes one broadcast
    table), and each user's factor solves the 2x2 normal equations
    (YtY + Yt(C-I)Y + lambda*I) x = Yt C p in closed form. This is the
    matrix-factorization training kernel next to kmeans/pagerank/PCA:
    a full ALS alternates this exact plan between sides.

    Plan: one (user, item) census shuffle, item factors broadcast, the
    global YtY term is a 1-row broadcast, and the per-user normal
    matrix is a partial-agg fold — closed-form solve is a codegen
    projection. All accumulations are exact bigints; the 2x2 solve is
    one fixed IEEE sequence, bit-identical across engines."""
    ev = load_events(spark, sf_dir)
    r = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("r"))

    def hmod(prefix: str) -> Column:
        return F.pmod(
            F.conv(
                F.substring(F.md5(F.concat(F.lit(prefix), F.col("event_type"))), 1, 15),
                16,
                10,
            ).cast("long"),
            F.lit(1000),
        )

    f = (
        ev.select("event_type")
        .distinct()
        .select("event_type", hmod("alsa:").alias("a"), hmod("alsb:").alias("b"))
    )
    yty = f.agg(
        F.sum(F.col("a") * F.col("a")).alias("saa"),
        F.sum(F.col("a") * F.col("b")).alias("sab"),
        F.sum(F.col("b") * F.col("b")).alias("sbb"),
    )
    peru = (
        r.join(F.broadcast(f), "event_type")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("r") * F.col("a") * F.col("a")).alias("waa"),
            F.sum(F.col("r") * F.col("a") * F.col("b")).alias("wab"),
            F.sum(F.col("r") * F.col("b") * F.col("b")).alias("wbb"),
            F.sum((F.lit(1) + F.col("r")) * F.col("a")).alias("v0"),
            F.sum((F.lit(1) + F.col("r")) * F.col("b")).alias("v1"),
        )
    )
    m11 = (F.col("saa") + F.col("waa") + F.lit(100000)).cast("double")
    m12 = (F.col("sab") + F.col("wab")).cast("double")
    m22 = (F.col("sbb") + F.col("wbb") + F.lit(100000)).cast("double")
    v0 = F.col("v0").cast("double")
    v1 = F.col("v1").cast("double")
    det = m11 * m22 - m12 * m12
    return (
        peru.join(F.broadcast(yty))
        .select(
            "user_id",
            "n_items",
            (F.floor((m22 * v0 - m12 * v1) / det * 1e6 + F.lit(0.5)) / 1e6).alias("x0"),
            (F.floor((m11 * v1 - m12 * v0) / det * 1e6 + F.lit(0.5)) / 1e6).alias("x1"),
        )
        .orderBy("user_id")
    )


@register(
    "twap_report",
    """
WITH seq AS (
  SELECT event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS vq,
         (epoch_us(LEAD(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id))
          - epoch_us(ts)) // 1000000 AS dt_s
  FROM events
)
SELECT event_type,
       floor(SUM(vq * dt_s) / SUM(dt_s) / 100 * 1e4 + 0.5) / 1e4 AS twap,
       SUM(dt_s)::BIGINT AS total_secs,
       COUNT(*) AS n_intervals
FROM seq WHERE dt_s IS NOT NULL
GROUP BY event_type ORDER BY event_type
""",
)
def twap_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average price/value (TWAP) per event type: each
    observation holds until the next one, so its weight is the interval
    it was live — the right mean for IRREGULARLY sampled series where
    the arithmetic mean over-weights bursts (ewma_smoothing's
    sampling-bias complement; the financial/metrics standard).

    Plan: one per-type lead window (reusing the sessionize sort order),
    integer second deltas and cent-quantized values keep every sum
    exact; one census aggregate out. Linear scan, type-bounded output."""
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    us = F.expr("unix_micros(ts)")
    seq = (
        ev.select(
            "event_type",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("vq"),
            (F.lead(us).over(w) - us).alias("dt_us"),
        )
        # integer floor division, not float-divide-then-cast: a float
        # quotient can round up to the next integer before the cast
        .select("event_type", "vq", F.expr("dt_us DIV 1000000").alias("dt_s"))
        .filter(F.col("dt_s").isNotNull())
    )
    return (
        seq.groupBy("event_type")
        .agg(
            (
                F.floor(
                    F.sum(F.col("vq") * F.col("dt_s"))
                    / F.sum("dt_s")
                    / 100
                    * 1e4
                    + F.lit(0.5)
                )
                / 1e4
            ).alias("twap"),
            F.sum("dt_s").alias("total_secs"),
            F.count("*").alias("n_intervals"),
        )
        .orderBy("event_type")
    )


@register(
    "rank_fusion_rrf",
    # BM25 leg reuses the bm25_retrieval mirror (k=10); coverage leg
    # ranks by distinct query terms hit then doc length; RRF is two
    # IEEE divisions + one fixed-order sum, ties on doc_id
    _TOKS_CTE
    + """
, q(query_id, term) AS (
  VALUES (1,'hash'),(1,'join'),(2,'sort'),(2,'merge'),(3,'customer'),(3,'value')
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
), dl AS (
  SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
), df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), tot AS (
  SELECT COUNT(*) AS s_tokens, COUNT(DISTINCT doc_id) AS n_docs FROM toks
), part AS (
  SELECT q.query_id, tf.doc_id,
         CAST(FLOOR(
           (LN(1.0 + (tot.n_docs - df.df + 0.5) / (df.df + 0.5))
            * (tf.tf * 2.2)
            / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / (tot.s_tokens / CAST(tot.n_docs AS DOUBLE))))))
           * 1e6 + 0.5) AS BIGINT) AS su
  FROM tf
  JOIN q USING (term)
  JOIN dl USING (doc_id)
  JOIN df USING (term)
  CROSS JOIN tot
), agg AS (
  SELECT query_id, doc_id, SUM(su) AS su FROM part GROUP BY query_id, doc_id
), bm25r AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY su DESC, doc_id) AS rank_bm25
  FROM agg QUALIFY rank_bm25 <= 10
), hits AS (
  SELECT q.query_id, t.doc_id, COUNT(*) AS n_hit
  FROM (SELECT DISTINCT doc_id, term FROM toks) t JOIN q USING (term)
  GROUP BY q.query_id, t.doc_id
), covr AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY n_hit DESC, dl.dl ASC, doc_id) AS rank_cov
  FROM hits JOIN dl USING (doc_id) QUALIFY rank_cov <= 10
), fused AS (
  SELECT COALESCE(a.query_id, b.query_id) AS query_id,
         COALESCE(a.doc_id, b.doc_id) AS doc_id,
         a.rank_bm25, b.rank_cov,
         COALESCE(1.0 / (60 + a.rank_bm25), 0.0)
           + COALESCE(1.0 / (60 + b.rank_cov), 0.0) AS rrf_raw
  FROM bm25r a FULL OUTER JOIN covr b
    ON a.query_id = b.query_id AND a.doc_id = b.doc_id
)
SELECT query_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf_raw DESC, doc_id) AS INT)
         AS fused_rank,
       doc_id,
       floor(rrf_raw * 1e9 + 0.5) / 1e9 AS rrf,
       rank_bm25, rank_cov
FROM fused
QUALIFY fused_rank <= 5
ORDER BY query_id, fused_rank
""",
)
def rank_fusion_rrf_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.rank_fusion_rrf(load_table(spark, sf_dir, "documents"))


@register(
    "link_prediction_jaccard",
    # same interaction graph as graph_triangles; score NON-edges at
    # distance 2 by neighbor-set Jaccard (common-neighbors family)
    """
WITH raw AS (
  SELECT user_id % 200 AS p, event_id % 199 AS q FROM events
  WHERE user_id % 200 <> event_id % 199
),
edges AS (SELECT DISTINCT LEAST(p, q) AS u, GREATEST(p, q) AS v FROM raw),
adj AS (
  SELECT u AS node, v AS nbr FROM edges
  UNION ALL SELECT v AS node, u AS nbr FROM edges
),
deg AS (SELECT node, COUNT(*) AS deg FROM adj GROUP BY node),
cand AS (
  SELECT a1.node AS u, a2.node AS v, COUNT(*) AS n_common
  FROM adj a1 JOIN adj a2 ON a1.nbr = a2.nbr AND a1.node < a2.node
  GROUP BY a1.node, a2.node
),
nonedges AS (
  SELECT c.u, c.v, c.n_common FROM cand c
  WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.u = c.u AND e.v = c.v)
)
SELECT u, v, n_common,
       floor(n_common / (du.deg + dv.deg - n_common) * 1e4 + 0.5) / 1e4 AS jaccard
FROM nonedges JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v
ORDER BY jaccard DESC, u, v LIMIT 20
""",
)
def link_prediction_jaccard_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import graph

    return graph.link_prediction_jaccard(load_events(spark, sf_dir))


@register(
    "conformal_coverage_report",
    """
WITH feats AS (
  SELECT doc_id,
         len(string_split_regex(trim(text), '\\s+')) AS x,
         n_chars AS y,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS h
  FROM documents
), splits AS (
  SELECT doc_id, CAST(x AS BIGINT) AS x, y,
         CASE WHEN h IN ('a','b','c') THEN 'calib'
              WHEN h IN ('d','e','f') THEN 'test'
              ELSE 'train' END AS split
  FROM feats
), fit AS (
  SELECT COUNT(*) AS n, SUM(x)::BIGINT AS sx, SUM(y)::BIGINT AS sy,
         SUM(x * y)::BIGINT AS sxy, SUM(x * x)::BIGINT AS sxx
  FROM splits WHERE split = 'train'
), model AS (
  SELECT CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
         (CAST(sy AS DOUBLE)
          - CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
            * CAST(sx AS DOUBLE)) / n AS icept
  FROM fit
), resid AS (
  SELECT s.doc_id, s.split,
         ABS(s.y - (m.icept + m.slope * s.x)) AS r
  FROM splits s, model m WHERE s.split <> 'train'
), calib AS (
  SELECT r, ROW_NUMBER() OVER (ORDER BY r, doc_id) AS rn,
         COUNT(*) OVER () AS nc
  FROM resid WHERE split = 'calib'
), qhat AS (
  SELECT r AS q, nc FROM calib WHERE rn = CAST(ceil(0.9 * (nc + 1)) AS BIGINT)
), test AS (
  SELECT COUNT(*) AS nt,
         SUM(CASE WHEN r <= (SELECT q FROM qhat) THEN 1 ELSE 0 END)::BIGINT AS covered
  FROM resid WHERE split = 'test'
)
SELECT (SELECT COUNT(*) FROM splits WHERE split = 'train') AS n_train,
       (SELECT nc FROM qhat) AS n_calib,
       nt AS n_test,
       floor((SELECT q FROM qhat) * 1e4 + 0.5) / 1e4 AS qhat,
       floor(covered / nt * 1e4 + 0.5) / 1e4 AS coverage
FROM test
""",
)
def conformal_coverage_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals (Vovk et al.; Lei et al.
    2018 — public method) for a regression model: fit OLS (n_chars ~
    token count) on the TRAIN split, take qhat = the ceil(0.9*(n+1))-th
    smallest absolute residual on the CALIBRATION split, and report
    empirical coverage of |y - yhat| <= qhat on the TEST split — the
    distribution-free uncertainty audit a model-serving pipeline runs
    before shipping intervals. Splits are the md5-digit convention.

    Determinism: OLS uses exact integer moments (trend_lines kernel);
    qhat is a DISCRETE order statistic selected by row_number (no
    interpolation); coverage is an integer ratio.

    Plan: one feature pass, a 1-row broadcast model, one residual pass;
    the order statistic runs on the calibration split only (a bounded
    fraction at any scale — and at 100 TB you'd census-bucket it like
    quantile_normalize)."""
    docs = load_table(spark, sf_dir, "documents")
    first_hex = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    splits = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("x"),
        F.col("n_chars").alias("y"),
        F.when(first_hex.isin("a", "b", "c"), "calib")
        .when(first_hex.isin("d", "e", "f"), "test")
        .otherwise("train")
        .alias("split"),
    )
    fit = splits.filter(F.col("split") == "train").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double") / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast("double")
    icept = (F.col("sy").cast("double") - slope * F.col("sx").cast("double")) / F.col(
        "n"
    )
    model = fit.select(
        slope.alias("slope"), icept.alias("icept"), F.col("n").alias("n_train")
    )
    resid = (
        splits.filter(F.col("split") != "train")
        .join(F.broadcast(model))
        .select(
            "doc_id",
            "split",
            "n_train",
            F.abs(F.col("y") - (F.col("icept") + F.col("slope") * F.col("x"))).alias(
                "r"
            ),
        )
    )
    wq = Window.orderBy("r", "doc_id")
    calib = (
        resid.filter(F.col("split") == "calib")
        .withColumn("rn", F.row_number().over(wq))
        .withColumn("nc", F.count("*").over(Window.partitionBy()))
    )
    qhat = calib.filter(
        F.col("rn") == F.ceil(0.9 * (F.col("nc") + 1)).cast("long")
    ).select(F.col("r").alias("q"), F.col("nc").alias("n_calib"))
    test = (
        resid.filter(F.col("split") == "test")
        .join(F.broadcast(qhat))
        .groupBy("n_train", "n_calib", "q")
        .agg(
            F.count("*").alias("n_test"),
            F.sum(F.when(F.col("r") <= F.col("q"), 1).otherwise(0)).alias("covered"),
        )
    )
    return test.select(
        "n_train",
        "n_calib",
        "n_test",
        (F.floor(F.col("q") * 1e4 + F.lit(0.5)) / 1e4).alias("qhat"),
        (F.floor(F.col("covered") / F.col("n_test") * 1e4 + F.lit(0.5)) / 1e4).alias(
            "coverage"
        ),
    )


