"""Registry slice: mechanical round-6 split of the original single-file
registry.py (22.4k LoC) into family modules — see registry/__init__.py.
Slice order is preserved; oracle-builder helpers that read ORACLES at
import time rely on it."""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403
from ..operators import seqdp, tiny_df
from ..operators.rowmap import map_rows
from ._shared import _FLAT_COLS, _nested_events  # noqa: F401
from .r2_stats_streams import _phash_dedup_report  # noqa: F401
from .r1_parity_ext import _lang_score  # noqa: F401
from .r1_parity_ext import _TOKS  # noqa: F401
from .r1_parity_ext import _GRAMS  # noqa: F401

# ---------------------------------------------------------------------------
# ROUND 5 — baseline JPEG: the codec 90% of a real crawl needs, now a
# fourth REAL image format (pure stdlib+numpy baseline-sequential
# decoder: marker grammar, canonical Huffman, restarts, dequant+IDCT,
# JFIF color convert). The fixture is built in the COMPRESSED domain —
# DC-only blocks with Q[0]=8 land the IDCT exactly on dc+128, and the
# sub-0.18 AC probe rounds away — so DuckDB recomputes every decoded
# pixel from closed integer formulas and the float YCbCr->RGB mirror.
# ---------------------------------------------------------------------------
@register(
    "multimodal_jpeg_decode",
    # per-pixel block index -> DC formulas -> JFIF conversion, with the
    # exact-integer SUM(r+g+b)/(3wh) mean (numpy pairwise sum of
    # integers is exact, so one division matches IEEE-for-IEEE)
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
def multimodal_jpeg_decode_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline JPEG decode executing in-sandbox (multimodal.
    decode_jpeg): DQT/DHT/SOF0/SOS/DRI marker walk, canonical Huffman
    with 0xFF00 unstuffing and RSTn restarts, DC prediction chains,
    dequantize + inverse zigzag + orthonormal float IDCT, JFIF
    YCbCr->RGB. Decode is map-side Arrow-batched over the binary
    payload column; only (doc_id, dims, mean) ever shuffles — the same
    100 TB shape as the PPM/PNG/BMP legs."""
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    return multimodal.image_decode_features(multimodal.synthetic_jpeg_media(docs))


@register(
    "multimodal_jpeg_phash_dedup",
    # the JPEG leg of the phash dedup contract: gray cells recomputed
    # from the compressed-domain pixel formulas THROUGH the JFIF float
    # conversion, then the identical band-blocked hamming report
    """
WITH dims AS (
  SELECT doc_id, 8 * (2 + doc_id % 3) AS w, 8 * (2 + doc_id % 2) AS h
  FROM documents
), cells AS (
  SELECT doc_id, yy.i * 8 + xx.i AS p, w,
         ((((yy.i * h) // 8) // 8) * (w // 8) + ((xx.i * w) // 8) // 8) AS b
  FROM dims
  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS i) yy
  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS i) xx
), ycc AS (
  SELECT doc_id, p,
         (128 + (doc_id * 7 + 13 * b) % 120 - 60)::DOUBLE AS y,
         (128 + (doc_id * 5 + 11 * b) % 40 - 20)::DOUBLE AS cb,
         (128 + (doc_id * 3 + 17 * b) % 40 - 20)::DOUBLE AS cr
  FROM cells
), gray_cells AS (
  SELECT doc_id, p,
         (CAST(GREATEST(0, LEAST(255, FLOOR(y + 1.402 * (cr - 128.0) + 0.5))) AS BIGINT)
          + CAST(GREATEST(0, LEAST(255, FLOOR(y - 0.344136 * (cb - 128.0)
                                   - 0.714136 * (cr - 128.0) + 0.5))) AS BIGINT)
          + CAST(GREATEST(0, LEAST(255, FLOOR(y + 1.772 * (cb - 128.0) + 0.5))) AS BIGINT)
         ) // 3 AS gray
  FROM ycc
), tot AS (
  SELECT doc_id, p, gray, SUM(gray) OVER (PARTITION BY doc_id) AS total
  FROM gray_cells
), ph AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN p < 63 AND gray * 64 > total
                       THEN CAST(1 AS BIGINT) << p ELSE 0 END) AS BIGINT) AS phash
  FROM tot GROUP BY doc_id
), groups AS (
  SELECT phash, COUNT(*) AS sz FROM ph GROUP BY phash
), bands AS (
  SELECT phash, sz, b.i AS band, (phash >> (b.i * 16)) & 65535 AS key
  FROM groups CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) b
), cand AS (
  SELECT DISTINCT a.phash AS ap, b.phash AS bp, a.sz AS sa, b.sz AS sb
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.phash < b.phash
)
SELECT (SELECT CAST(SUM(sz) AS BIGINT) FROM groups) AS n_images,
       (SELECT COUNT(*) FROM groups) AS n_distinct_hashes,
       (SELECT CAST(SUM(sz) - COUNT(*) AS BIGINT) FROM groups) AS exact_dup_images,
       COUNT(CASE WHEN bit_count(CAST(xor(ap, bp) AS BIGINT)) <= 2 THEN 1 END) AS n_near_hash_pairs,
       CAST(COALESCE(SUM(CASE WHEN bit_count(CAST(xor(ap, bp) AS BIGINT)) <= 2
                         THEN sa * sb END), 0) AS BIGINT) AS near_dup_mass
FROM cand
""",
)
def multimodal_jpeg_phash_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup detection over REAL decoded JPEG payloads:
    the full baseline-JPEG decoder (Huffman + IDCT + JFIF conversion)
    runs inside the Arrow batch, then the identical 63-bit average-hash
    -> 4x16-bit band-blocked hamming join as the PPM leg — proving the
    new codec composes with the multimodal dedup family end to end.
    Shuffles carry 16-bit band keys, never pixels."""
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.synthetic_jpeg_media(docs)
    return _phash_dedup_report(multimodal.image_phash(media))


@register(
    "dedup_downweight",
    # SlimPajama-style soft dedup: same exact-Jaccard pair graph walked
    # to components (recursive CTE), then weight = 1/|component|
    f"""
WITH RECURSIVE g AS (
  SELECT doc_id, {_GRAMS} AS grams FROM documents
), pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id
  FROM g a JOIN g b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.grams, b.grams))::DOUBLE
        / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.8
), edges AS (
  SELECT a_id AS u, b_id AS v FROM pairs
  UNION ALL
  SELECT b_id AS u, a_id AS v FROM pairs
), reach AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
), comp AS (
  SELECT d.doc_id,
         LEAST(d.doc_id, COALESCE(MIN(r.v), d.doc_id)) AS component_id
  FROM documents d LEFT JOIN reach r ON r.u = d.doc_id
  GROUP BY d.doc_id
), sizes AS (
  SELECT component_id, COUNT(*) AS component_size FROM comp GROUP BY 1
)
SELECT c.doc_id, c.component_id,
       s.component_size::BIGINT AS component_size,
       FLOOR(1.0 / s.component_size * 1e6 + 0.5) / 1e6 AS weight
FROM comp c JOIN sizes s USING (component_id)
ORDER BY c.doc_id
""",
)
def dedup_downweight_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup

    documents = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(documents, threshold=0.8)
    return dedup.dedup_downweight(documents, pairs)


@register(
    "sql_collation_distinct",
    # Spark-4 collation surface: COUNT(DISTINCT x) under UTF8_LCASE
    # equals DuckDB's COUNT(DISTINCT lower(x)); the mixed-case relation
    # is synthesized deterministically from doc_id parity
    """
WITH mixed AS (
  SELECT lang,
         CASE WHEN doc_id % 3 = 0 THEN upper(source)
              WHEN doc_id % 3 = 1 THEN source
              ELSE concat(upper(substr(source, 1, 1)), substr(source, 2)) END AS s
  FROM documents
)
SELECT lang,
       COUNT(DISTINCT lower(s))::BIGINT AS n_sources_ci,
       COUNT(DISTINCT s)::BIGINT AS n_sources_cs,
       COUNT(*)::BIGINT AS n_docs
FROM mixed GROUP BY lang ORDER BY lang
""",
)
def sql_collation_distinct_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 COLLATION surface (public SQL feature, SPARK-46830):
    string comparison semantics declared on the COLUMN, not hand-lower()ed
    at every call site. COUNT(DISTINCT s COLLATE UTF8_LCASE) counts
    case-insensitive distinct sources; the binary-collation count runs
    alongside to show the two semantics diverge on the synthesized
    mixed-case values. Catalyst plans the collated distinct as an
    ordinary two-phase aggregate — partial per partition, one shuffle
    on (lang, collation key) — so the construct is scale-neutral."""
    docs = load_table(spark, sf_dir, "documents")
    mixed = docs.select(
        "lang",
        F.when(F.col("doc_id") % 3 == 0, F.upper("source"))
        .when(F.col("doc_id") % 3 == 1, F.col("source"))
        .otherwise(
            # NOT initcap (which also lowercases the tail): mirror the
            # oracle's concat(upper(first), rest) byte-for-byte
            F.concat(
                F.upper(F.substring("source", 1, 1)),
                F.expr("substring(source, 2)"),
            )
        )
        .alias("s"),
    )
    return (
        mixed.groupBy("lang")
        .agg(
            F.countDistinct(F.collate(F.col("s"), "UTF8_LCASE")).alias("n_sources_ci"),
            F.countDistinct("s").alias("n_sources_cs"),
            F.count("*").alias("n_docs"),
        )
        .orderBy("lang")
    )


@register(
    "readability_report",
    # Flesch with deterministic proxies; identical run-count regexes
    # and the floor(x*1e4+0.5) quantization on the same IEEE doubles
    """
WITH c AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '\\S+'))::BIGINT AS n_words,
         len(regexp_extract_all(text, '[.!?]+'))::BIGINT AS n_sentences,
         len(regexp_extract_all(lower(text), '[aeiouy]+'))::BIGINT AS n_syllables
  FROM documents
), f AS (
  SELECT doc_id, n_words, n_sentences, n_syllables,
         FLOOR((206.835
                - 1.015 * (GREATEST(n_words, 1)::DOUBLE
                           / GREATEST(n_sentences, 1)::DOUBLE)
                - 84.6 * (n_syllables::DOUBLE
                          / GREATEST(n_words, 1)::DOUBLE)) * 1e4 + 0.5) / 1e4
           AS flesch
  FROM c
)
SELECT doc_id, n_words, n_sentences, n_syllables, flesch,
       CASE WHEN flesch >= 90 THEN 'very_easy'
            WHEN flesch >= 70 THEN 'easy'
            WHEN flesch >= 50 THEN 'medium'
            WHEN flesch >= 30 THEN 'hard'
            ELSE 'very_hard' END AS grade
FROM f ORDER BY doc_id
""",
)
def readability_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.readability_report(load_table(spark, sf_dir, "documents"))


@register(
    "code_prose_report",
    # same symbol/keyword/indent counts and threshold rule in SQL
    """
WITH c AS (
  SELECT doc_id,
         length(text)::BIGINT AS n_chars,
         len(regexp_extract_all(text, '[{}();=<>\\[\\]]'))::BIGINT AS n_symbol_chars,
         len(regexp_extract_all(text,
             '\\b(def|return|import|class|function|var|const|if|for)\\b'))::BIGINT
           AS n_code_keywords,
         len(list_filter(string_split(text, chr(10)),
                         ln -> regexp_matches(ln, '^(  |\\t)')))::BIGINT
           AS n_indented_lines
  FROM documents
), r AS (
  SELECT *, FLOOR(n_symbol_chars::DOUBLE / GREATEST(n_chars, 1)::DOUBLE * 1e6
                  + 0.5) / 1e6 AS symbol_ratio
  FROM c
)
SELECT doc_id, n_chars, n_symbol_chars, n_code_keywords, n_indented_lines,
       symbol_ratio,
       (symbol_ratio >= 0.04 OR n_code_keywords >= 3) AS is_code
FROM r ORDER BY doc_id
""",
)
def code_prose_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.code_prose_report(load_table(spark, sf_dir, "documents"))


@register(
    "bradley_terry_arena",
    # arena-style BT fit in exact bigint micro-units: the 12-round
    # minorization is replayed by a recursive CTE over score LISTS,
    # every term one exact integer floor division
    """
WITH RECURSIVE seq AS (
  SELECT user_id, event_type, value,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS b_type,
         LEAD(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS b_value
  FROM events
), matches AS (
  SELECT CASE WHEN value > b_value THEN event_type ELSE b_type END AS winner,
         CASE WHEN value > b_value THEN b_type ELSE event_type END AS loser
  FROM seq
  WHERE b_type IS NOT NULL AND b_type <> event_type AND value <> b_value
), wd AS (
  SELECT winner, loser, COUNT(*)::BIGINT AS n FROM matches GROUP BY 1, 2
), und AS (
  SELECT i, j, SUM(n)::BIGINT AS m FROM (
    SELECT winner AS i, loser AS j, n FROM wd
    UNION ALL
    SELECT loser AS i, winner AS j, n FROM wd
  ) GROUP BY 1, 2
), types AS (
  SELECT i AS t, ROW_NUMBER() OVER (ORDER BY i) AS idx
  FROM (SELECT DISTINCT i FROM und)
), nt AS (SELECT COUNT(*)::BIGINT AS n FROM types
), wl AS (
  SELECT list(COALESCE(ww.w, 0) ORDER BY types.idx) AS w
  FROM types LEFT JOIN (
    SELECT winner AS t, SUM(n)::BIGINT AS w FROM wd GROUP BY 1) ww USING (t)
), mm AS (
  SELECT list(row ORDER BY idx) AS m FROM (
    SELECT ti.idx AS idx, list(COALESCE(u.m, 0) ORDER BY tj.idx) AS row
    FROM types ti CROSS JOIN types tj
    LEFT JOIN und u ON u.i = ti.t AND u.j = tj.t
    GROUP BY ti.idx)
), fit(it, s) AS (
  SELECT 0, (SELECT list(CAST(1000000 AS BIGINT) ORDER BY idx) FROM types)
  UNION ALL
  SELECT it + 1,
         list_transform(stepped, x -> (x * n * 1000000) // tot)
  FROM (
    SELECT it, n,
           list_reduce(stepped, (a, b) -> a + b) AS tot, stepped
    FROM (
      SELECT f.it AS it, nt.n AS n,
             list_transform(range(len(f.s)), k -> CASE
               WHEN list_reduce(list_transform(range(len(f.s)), j2 -> CASE
                      WHEN mm.m[k + 1][j2 + 1] = 0 THEN 0
                      ELSE (mm.m[k + 1][j2 + 1] * 1000000000000)
                           // (f.s[k + 1] + f.s[j2 + 1]) END),
                    (a, b) -> a + b) > 0
               THEN (wl.w[k + 1] * 1000000000000)
                    // list_reduce(list_transform(range(len(f.s)), j2 -> CASE
                         WHEN mm.m[k + 1][j2 + 1] = 0 THEN 0
                         ELSE (mm.m[k + 1][j2 + 1] * 1000000000000)
                              // (f.s[k + 1] + f.s[j2 + 1]) END),
                       (a, b) -> a + b)
               ELSE f.s[k + 1] END) AS stepped
      FROM fit f, nt, wl, mm WHERE f.it < 12))
), final_s AS (
  SELECT s FROM fit WHERE it = 12
), per_type AS (
  SELECT t.t AS event_type, t.idx,
         (SELECT COALESCE(SUM(n), 0) FROM wd WHERE winner = t.t)::BIGINT AS n_wins,
         (SELECT COALESCE(SUM(m), 0) FROM und WHERE i = t.t)::BIGINT AS n_matches,
         f.s[t.idx] / 1e6 AS bt_score
  FROM types t, final_s f
)
SELECT event_type, n_wins, n_matches, bt_score,
       ROW_NUMBER() OVER (ORDER BY bt_score DESC, event_type)::BIGINT AS rank
FROM per_type ORDER BY event_type
""",
)
def bradley_terry_arena_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.bradley_terry_strengths(load_events(spark, sf_dir))


@register(
    "pivot_event_matrix",
    # .pivot() relational surface: per-user event-type count matrix +
    # summed value; DuckDB mirrors with conditional aggregates
    """
SELECT user_id,
       COUNT(CASE WHEN event_type = 'click' THEN 1 END)::BIGINT AS n_click,
       COUNT(CASE WHEN event_type = 'view' THEN 1 END)::BIGINT AS n_view,
       COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)::BIGINT AS n_purchase,
       FLOOR(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN value END), 0)
             * 1e4 + 0.5) / 1e4 AS purchase_value
FROM events
GROUP BY user_id
ORDER BY user_id
""",
)
def pivot_event_matrix_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RelationalGroupedDataset.pivot with an EXPLICIT value list — the
    wide event-type matrix every feature store materializes. Explicit
    values matter at scale: without them Spark runs an extra distinct
    pass AND the column set becomes data-dependent (schema drift);
    pinned values keep it one partial-agg shuffle, same plan as any
    groupBy. Purchase value is quantized half-up; count columns are
    exact."""
    events = load_events(spark, sf_dir)
    piv = (
        events.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase"])
        .agg(
            # count(*) is rejected inside Pivot — count(lit(1)) is the
            # supported equivalent
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("v"),
        )
    )
    return piv.select(
        "user_id",
        F.coalesce("click_n", F.lit(0)).cast("long").alias("n_click"),
        F.coalesce("view_n", F.lit(0)).cast("long").alias("n_view"),
        F.coalesce("purchase_n", F.lit(0)).cast("long").alias("n_purchase"),
        (
            F.floor(F.coalesce("purchase_v", F.lit(0.0)) * 1e4 + F.lit(0.5)) / 1e4
        ).alias("purchase_value"),
    ).orderBy("user_id")


@register(
    "kcore_decomposition",
    # recursive peel over the packed node list with a dense adjacency
    # list-of-lists; fixed point selected by the `done` sentinel row
    """
WITH RECURSIVE e AS (
  SELECT DISTINCT user_id % 100 AS u, 100 + event_id % 100 AS v FROM events
), ed AS (
  SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e
), ids AS (
  SELECT UNNEST(range(200)) AS id
), adj AS (
  SELECT list(nbrs ORDER BY id) AS a FROM (
    SELECT ids.id AS id,
           COALESCE(list(ed.v ORDER BY ed.v) FILTER (ed.v IS NOT NULL), [])
             AS nbrs
    FROM ids LEFT JOIN ed ON ed.u = ids.id
    GROUP BY ids.id)
), peel(it, nodes, done) AS (
  SELECT 0, (SELECT list(id ORDER BY id) FROM ids), false
  UNION ALL
  SELECT q.it + 1, q.new, q.new = q.nodes
  FROM (
    SELECT p.it AS it, p.nodes AS nodes,
           list_filter(p.nodes,
             n -> len(list_intersect(adj.a[n + 1], p.nodes)) >= 3) AS new
    FROM peel p, adj
    WHERE NOT p.done AND p.it < 250) q
), core AS (
  SELECT nodes FROM peel WHERE done ORDER BY it LIMIT 1
)
SELECT un.n::BIGINT AS node,
       len(list_intersect(a.a[un.n + 1], c.nodes))::BIGINT AS core_degree
FROM core c, adj a, LATERAL (SELECT UNNEST(c.nodes) AS n) un
ORDER BY node
""",
)
def kcore_decomposition_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.kcore_decomposition(load_events(spark, sf_dir))


@register(
    "transpose_lang_stats",
    # DataFrame.transpose (Spark 4.0): the 3x5 per-language stats
    # matrix flipped to metric rows; oracle = explicit UNION of the
    # three conditional-aggregate rows
    """
WITH s AS (
  SELECT lang, COUNT(*)::DOUBLE AS n_docs,
         SUM(length(text))::DOUBLE AS total_chars,
         SUM(len(regexp_extract_all(text, '\\S+')))::DOUBLE AS total_words
  FROM documents GROUP BY lang
)
SELECT 'n_docs' AS key,
       MAX(CASE WHEN lang = 'de' THEN n_docs END) AS de,
       MAX(CASE WHEN lang = 'en' THEN n_docs END) AS en,
       MAX(CASE WHEN lang = 'es' THEN n_docs END) AS es,
       MAX(CASE WHEN lang = 'fr' THEN n_docs END) AS fr,
       MAX(CASE WHEN lang = 'zh' THEN n_docs END) AS zh
FROM s
UNION ALL
SELECT 'total_chars',
       MAX(CASE WHEN lang = 'de' THEN total_chars END),
       MAX(CASE WHEN lang = 'en' THEN total_chars END),
       MAX(CASE WHEN lang = 'es' THEN total_chars END),
       MAX(CASE WHEN lang = 'fr' THEN total_chars END),
       MAX(CASE WHEN lang = 'zh' THEN total_chars END)
FROM s
UNION ALL
SELECT 'total_words',
       MAX(CASE WHEN lang = 'de' THEN total_words END),
       MAX(CASE WHEN lang = 'en' THEN total_words END),
       MAX(CASE WHEN lang = 'es' THEN total_words END),
       MAX(CASE WHEN lang = 'fr' THEN total_words END),
       MAX(CASE WHEN lang = 'zh' THEN total_words END)
FROM s
ORDER BY key
""",
)
def transpose_lang_stats_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame.transpose (Spark 4.0, public API): the per-language
    stats matrix flipped so metrics become rows and languages become
    columns — the report-layout flip analysts otherwise hand-roll with
    N unions. transpose() collects the (tiny, aggregated) frame's
    index column to derive the schema, so it belongs strictly AFTER
    the reduction: here the input is 5 rows x 4 columns — the
    corpus-sized work happened in the groupBy before it."""
    docs = load_table(spark, sf_dir, "documents")
    stats = docs.groupBy("lang").agg(
        F.count("*").cast("double").alias("n_docs"),
        F.sum(F.length("text")).cast("double").alias("total_chars"),
        F.sum(F.size(F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), 0)))
        .cast("double")
        .alias("total_words"),
    )
    out = stats.transpose("lang")
    return out.select(
        "key", "de", "en", "es", "fr", "zh"
    ).orderBy("key")


@register(
    "approx_topk_events",
    # approx_top_k (Spark 4.1 sketch aggregate): exact below sketch
    # capacity, so the DuckDB exact top-3 is the oracle; sorted
    # (count desc, type) for a deterministic boundary
    """
SELECT event_type, COUNT(*)::BIGINT AS n
FROM events GROUP BY event_type
ORDER BY n DESC, event_type LIMIT 3
""",
)
def approx_topk_events_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_top_k (Spark 4.1 SQL aggregate — the Apache DataSketches
    frequent-items path): heavy-hitter event types without a global
    sort. Below sketch capacity (default 10k tracked items vs 5 types
    here) the counts are EXACT, which is what makes the exact-SQL
    oracle valid; at 100 TB the sketch is the point — one pass, fixed
    memory, mergeable across partitions, versus the full groupBy the
    oracle runs."""
    events = load_events(spark, sf_dir)
    sk = events.select(
        F.expr("approx_top_k(event_type, 3)").alias("tk")
    )
    return (
        sk.select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("event_type"),
            F.col("e.count").cast("long").alias("n"),
        )
        .orderBy(F.col("n").desc(), "event_type")
    )


@register(
    "pass_at_k_report",
    # unbiased pass@k (Chen et al. 2021 estimator) per k: the per-user
    # product runs i = 0..k-1 left-to-right in BOTH engines, per-user
    # values quantize to bigint micro-units, sums stay exact
    """
WITH per_task AS (
  SELECT user_id, COUNT(*)::BIGINT AS n,
         COUNT(CASE WHEN value > 1.5 THEN 1 END)::BIGINT AS c
  FROM events GROUP BY user_id
), ks AS (SELECT UNNEST([1, 5, 10]) AS k
), per AS (
  SELECT k, user_id,
         CAST(FLOOR((CASE
           WHEN c = 0 THEN 0.0
           WHEN n - c < LEAST(k, n) THEN 1.0
           ELSE 1.0 - list_reduce(
                  list_transform(range(LEAST(k, n)),
                    i -> (n - c - i)::DOUBLE / (n - i)::DOUBLE),
                  (a, b) -> a * b)
         END) * 1e6 + 0.5) AS BIGINT) AS p_u
  FROM per_task, ks
)
SELECT k::BIGINT AS k, COUNT(*)::BIGINT AS n_tasks,
       FLOOR(SUM(p_u) / COUNT(*) * 1e0 + 0.5) / 1e6 AS pass_at_k
FROM per GROUP BY k ORDER BY k
""",
)
def pass_at_k_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pass@k (the HumanEval/codegen eval estimator, Chen et al. 2021,
    public): per task (user) with n attempts and c successes
    (value > 1.5), pass@k = 1 - C(n-c,k)/C(n,k), computed as the
    telescoping product so no factorials overflow. Per-user values are
    quantized to bigint micro-units BEFORE averaging — the sum is
    exact, so float summation order never enters (the house census
    trick). One user shuffle; k-fan-out is a 3x broadcast."""
    events = load_events(spark, sf_dir)
    per_task = events.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.count(F.when(F.col("value") > 1.5, 1)).alias("c"),
    )
    ks = spark.range(0, 1).select(
        F.explode(F.array(F.lit(1), F.lit(5), F.lit(10))).alias("k")
    )
    per = per_task.crossJoin(F.broadcast(ks)).select(
        "k",
        F.floor(
            F.when(F.col("c") == 0, F.lit(0.0))
            .when(F.col("n") - F.col("c") < F.least("k", "n"), F.lit(1.0))
            .otherwise(
                F.lit(1.0)
                - F.aggregate(
                    F.sequence(F.lit(0), F.least("k", "n") - 1),
                    F.lit(1.0),
                    lambda acc, i: acc
                    * (F.col("n") - F.col("c") - i).cast("double")
                    / (F.col("n") - i).cast("double"),
                )
            )
            * 1e6
            + F.lit(0.5)
        )
        .cast("long")
        .alias("p_u"),
    )
    return (
        per.groupBy("k")
        .agg(
            F.count("*").alias("n_tasks"),
            (
                F.floor(F.sum("p_u") / F.count("*") + F.lit(0.5)) / 1e6
            ).alias("pass_at_k"),
        )
        .select(
            F.col("k").cast("long").alias("k"),
            F.col("n_tasks").cast("long").alias("n_tasks"),
            "pass_at_k",
        )
        .orderBy("k")
    )


@register(
    "gini_source_concentration",
    # Gini over per-source token mass: rank the 20-cell census, one
    # closed formula on exact integer sums
    """
WITH m AS (
  SELECT source, SUM(len(regexp_extract_all(text, '\\S+')))::BIGINT AS toks
  FROM documents GROUP BY source
), r AS (
  SELECT toks, ROW_NUMBER() OVER (ORDER BY toks, source) AS rk FROM m
)
SELECT COUNT(*)::BIGINT AS n_sources, SUM(toks)::BIGINT AS total_tokens,
       FLOOR((2.0 * SUM(rk * toks) / (COUNT(*) * SUM(toks))
              - (COUNT(*) + 1.0) / COUNT(*)) * 1e6 + 0.5) / 1e6 AS gini
FROM r
""",
)
def gini_source_concentration_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of token mass across sources — the mixture-
    concentration report a data-governance pass runs before weighting
    (G = 2*sum(rank*x)/(n*sum(x)) - (n+1)/n on the ascending-sorted
    census; public formula). The corpus reduces to a 20-cell census in
    one partial-agg shuffle; the rank window runs on 20 rows. All sums
    are exact integers; the formula is one deterministic float
    expression."""
    docs = load_table(spark, sf_dir, "documents")
    m = docs.groupBy("source").agg(
        F.sum(F.size(F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), 0)))
        .cast("long")
        .alias("toks")
    )
    r = m.select(
        "toks",
        F.row_number().over(Window.orderBy("toks", "source")).alias("rk"),
    )
    return r.agg(
        F.count("*").cast("long").alias("n_sources"),
        F.sum("toks").cast("long").alias("total_tokens"),
        (
            F.floor(
                (
                    F.lit(2.0) * F.sum(F.col("rk") * F.col("toks"))
                    / (F.count("*") * F.sum("toks"))
                    - (F.count("*") + F.lit(1.0)) / F.count("*")
                )
                * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("gini"),
    )


@register(
    "dpo_pair_builder",
    # best-vs-worst preference mining on the shared quantized-logit
    # quality model; rank windows + rank-equality join, margin > 0
    f"""
WITH f AS (
  SELECT doc_id, lang, source,
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
  SELECT doc_id, lang, source,
         FLOOR(((SELECT w FROM wts WHERE i = 0) * (n_tokens / 100.0)
          + (SELECT w FROM wts WHERE i = 1) * (n_stop / (n_tokens + 1.0))
          + (SELECT w FROM wts WHERE i = 2) * (n_chars / (n_tokens + 1.0))
          + (SELECT w FROM wts WHERE i = 3) * (n_dots / (n_chars + 1.0))
          + (SELECT w FROM wts WHERE i = 4)) * 1e4 + 0.5) / 1e4 AS logit
  FROM f
), chosen AS (
  SELECT lang, source, doc_id AS chosen_id, logit AS logit_c,
         ROW_NUMBER() OVER (PARTITION BY lang, source
                            ORDER BY logit DESC, doc_id) AS pair_rank
  FROM z
), rejected AS (
  SELECT lang, source, doc_id AS rejected_id, logit AS logit_r,
         ROW_NUMBER() OVER (PARTITION BY lang, source
                            ORDER BY logit ASC, doc_id) AS pair_rank
  FROM z
)
SELECT c.lang, c.source, c.pair_rank::BIGINT AS pair_rank,
       c.chosen_id, r.rejected_id,
       FLOOR((c.logit_c - r.logit_r) * 1e4 + 0.5) / 1e4 AS margin
FROM chosen c
JOIN rejected r USING (lang, source, pair_rank)
WHERE c.pair_rank <= 2 AND r.pair_rank <= 2
  AND c.chosen_id <> r.rejected_id
  AND FLOOR((c.logit_c - r.logit_r) * 1e4 + 0.5) / 1e4 > 0
ORDER BY lang, source, pair_rank
""",
)
def dpo_pair_builder_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.dpo_pair_builder(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Round-5 additions: causal matching, sequential testing, embedding
# compression, feature hashing, ER blocking.
# ---------------------------------------------------------------------------
@register(
    "cem_att_estimate",
    # coarsened-exact-matching ATT: 10-cell activity coarsening, cells
    # with both arms matched, ATT = treated-weighted cell difference
    """
WITH pu AS (
  SELECT user_id, user_id % 2 AS arm, COUNT(*) AS n_ev,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY 1
), cells AS (
  SELECT LEAST(n_ev // 5, 9) AS b,
         SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0,
         SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS k0,
         SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1,
         SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS k1
  FROM pu GROUP BY 1
), matched AS (
  SELECT *, FLOOR((CAST(k1 AS DOUBLE) / n1 - CAST(k0 AS DOUBLE) / n0) * 1e6
                  + 0.5) AS dq
  FROM cells WHERE n0 > 0 AND n1 > 0
)
SELECT COUNT(*)::BIGINT AS n_cells_matched,
       SUM(n1)::BIGINT AS n_treated_matched,
       FLOOR(SUM(dq * n1) / SUM(n1) / 1e6 * 1e6 + 0.5) / 1e6 AS att_cem
FROM matched
""",
)
def cem_att_estimate_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarsened Exact Matching ATT (Iacus, King & Porro 2012 — public
    method): coarsen the confounder (activity count) into 10 bins,
    keep only bins where BOTH arms appear (common support), and
    estimate the treatment effect on the treated as the
    treated-weighted mean of per-bin arm differences. The matching
    complement of ipw_treatment_effect: CEM prunes off-support units
    instead of reweighting them.

    Determinism: the (bin, arm) census is exact ints; each bin's
    difference quantizes to a 1e-6 int BEFORE the treated-weighted
    mean; the headline ATT is one fixed IEEE expression.

    Plan shape / 100 TB: one user shuffle -> 10-cell census ->
    census algebra. Linear; no window, no join."""
    events = load_events(spark, sf_dir)
    pu = events.groupBy(
        "user_id", F.pmod(F.col("user_id"), F.lit(2)).alias("arm")
    ).agg(
        F.count("*").alias("n_ev"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("conv"),
    )
    cells = pu.groupBy(
        F.least(F.floor(F.col("n_ev") / 5), F.lit(9)).alias("b")
    ).agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0)).alias("k0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0)).alias("k1"),
    )
    matched = cells.filter((F.col("n0") > 0) & (F.col("n1") > 0)).withColumn(
        "dq",
        F.floor(
            (
                F.col("k1").cast("double") / F.col("n1")
                - F.col("k0").cast("double") / F.col("n0")
            )
            * 1e6
            + F.lit(0.5)
        ),
    )
    return matched.agg(
        F.count("*").cast("long").alias("n_cells_matched"),
        F.sum("n1").cast("long").alias("n_treated_matched"),
        (
            F.floor(F.sum(F.col("dq") * F.col("n1")) / F.sum("n1") / 1e6 * 1e6 + F.lit(0.5))
            / 1e6
        ).alias("att_cem"),
    )


# SPRT increments for H0: p=0.15 vs H1: p=0.20 on the per-event purchase
# indicator, quantized to exact 1e-9 integers so the running sum is
# integer arithmetic in both engines:
#   a = floor(ln(0.20/0.15)*1e9 + 0.5), b = floor(ln(0.80/0.85)*1e9 + 0.5)
#   A = floor(ln((1-beta)/alpha)*1e9 + 0.5) with alpha = beta = 0.05
_SPRT_A_INC = 287682072
_SPRT_B_INC = -60624622
_SPRT_BOUND = 2944438979


@register(
    "sprt_sequential_test",
    # day census -> cumulative day offsets (tiny window) -> within-day
    # running LLR -> first boundary crossing by (ts, event_id)
    f"""
WITH ev AS (
  SELECT ts, event_id, DATE_TRUNC('day', ts) AS d,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x
  FROM events
), days AS (
  SELECT d, COUNT(*) AS n, SUM(x) AS k FROM ev GROUP BY 1
), offs AS (
  SELECT d,
         COALESCE(SUM(n) OVER (ORDER BY d
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_prev,
         COALESCE(SUM(k) OVER (ORDER BY d
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS k_prev
  FROM days
), run AS (
  SELECT ev.ts, ev.event_id,
         o.n_prev + SUM(1) OVER w AS n_cum,
         o.k_prev + SUM(ev.x) OVER w AS k_cum
  FROM ev JOIN offs o USING (d)
  WINDOW w AS (PARTITION BY ev.d ORDER BY ev.ts, ev.event_id
               ROWS UNBOUNDED PRECEDING)
), llr AS (
  SELECT ts, event_id, n_cum,
         {_SPRT_A_INC} * k_cum + {_SPRT_B_INC} * (n_cum - k_cum) AS q
  FROM run
), crossing AS (
  SELECT CASE WHEN q >= {_SPRT_BOUND} THEN 'accept_h1'
              ELSE 'accept_h0' END AS decision,
         n_cum AS n_trials, q, 0 AS pri, ts, event_id
  FROM llr WHERE q >= {_SPRT_BOUND} OR q <= -{_SPRT_BOUND}
), final AS (
  SELECT 'continue' AS decision, n_cum AS n_trials, q, 1 AS pri, ts, event_id
  FROM llr ORDER BY n_cum DESC LIMIT 1
), u AS (
  SELECT * FROM crossing UNION ALL SELECT * FROM final
)
SELECT decision, n_trials::BIGINT AS n_trials,
       FLOOR(q / 1e9 * 1e6 + 0.5) / 1e6 AS llr
FROM u ORDER BY pri, ts, event_id LIMIT 1
""",
)
def sprt_sequential_test_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential probability ratio test (Wald 1945 — public method) on
    the per-event purchase indicator: H0 p=0.15 vs H1 p=0.20 at
    alpha = beta = 0.05; the test walks the event stream in (ts,
    event_id) order accumulating the log-likelihood ratio and stops at
    the FIRST event whose running LLR leaves (-ln 19, +ln 19) — the
    always-valid early-stopping complement of the fixed-horizon
    ab_test_report / srm_check family.

    Determinism: both per-trial increments are pre-quantized 1e-9
    integer constants, so the running LLR is exact integer arithmetic;
    the crossing event is selected by (ts, event_id) — a total order.

    Plan shape / 100 TB: the GLOBAL running sum is decomposed as day
    census (one partial-agg shuffle) -> cumulative day offsets (a
    window over tens of rows) -> within-day running sums (window
    PARTITIONED BY day — parallel, never a single global sort
    partition) -> TakeOrdered(1) for the first crossing. Linear."""
    events = load_events(spark, sf_dir)
    ev = events.select(
        "ts",
        "event_id",
        F.date_trunc("day", F.col("ts")).alias("d"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("x"),
    )
    days = ev.groupBy("d").agg(F.count("*").alias("n"), F.sum("x").alias("k"))
    woff = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    offs = days.select(
        "d",
        F.coalesce(F.sum("n").over(woff), F.lit(0)).alias("n_prev"),
        F.coalesce(F.sum("k").over(woff), F.lit(0)).alias("k_prev"),
    )
    w = (
        Window.partitionBy("d")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = ev.join(F.broadcast(offs), "d").select(
        "ts",
        "event_id",
        (F.col("n_prev") + F.count("*").over(w)).alias("n_cum"),
        (F.col("k_prev") + F.sum("x").over(w)).alias("k_cum"),
    )
    llr = run.select(
        "ts",
        "event_id",
        "n_cum",
        (
            F.lit(_SPRT_A_INC) * F.col("k_cum")
            + F.lit(_SPRT_B_INC) * (F.col("n_cum") - F.col("k_cum"))
        ).alias("q"),
    )
    crossing = llr.filter(
        (F.col("q") >= _SPRT_BOUND) | (F.col("q") <= -_SPRT_BOUND)
    ).select(
        F.when(F.col("q") >= _SPRT_BOUND, "accept_h1")
        .otherwise("accept_h0")
        .alias("decision"),
        F.col("n_cum").alias("n_trials"),
        "q",
        F.lit(0).alias("pri"),
        "ts",
        "event_id",
    )
    final = (
        llr.orderBy(F.col("n_cum").desc())
        .limit(1)
        .select(
            F.lit("continue").alias("decision"),
            F.col("n_cum").alias("n_trials"),
            "q",
            F.lit(1).alias("pri"),
            "ts",
            "event_id",
        )
    )
    return (
        crossing.unionByName(final)
        .orderBy("pri", "ts", "event_id")
        .limit(1)
        .select(
            "decision",
            F.col("n_trials").cast("long").alias("n_trials"),
            (F.floor(F.col("q") / 1e9 * 1e6 + F.lit(0.5)) / 1e6).alias("llr"),
        )
    )


@register(
    "embedding_random_projection",
    # +/-1 sign matrix from the house md5 convention; per-element 1e-6
    # quantization BEFORE the integer dot products, so both engines sum
    # exact ints; norms/distortion are single IEEE expressions at the end
    """
WITH proj AS (
  SELECT vec_id, k.k AS k,
         list_aggregate(list_transform(embedding, (x, i) ->
           CAST(FLOOR(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
           * (2 * (CAST(concat('0x', substr(md5((i - 1) || ':' || k.k), 1, 15))
                   AS UBIGINT)::BIGINT % 2) - 1)), 'sum') AS pq
  FROM embeddings CROSS JOIN (SELECT UNNEST(range(16)) AS k) k
), pv AS (
  SELECT vec_id, SUM(pq * pq) AS proj_sq FROM proj GROUP BY 1
), ov AS (
  SELECT vec_id, list_aggregate(list_transform(embedding, x ->
           CAST(FLOOR(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
           * CAST(FLOOR(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT)), 'sum')
         AS orig_sq
  FROM embeddings
)
SELECT vec_id,
       FLOOR(sqrt(CAST(orig_sq AS DOUBLE)) + 0.5) / 1e6 AS orig_norm,
       FLOOR(sqrt(CAST(proj_sq AS DOUBLE) / 16.0) + 0.5) / 1e6 AS proj_norm,
       FLOOR(sqrt(CAST(proj_sq AS DOUBLE) / 16.0)
             / sqrt(CAST(orig_sq AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS distortion
FROM pv JOIN ov USING (vec_id)
ORDER BY vec_id
""",
)
def embedding_random_projection_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection (Achlioptas 2003
    database-friendly +/-1 variant — public method): compress each
    embedding from d dims to m=16 with a deterministic sign matrix
    s(j,k) derived from the house md5 convention, and report per-vector
    norm distortion |Pv|/|v| — the acceptance gate a pipeline runs
    before switching its ANN index to the compressed vectors.

    Determinism: elements quantize to 1e-6 ints BEFORE the dot
    products, so projections are exact integer sums in both engines;
    the sign matrix is pure md5 bits; norms are single IEEE sqrt
    expressions over exact ints.

    Plan shape / 100 TB: the sign matrix is 256 x 16 rows built from
    spark.range — broadcast; posexplode fans each vector to d rows
    map-side, the broadcast join fans x16, and partial aggregation
    collapses to (vec, k) BEFORE the one shuffle. Linear in corpus,
    never a vector-vector pair."""
    emb = load_table(spark, sf_dir, "embeddings")
    elems = emb.select(
        "vec_id", F.posexplode("embedding").alias("j", "x")
    ).select(
        "vec_id",
        "j",
        F.floor(F.col("x").cast("double") * 1e6 + F.lit(0.5)).cast("long").alias("vq"),
    )
    # 256 covers any dim up to 256 (join keeps only j values present)
    signs = (
        spark.range(256)
        .select(F.col("id").alias("j"))
        .crossJoin(spark.range(16).select(F.col("id").alias("k")))
        .select(
            "j",
            "k",
            (
                F.lit(2)
                * F.pmod(
                    F.conv(
                        F.substring(
                            F.md5(F.concat_ws(":", F.col("j"), F.col("k"))), 1, 15
                        ),
                        16,
                        10,
                    ).cast("long"),
                    F.lit(2),
                )
                - F.lit(1)
            ).alias("sgn"),
        )
    )
    proj = (
        elems.join(F.broadcast(signs), "j")
        .groupBy("vec_id", "k")
        .agg(F.sum(F.col("vq") * F.col("sgn")).alias("pq"))
    )
    pv = proj.groupBy("vec_id").agg(F.sum(F.col("pq") * F.col("pq")).alias("proj_sq"))
    ov = elems.groupBy("vec_id").agg(F.sum(F.col("vq") * F.col("vq")).alias("orig_sq"))
    return (
        pv.join(ov, "vec_id")
        .select(
            "vec_id",
            (F.floor(F.sqrt(F.col("orig_sq").cast("double")) + F.lit(0.5)) / 1e6).alias(
                "orig_norm"
            ),
            (
                F.floor(F.sqrt(F.col("proj_sq").cast("double") / F.lit(16.0)) + F.lit(0.5))
                / 1e6
            ).alias("proj_norm"),
            (
                F.floor(
                    F.sqrt(F.col("proj_sq").cast("double") / F.lit(16.0))
                    / F.sqrt(F.col("orig_sq").cast("double"))
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("distortion"),
        )
        .orderBy("vec_id")
    )


@register(
    "feature_hashing_vectors",
    # hashing-trick bag-of-words: bucket = md5 % 64, sign = next md5 bit;
    # per-bucket integer sums, then per-doc nnz / l2sq / deterministic argmax
    """
WITH tok AS (
  SELECT doc_id, UNNEST(regexp_extract_all(text, '\\S+')) AS t FROM documents
), hashed AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(t), 1, 15)) AS UBIGINT)::BIGINT AS h
  FROM tok
), bucketed AS (
  SELECT doc_id, h % 64 AS b, SUM(2 * ((h // 64) % 2) - 1) AS val
  FROM hashed GROUP BY 1, 2
), nz AS (
  SELECT * FROM bucketed WHERE val <> 0
), ranked AS (
  SELECT doc_id, b,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY ABS(val) DESC, b) AS rn
  FROM nz
), agg AS (
  SELECT doc_id, COUNT(*)::BIGINT AS nnz, SUM(val * val)::BIGINT AS l2sq
  FROM nz GROUP BY 1
)
SELECT a.doc_id, a.nnz, a.l2sq, r.b::BIGINT AS top_bucket
FROM agg a JOIN ranked r ON a.doc_id = r.doc_id AND r.rn = 1
ORDER BY a.doc_id
""",
)
def feature_hashing_vectors_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing / the hashing trick (Weinberger et al. 2009 —
    public method): project each document's bag-of-words into a fixed
    64-bucket signed vector (bucket = token-hash mod 64, sign = the
    next hash bit, so collisions cancel in expectation) — the
    vocabulary-free featurization step of a large-scale text
    classifier. Reports per-doc sparsity (nnz), energy (l2sq) and the
    dominant bucket (deterministic argmax: largest |value|, lowest
    bucket on ties).

    Plan shape / 100 TB: tokens hash map-side (JVM md5, codegen);
    partial aggregation collapses to (doc, bucket<=64) before the one
    shuffle; the argmax is a 64-row-per-doc window. Linear."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), 0)).alias("t"),
    )
    hashed = tok.select(
        "doc_id",
        F.conv(F.substring(F.md5(F.col("t")), 1, 15), 16, 10).cast("long").alias("h"),
    )
    # sign bit = bit 6 of the hash: shiftright keeps the arithmetic exact
    # on 60-bit values (a double division would round above 2^53)
    bucketed = hashed.groupBy(
        "doc_id", F.pmod(F.col("h"), F.lit(64)).alias("b")
    ).agg(
        F.sum(
            F.lit(2) * F.pmod(F.shiftright(F.col("h"), 6), F.lit(2)) - F.lit(1)
        ).alias("val")
    )
    nz = bucketed.filter(F.col("val") != 0)
    ranked = nz.select(
        "doc_id",
        "b",
        F.row_number()
        .over(Window.partitionBy("doc_id").orderBy(F.abs(F.col("val")).desc(), "b"))
        .alias("rn"),
    )
    agg = nz.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("nnz"),
        F.sum(F.col("val") * F.col("val")).cast("long").alias("l2sq"),
    )
    return (
        agg.join(ranked.filter(F.col("rn") == 1), "doc_id")
        .select("doc_id", "nnz", "l2sq", F.col("b").cast("long").alias("top_bucket"))
        .orderBy("doc_id")
    )


@register(
    "er_sorted_neighborhood",
    # sorted-neighborhood blocking: first-token blocks, name-sorted
    # windows of 2 trailing neighbors, token-Jaccard on candidate pairs
    """
WITH p AS (
  SELECT p_partkey, p_name,
         split_part(p_name, ' ', 1) AS blk,
         list_distinct(string_split(p_name, ' ')) AS toks
  FROM part
), nbr AS (
  SELECT p_partkey AS a_key, p_name AS a_name, toks AS a_toks,
         LEAD(p_partkey, 1) OVER w AS b1_key,
         LEAD(toks, 1) OVER w AS b1_toks,
         LEAD(p_partkey, 2) OVER w AS b2_key,
         LEAD(toks, 2) OVER w AS b2_toks
  FROM p
  WINDOW w AS (PARTITION BY blk ORDER BY p_name, p_partkey)
), pairs AS (
  SELECT a_key, b1_key AS b_key, a_toks AS x, b1_toks AS y FROM nbr
  WHERE b1_key IS NOT NULL
  UNION ALL
  SELECT a_key, b2_key AS b_key, a_toks AS x, b2_toks AS y FROM nbr
  WHERE b2_key IS NOT NULL
)
SELECT a_key, b_key,
       FLOOR(CAST(len(list_intersect(x, y)) AS DOUBLE)
             / len(list_distinct(list_concat(x, y))) * 1e6 + 0.5) / 1e6 AS sim
FROM pairs
WHERE len(list_intersect(x, y)) > 0
ORDER BY a_key, b_key
""",
)
def er_sorted_neighborhood_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood entity-resolution blocking (Hernandez &
    Stolfo 1995 — public method): sort records by a blocking key
    (name), slide a fixed window, and compare only window neighbors —
    the linear-candidate-generation alternative to the O(n^2)
    cross-join an ER pass would otherwise need. Candidates are the 2
    trailing neighbors within the first-token block; the comparator is
    token-set Jaccard (quantized 1e-6), emitting candidate pairs that
    share at least one token.

    Plan shape / 100 TB: blocks partition the sort (PARTITION BY blk —
    parallel window, never a single global sort partition; the classic
    multi-pass variant adds a second key, same shape); lead() makes
    candidate generation linear with fan-out = window size, and the
    Jaccard runs on tiny in-row token arrays. No join at all."""
    part = load_table(spark, sf_dir, "part")
    p = part.select(
        "p_partkey",
        "p_name",
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("blk"),
        F.array_distinct(F.split(F.col("p_name"), " ")).alias("toks"),
    )
    w = Window.partitionBy("blk").orderBy("p_name", "p_partkey")
    nbr = p.select(
        F.col("p_partkey").alias("a_key"),
        F.col("toks").alias("a_toks"),
        F.lead("p_partkey", 1).over(w).alias("b1_key"),
        F.lead("toks", 1).over(w).alias("b1_toks"),
        F.lead("p_partkey", 2).over(w).alias("b2_key"),
        F.lead("toks", 2).over(w).alias("b2_toks"),
    )
    pairs = (
        nbr.filter(F.col("b1_key").isNotNull())
        .select(
            "a_key",
            F.col("b1_key").alias("b_key"),
            F.col("a_toks").alias("x"),
            F.col("b1_toks").alias("y"),
        )
        .unionByName(
            nbr.filter(F.col("b2_key").isNotNull()).select(
                "a_key",
                F.col("b2_key").alias("b_key"),
                F.col("a_toks").alias("x"),
                F.col("b2_toks").alias("y"),
            )
        )
    )
    inter = F.size(F.array_intersect(F.col("x"), F.col("y")))
    union = F.size(F.array_union(F.col("x"), F.col("y")))
    return (
        pairs.filter(inter > 0)
        .select(
            "a_key",
            "b_key",
            (F.floor(inter.cast("double") / union * 1e6 + F.lit(0.5)) / 1e6).alias(
                "sim"
            ),
        )
        .orderBy("a_key", "b_key")
    )


@register(
    "psm_att_matched",
    # 1-NN propensity matching: each treated user matched to the
    # nearest preceding control in (score, side, user_id) order via a
    # single IGNORE NULLS carry-forward window (the as-of primitive)
    """
WITH pu AS (
  SELECT user_id, user_id % 2 AS side, COUNT(*) AS score,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY 1
), ord AS (
  SELECT side, score, conv,
         last_value(CASE WHEN side = 0 THEN
             struct_pack(s := score, c := conv) END IGNORE NULLS)
           OVER (ORDER BY score, side, user_id
                 ROWS UNBOUNDED PRECEDING) AS ctl
  FROM pu
), t AS (
  SELECT score, conv, ctl FROM ord WHERE side = 1
)
SELECT COUNT(*)::BIGINT AS n_treated,
       COUNT(ctl)::BIGINT AS n_matched,
       FLOOR(SUM(CASE WHEN ctl IS NOT NULL THEN conv - ctl.c END)
             * 1e6 / COUNT(ctl) + 0.5) / 1e6 AS att_psm,
       FLOOR(SUM(CASE WHEN ctl IS NOT NULL THEN score - ctl.s END)
             * 1e6 / COUNT(ctl) + 0.5) / 1e6 AS mean_score_gap
FROM t
""",
)
def psm_att_matched_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Propensity-score 1-NN matching ATT (Rosenbaum & Rubin 1983 —
    public method): every treated user is matched to the nearest
    control at or below its propensity score (activity count), ties
    resolved by the (score, side, user_id) total order, and the effect
    on the treated is the mean matched outcome difference — the
    matching-with-replacement complement of CEM's cell pruning and
    IPW's reweighting.

    Determinism: the match is an as-of carry-forward over a total
    order; outcomes are 0/1 ints; the two headline means are single
    fixed IEEE divisions over exact integer sums.

    Plan shape / 100 TB: the global as-of decomposes exactly like the
    engine's other prefix operators — score-bucket windows in parallel
    plus a per-bucket last-control table (one row per bucket) whose
    cumulative carry broadcasts back; never a single global sort
    partition. Here: one user shuffle, bucketed windows, a tiny
    bucket-prefix join, one final aggregate."""
    events = load_events(spark, sf_dir)
    pu = events.groupBy(
        "user_id", F.pmod(F.col("user_id"), F.lit(2)).alias("side")
    ).agg(
        F.count("*").alias("score"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("conv"),
    )
    b = F.floor(F.col("score") / 8).alias("b")
    u = pu.select("user_id", "side", "score", "conv", b)
    ctl_struct = F.when(
        F.col("side") == 0, F.struct(F.col("score").alias("s"), F.col("conv").alias("c"))
    )
    wb = (
        Window.partitionBy("b")
        .orderBy("score", "side", "user_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = u.select(
        "b", "side", "score", "conv",
        F.last(ctl_struct, ignorenulls=True).over(wb).alias("ctl_in"),
    )
    # one row per bucket: its last control (lexicographic max over the
    # same order), then the carry from all PRECEDING buckets
    bucket_last = (
        u.filter(F.col("side") == 0)
        .groupBy("b")
        .agg(F.max(F.struct(F.col("score").alias("s"), F.col("user_id"), F.col("conv").alias("c"))).alias("m"))
        .select("b", F.struct(F.col("m.s").alias("s"), F.col("m.c").alias("c")).alias("last_ctl"))
    )
    wprev = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    # every bucket that has treated rows needs a prefix row, including
    # buckets with no controls: build the prefix over ALL buckets
    all_b = u.select("b").distinct()
    prefix_all = (
        all_b.join(bucket_last, "b", "left")
        .select("b", F.last("last_ctl", ignorenulls=True).over(wprev).alias("prev_ctl"))
    )
    t = (
        within.filter(F.col("side") == 1)
        .join(F.broadcast(prefix_all), "b", "left")
        .select(
            "score", "conv", F.coalesce(F.col("ctl_in"), F.col("prev_ctl")).alias("ctl")
        )
    )
    matched = F.col("ctl").isNotNull()
    return t.agg(
        F.count("*").cast("long").alias("n_treated"),
        F.count(F.col("ctl")).cast("long").alias("n_matched"),
        (
            F.floor(
                F.sum(F.when(matched, F.col("conv") - F.col("ctl.c")))
                * 1e6
                / F.count(F.col("ctl"))
                + F.lit(0.5)
            )
            / 1e6
        ).alias("att_psm"),
        (
            F.floor(
                F.sum(F.when(matched, F.col("score") - F.col("ctl.s")))
                * 1e6
                / F.count(F.col("ctl"))
                + F.lit(0.5)
            )
            / 1e6
        ).alias("mean_score_gap"),
    )


@register(
    "cluster_purity_report",
    # milli-quantized exact-int L2 assignment to the k lowest-vec_id
    # seeds, then purity/NMI census algebra with per-term 1e-9
    # quantization before summation
    """
WITH seeds AS (
  SELECT vec_id AS cid, embedding AS c FROM embeddings
  ORDER BY vec_id LIMIT 8
), d AS (
  SELECT e.vec_id, e.label, s.cid,
         list_aggregate(list_transform(e.embedding, (v, i) ->
           (CAST(FLOOR(CAST(v AS DOUBLE) * 1000 + 0.5) AS BIGINT)
            - CAST(FLOOR(CAST(s.c[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT))
           * (CAST(FLOOR(CAST(v AS DOUBLE) * 1000 + 0.5) AS BIGINT)
            - CAST(FLOOR(CAST(s.c[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT))),
           'sum') AS d2
  FROM embeddings e CROSS JOIN seeds s
), assign AS (
  SELECT vec_id, label, cid FROM d
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1
), cl AS (
  SELECT cid, label, COUNT(*) AS n_cl FROM assign GROUP BY 1, 2
), tot AS (
  SELECT SUM(n_cl) AS n FROM cl
), cmarg AS (
  SELECT cid, SUM(n_cl) AS n_c FROM cl GROUP BY 1
), lmarg AS (
  SELECT label, SUM(n_cl) AS n_l FROM cl GROUP BY 1
), iterm AS (
  SELECT SUM(CAST(FLOOR(CAST(n_cl AS DOUBLE) / t.n
             * LN(CAST(t.n AS DOUBLE) * n_cl / (CAST(c.n_c AS DOUBLE) * l.n_l))
             * 1e9 + 0.5) AS BIGINT)) AS iq
  FROM cl JOIN cmarg c USING (cid) JOIN lmarg l USING (label), tot t
), hc AS (
  SELECT SUM(CAST(FLOOR(CAST(n_c AS DOUBLE) / t.n
             * LN(CAST(t.n AS DOUBLE) / n_c) * 1e9 + 0.5) AS BIGINT)) AS hq
  FROM cmarg, tot t
), hl AS (
  SELECT SUM(CAST(FLOOR(CAST(n_l AS DOUBLE) / t.n
             * LN(CAST(t.n AS DOUBLE) / n_l) * 1e9 + 0.5) AS BIGINT)) AS hq
  FROM lmarg, tot t
), pur AS (
  SELECT SUM(mx) AS pure_n FROM (
    SELECT cid, MAX(n_cl) AS mx FROM cl GROUP BY 1
  )
)
SELECT (SELECT COUNT(*) FROM cmarg)::BIGINT AS n_clusters,
       (SELECT COUNT(*) FROM lmarg)::BIGINT AS n_labels,
       FLOOR(CAST(pur.pure_n AS DOUBLE) / t.n * 1e6 + 0.5) / 1e6 AS purity,
       CASE WHEN hc.hq > 0 AND hl.hq > 0 THEN
         FLOOR(iterm.iq / sqrt(CAST(hc.hq AS DOUBLE) * CAST(hl.hq AS DOUBLE))
               * 1e6 + 0.5) / 1e6
       ELSE 0.0 END AS nmi
FROM pur, tot t, iterm, hc, hl
""",
)
def cluster_purity_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External clustering validation — purity and normalized mutual
    information (Manning, Raghavan & Schutze, IR book ch.16 — public
    measures) of a one-step KMeans assignment against the ground-truth
    labels: the eval loop a curation pipeline runs after clustering
    embeddings (are my clusters topical?). Assignment reuses the
    kmeans_step convention (seeds = k lowest vec_ids) hardened with
    milli-quantized exact-integer L2, so the contingency census is
    bit-identical across engines; every information term quantizes to
    a 1e-9 int BEFORE summation.

    Plan shape / 100 TB: broadcast k seeds into a map-side argmin (the
    kmeans_step shape), one (cluster, label) census shuffle — bounded
    by k x |labels| cells — then census algebra. Linear."""
    emb = load_table(spark, sf_dir, "embeddings")
    k = 8
    seeds = (
        emb.orderBy("vec_id")
        .limit(k)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("c"))
    )
    q = lambda col: F.floor(col.cast("double") * 1000 + F.lit(0.5)).cast("long")  # noqa: E731
    diff2 = F.zip_with(
        "embedding",
        "c",
        lambda a, b: (q(a) - q(b)) * (q(a) - q(b)),
    )
    d2 = F.aggregate(diff2, F.lit(0).cast("long"), lambda acc, v: acc + v)
    assign = (
        emb.crossJoin(F.broadcast(seeds))
        .select("vec_id", "label", "cid", d2.alias("d2"))
        .groupBy("vec_id", "label")
        .agg(F.min(F.struct("d2", "cid")).alias("s"))
        .select("vec_id", "label", F.col("s.cid").alias("cid"))
    )
    cl = assign.groupBy("cid", "label").agg(F.count("*").alias("n_cl"))
    tot = cl.agg(F.sum("n_cl").alias("n"))
    cmarg = cl.groupBy("cid").agg(F.sum("n_cl").alias("n_c"))
    lmarg = cl.groupBy("label").agg(F.sum("n_cl").alias("n_l"))
    iterm = (
        cl.join(cmarg, "cid")
        .join(lmarg, "label")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.floor(
                    F.col("n_cl").cast("double")
                    / F.col("n")
                    * F.log(
                        F.col("n").cast("double")
                        * F.col("n_cl")
                        / (F.col("n_c").cast("double") * F.col("n_l"))
                    )
                    * 1e9
                    + F.lit(0.5)
                ).cast("long")
            ).alias("iq")
        )
    )
    hc = cmarg.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.floor(
                F.col("n_c").cast("double")
                / F.col("n")
                * F.log(F.col("n").cast("double") / F.col("n_c"))
                * 1e9
                + F.lit(0.5)
            ).cast("long")
        ).alias("hcq")
    )
    hl = lmarg.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.floor(
                F.col("n_l").cast("double")
                / F.col("n")
                * F.log(F.col("n").cast("double") / F.col("n_l"))
                * 1e9
                + F.lit(0.5)
            ).cast("long")
        ).alias("hlq")
    )
    pur = cl.groupBy("cid").agg(F.max("n_cl").alias("mx")).agg(
        F.sum("mx").alias("pure_n")
    )
    n_clusters = cmarg.agg(F.count("*").alias("n_clusters"))
    n_labels = lmarg.agg(F.count("*").alias("n_labels"))
    return (
        pur.crossJoin(tot)
        .crossJoin(iterm)
        .crossJoin(hc)
        .crossJoin(hl)
        .crossJoin(n_clusters)
        .crossJoin(n_labels)
        .select(
            F.col("n_clusters").cast("long").alias("n_clusters"),
            F.col("n_labels").cast("long").alias("n_labels"),
            (
                F.floor(F.col("pure_n").cast("double") / F.col("n") * 1e6 + F.lit(0.5))
                / 1e6
            ).alias("purity"),
            F.when(
                (F.col("hcq") > 0) & (F.col("hlq") > 0),
                F.floor(
                    F.col("iq")
                    / F.sqrt(F.col("hcq").cast("double") * F.col("hlq").cast("double"))
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6,
            )
            .otherwise(F.lit(0.0))
            .alias("nmi"),
        )
    )


@register(
    "graph_modularity_report",
    # LPA communities (the graph_label_propagation CTEs verbatim) +
    # Newman modularity as ONE exact bigint numerator over the
    # community census: Q = sum_c(4*m*e_c - d_c^2) / (4*m^2)
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
),
m AS (SELECT COUNT(*) AS m FROM edges),
deg AS (SELECT src AS vertex, COUNT(*) AS deg FROM und GROUP BY 1),
dc AS (
  SELECT l.label, SUM(d.deg) AS d_c
  FROM l3 l JOIN deg d USING (vertex) GROUP BY 1
),
ec AS (
  SELECT lu.label, COUNT(*) AS e_c
  FROM edges e JOIN l3 lu ON e.u = lu.vertex JOIN l3 lv ON e.v = lv.vertex
  WHERE lu.label = lv.label GROUP BY 1
),
numer AS (
  SELECT SUM(4 * m.m * COALESCE(ec.e_c, 0) - dc.d_c * dc.d_c) AS num
  FROM dc LEFT JOIN ec USING (label), m
)
SELECT (SELECT COUNT(*) FROM dc)::BIGINT AS n_communities,
       m.m::BIGINT AS n_edges,
       FLOOR(CAST(numer.num AS DOUBLE) / (4.0 * m.m * m.m) * 1e6 + 0.5) / 1e6
         AS modularity
FROM numer, m
""",
)
def graph_modularity_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import graph

    return graph.modularity_report(load_events(spark, sf_dir))


@register(
    "wer_pairs_report",
    # same prefix blocking as bleu_pairs_report; token-level edit
    # distance replayed as a recursive-CTE DP over dp-row LISTS (the
    # loop-oracle convention) — DuckDB's levenshtein() is byte-based,
    # so no chr re-encoding can carry a general token vocabulary. The
    # sequential new[j-1] dependency inside a row resolves with the
    # prefix-min identity new[j] = j + min_{k<=j}(t[k] - k).
    """
WITH RECURSIVE ws AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '') AS w
  FROM documents
), pref AS (
  SELECT doc_id, w, md5(array_to_string(w[1:8], ' ')) AS fp
  FROM ws WHERE len(w) >= 8
), canon AS (
  SELECT fp, MIN(doc_id) AS ref_id FROM pref GROUP BY fp
), pairs AS (
  SELECT doc_id, ref_id, block_pairs_total FROM (
    SELECT p.doc_id, c.ref_id,
           ROW_NUMBER() OVER (PARTITION BY p.fp ORDER BY p.doc_id) AS prn,
           COUNT(*) OVER (PARTITION BY p.fp) AS block_pairs_total
    FROM pref p JOIN canon c USING (fp)
    WHERE p.doc_id <> c.ref_id
  ) WHERE prn <= 64
), jp AS (
  SELECT p.doc_id, p.ref_id, a.w AS wa, r.w AS wr
  FROM pairs p JOIN ws a ON a.doc_id = p.doc_id
  JOIN ws r ON r.doc_id = p.ref_id
), dp AS (
  SELECT doc_id, ref_id, wa, wr, 0 AS i,
         list_transform(range(0, len(wr) + 1), j -> j) AS d
  FROM jp
  UNION ALL
  SELECT doc_id, ref_id, wa, wr, i + 1 AS i,
         list_transform(range(1, len(wr) + 2), j ->
           j - 1 + list_aggregate(
             list_transform(t.t[1:j], (tk, k) -> tk - (k - 1)), 'min')) AS d
  FROM dp, LATERAL (
    SELECT list_transform(range(1, len(wr) + 2), j ->
      CASE WHEN j = 1 THEN i + 1
           ELSE LEAST(d[j] + 1,
                      d[j - 1] + CASE WHEN wa[i + 1] = wr[j - 1]
                                      THEN 0 ELSE 1 END)
      END) AS t
  ) t
  WHERE i < len(wa)
), fin AS (
  SELECT doc_id, ref_id, len(wr)::BIGINT AS n_ref, d[len(wr) + 1] AS dist
  FROM dp WHERE i = len(wa)
)
SELECT doc_id, ref_id, p.block_pairs_total::BIGINT AS block_pairs_total,
       n_ref, dist::BIGINT AS dist,
       FLOOR(dist * 1e6 / n_ref + 0.5) / 1e6 AS wer
FROM fin JOIN pairs p USING (doc_id, ref_id) ORDER BY doc_id, ref_id
""",
)
def wer_pairs_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.wer_pairs_report(load_table(spark, sf_dir, "documents"))


@register(
    "stratified_kfold_assign",
    # per-stratum md5-ordered row_number modulo k: EXACTLY balanced
    # folds (+-1 per stratum), reported as a (lang, fold) census
    """
WITH d AS (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (PARTITION BY lang
           ORDER BY md5('fold:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents
), a AS (
  SELECT lang, doc_id, (rn - 1) % 5 AS fold FROM d
), census AS (
  SELECT lang, fold, COUNT(*) AS n_docs FROM a GROUP BY 1, 2
)
SELECT lang, fold::BIGINT AS fold, n_docs::BIGINT AS n_docs,
       (MAX(n_docs) OVER (PARTITION BY lang)
        - MIN(n_docs) OVER (PARTITION BY lang) <= 1) AS balanced
FROM census ORDER BY lang, fold
""",
)
def stratified_kfold_assign_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified k-fold cross-validation assignment (public ML
    practice; the sklearn StratifiedKFold contract): within each
    stratum (lang), documents are deterministically shuffled by md5
    and dealt round-robin into k=5 folds, so every stratum's folds are
    EXACTLY balanced (max-min <= 1) — unlike a plain hash-bucket split
    whose per-stratum balance is only asymptotic. Output is the
    (lang, fold) census with the balance invariant as a column.

    Determinism: the shuffle key is md5('fold:'||doc_id) with doc_id
    tie-break — a total order; fold = (rank-1) mod 5.

    Plan shape / 100 TB: the rank window partitions BY STRATUM
    (parallel, never a global sort); the census is |strata| x k cells.
    Linear."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.concat(F.lit("fold:"), F.col("doc_id").cast("string"))), "doc_id"
    )
    a = docs.select(
        "lang", "doc_id", ((F.row_number().over(w) - 1) % 5).alias("fold")
    )
    census = a.groupBy("lang", "fold").agg(F.count("*").alias("n_docs"))
    wl = Window.partitionBy("lang")
    return census.select(
        "lang",
        F.col("fold").cast("long").alias("fold"),
        F.col("n_docs").cast("long").alias("n_docs"),
        (
            (F.max("n_docs").over(wl) - F.min("n_docs").over(wl)) <= 1
        ).alias("balanced"),
    ).orderBy("lang", "fold")


@register(
    "rouge_l_pairs_report",
    # LCS by the same recursive-CTE DP-row convention as
    # wer_pairs_report, with max in place of min: the in-row
    # dependency new[j] = max(t[j], new[j-1]) is a prefix maximum
    """
WITH RECURSIVE ws AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '') AS w
  FROM documents
), pref AS (
  SELECT doc_id, w, md5(array_to_string(w[1:8], ' ')) AS fp
  FROM ws WHERE len(w) >= 8
), canon AS (
  SELECT fp, MIN(doc_id) AS ref_id FROM pref GROUP BY fp
), pairs AS (
  SELECT doc_id, ref_id, block_pairs_total FROM (
    SELECT p.doc_id, c.ref_id,
           ROW_NUMBER() OVER (PARTITION BY p.fp ORDER BY p.doc_id) AS prn,
           COUNT(*) OVER (PARTITION BY p.fp) AS block_pairs_total
    FROM pref p JOIN canon c USING (fp)
    WHERE p.doc_id <> c.ref_id
  ) WHERE prn <= 64
), jp AS (
  SELECT p.doc_id, p.ref_id, a.w AS wa, r.w AS wr
  FROM pairs p JOIN ws a ON a.doc_id = p.doc_id
  JOIN ws r ON r.doc_id = p.ref_id
), dp AS (
  SELECT doc_id, ref_id, wa, wr, 0 AS i,
         list_transform(range(0, len(wr) + 1), j -> 0) AS d
  FROM jp
  UNION ALL
  SELECT doc_id, ref_id, wa, wr, i + 1 AS i,
         list_transform(range(1, len(wr) + 2), j ->
           list_aggregate(t.t[1:j], 'max')) AS d
  FROM dp, LATERAL (
    SELECT list_transform(range(1, len(wr) + 2), j ->
      CASE WHEN j = 1 THEN 0
           ELSE GREATEST(d[j],
                         d[j - 1] + CASE WHEN wa[i + 1] = wr[j - 1]
                                         THEN 1 ELSE 0 END)
      END) AS t
  ) t
  WHERE i < len(wa)
), fin AS (
  SELECT doc_id, ref_id, len(wa)::BIGINT AS n_cand, len(wr)::BIGINT AS n_ref,
         d[len(wr) + 1] AS lcs
  FROM dp WHERE i = len(wa)
)
SELECT doc_id, ref_id, p.block_pairs_total::BIGINT AS block_pairs_total,
       n_ref, lcs::BIGINT AS lcs,
       FLOOR(CAST(lcs AS DOUBLE) / n_ref * 1e6 + 0.5) / 1e6 AS rouge_l_recall,
       FLOOR(CAST(lcs AS DOUBLE) / n_cand * 1e6 + 0.5) / 1e6 AS rouge_l_precision,
       CASE WHEN lcs > 0 THEN
         FLOOR(2.0 * (CAST(lcs AS DOUBLE) / n_ref) * (CAST(lcs AS DOUBLE) / n_cand)
               / (CAST(lcs AS DOUBLE) / n_ref + CAST(lcs AS DOUBLE) / n_cand)
               * 1e6 + 0.5) / 1e6
       ELSE 0.0 END AS rouge_l_f1
FROM fin JOIN pairs p USING (doc_id, ref_id) ORDER BY doc_id, ref_id
""",
)
def rouge_l_pairs_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.rouge_l_pairs_report(load_table(spark, sf_dir, "documents"))


@register(
    "chrf_pairs_report",
    # char 1/2/3-gram censuses via substr grams, clipped-count P/R per
    # order quantized to 1e-9 ints before the macro-average, F-beta(2)
    """
WITH ws AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '') AS w,
         regexp_replace(text, '\\s+', '', 'g') AS s
  FROM documents
), pref AS (
  SELECT doc_id, md5(array_to_string(w[1:8], ' ')) AS fp, s
  FROM ws WHERE len(w) >= 8
), canon AS (
  SELECT fp, MIN(doc_id) AS ref_id FROM pref GROUP BY fp
), pairs AS (
  SELECT doc_id, ref_id, block_pairs_total FROM (
    SELECT p.doc_id, c.ref_id,
           ROW_NUMBER() OVER (PARTITION BY p.fp ORDER BY p.doc_id) AS prn,
           COUNT(*) OVER (PARTITION BY p.fp) AS block_pairs_total
    FROM pref p JOIN canon c USING (fp)
    WHERE p.doc_id <> c.ref_id
  ) WHERE prn <= 64
), members AS (
  SELECT DISTINCT m FROM (
    SELECT doc_id AS m FROM pairs UNION ALL SELECT ref_id AS m FROM pairs
  )
), census AS (
  SELECT w.doc_id, o.n, t.g, COUNT(*) AS c
  FROM ws w JOIN members ON w.doc_id = members.m
  CROSS JOIN (SELECT UNNEST([1, 2, 3]) AS n) o,
  LATERAL UNNEST(list_transform(range(1, length(w.s) - o.n + 2),
                                i -> substr(w.s, i, o.n))) AS t(g)
  GROUP BY 1, 2, 3
), per_order AS (
  SELECT p.doc_id, p.ref_id, a.n,
         SUM(LEAST(a.c, COALESCE(b.c, 0))) AS clipped,
         SUM(a.c) AS t_cand
  FROM pairs p
  JOIN census a ON a.doc_id = p.doc_id
  LEFT JOIN census b ON b.doc_id = p.ref_id AND b.n = a.n AND b.g = a.g
  GROUP BY 1, 2, 3
), ref_tot AS (
  SELECT p.doc_id, p.ref_id, b.n, SUM(b.c) AS t_ref
  FROM pairs p JOIN census b ON b.doc_id = p.ref_id
  GROUP BY 1, 2, 3
), per AS (
  SELECT o.doc_id, o.ref_id, COUNT(*) AS k,
         SUM(CAST(FLOOR(CAST(o.clipped AS DOUBLE) / o.t_cand * 1e9 + 0.5)
             AS BIGINT)) AS psum,
         SUM(CAST(FLOOR(CAST(o.clipped AS DOUBLE) / r.t_ref * 1e9 + 0.5)
             AS BIGINT)) AS rsum
  FROM per_order o JOIN ref_tot r USING (doc_id, ref_id, n)
  GROUP BY 1, 2
)
SELECT doc_id, ref_id, p.block_pairs_total::BIGINT AS block_pairs_total,
       FLOOR(CAST(psum AS DOUBLE) / k / 1e9 * 1e6 + 0.5) / 1e6
         AS chrf_precision,
       FLOOR(CAST(rsum AS DOUBLE) / k / 1e9 * 1e6 + 0.5) / 1e6 AS chrf_recall,
       CASE WHEN psum > 0 AND rsum > 0 THEN
         FLOOR(5.0 * (CAST(psum AS DOUBLE) / k / 1e9)
               * (CAST(rsum AS DOUBLE) / k / 1e9)
               / (4.0 * (CAST(psum AS DOUBLE) / k / 1e9)
                  + (CAST(rsum AS DOUBLE) / k / 1e9)) * 1e6 + 0.5) / 1e6
       ELSE 0.0 END AS chrf
FROM per JOIN pairs p USING (doc_id, ref_id) ORDER BY doc_id, ref_id
""",
)
def chrf_pairs_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.chrf_pairs_report(load_table(spark, sf_dir, "documents"))


def _kappa_oracle() -> str:
    from ..operators.text import LANG_MARKERS

    langs = sorted(LANG_MARKERS)
    scores = ", ".join(
        f"{_lang_score(LANG_MARKERS[lang])} AS s_{lang}" for lang in langs
    )
    greatest = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    first_max = "CASE " + " ".join(
        f"WHEN s_{lang} = {greatest} THEN '{lang}'" for lang in langs
    ) + " END"
    ngram = ORACLES["text_lang_id_ngram"]
    return f"""
WITH scored AS (SELECT doc_id, {scores} FROM documents),
r1 AS (SELECT doc_id, {first_max} AS a FROM scored),
r2 AS (SELECT doc_id, lang_pred AS b FROM ({ngram})),
j AS (SELECT r1.doc_id, r1.a, r2.b FROM r1 JOIN r2 USING (doc_id)),
cont AS (SELECT a, b, COUNT(*) AS n FROM j GROUP BY 1, 2),
tot AS (SELECT SUM(n) AS nn FROM cont),
ma AS (SELECT a, SUM(n) AS na FROM cont GROUP BY 1),
mb AS (SELECT b, SUM(n) AS nb FROM cont GROUP BY 1),
agree AS (SELECT COALESCE(SUM(n), 0) AS ag FROM cont WHERE a = b),
pen AS (SELECT SUM(ma.na * mb.nb) AS pe_num FROM ma JOIN mb ON ma.a = mb.b)
SELECT t.nn::BIGINT AS n_docs,
       FLOOR(CAST(g.ag AS DOUBLE) / t.nn * 1e6 + 0.5) / 1e6 AS po,
       FLOOR(CAST(p.pe_num AS DOUBLE) / t.nn / t.nn * 1e6 + 0.5) / 1e6 AS pe,
       FLOOR((CAST(g.ag AS DOUBLE) / t.nn
              - CAST(p.pe_num AS DOUBLE) / t.nn / t.nn)
             / (1.0 - CAST(p.pe_num AS DOUBLE) / t.nn / t.nn) * 1e6 + 0.5)
         / 1e6 AS kappa
FROM tot t, agree g, pen p
"""


@register("cohens_kappa_report", _kappa_oracle())
def cohens_kappa_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa (Cohen 1960 — public measure) between the engine's
    two REAL language-ID raters — the stopword-marker classifier
    (text_lang_id) and the char-bigram profile classifier
    (text_lang_id_ngram): chance-corrected inter-rater agreement,
    kappa = (po - pe) / (1 - pe), the annotation-QA readout a labeling
    pipeline runs before trusting auto-labels (lang_id_confusion gives
    the per-cell picture; kappa gives the one-number gate).

    Determinism: both raters are deterministic engine operators; the
    contingency census is exact ints; po/pe/kappa are fixed IEEE
    expressions over exact integer sums.

    Plan shape / 100 TB: both raters are map-side codegen scoring
    passes over the same scan; the join is doc-keyed; everything after
    is a |langs|^2-cell census. Linear."""
    from ..operators import text

    docs = load_table(spark, sf_dir, "documents")
    r1 = text.text_lang_id(docs).select("doc_id", F.col("lang_pred").alias("a"))
    r2 = text.text_lang_id_ngram(docs).select(
        "doc_id", F.col("lang_pred").alias("b")
    )
    # |langs|^2-cell census referenced four times (totals, both
    # marginals, the agreement diagonal) — checkpointed so the two
    # corpus-wide scoring passes + doc join run ONCE, not per consumer
    cont = (
        r1.join(r2, "doc_id")
        .groupBy("a", "b")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=False)
    )
    tot = cont.agg(F.sum("n").alias("nn"))
    ma = cont.groupBy("a").agg(F.sum("n").alias("na"))
    mb = cont.groupBy("b").agg(F.sum("n").alias("nb"))
    agree = cont.filter(F.col("a") == F.col("b")).agg(
        F.coalesce(F.sum("n"), F.lit(0)).alias("ag")
    )
    pen = (
        ma.join(mb, ma.a == mb.b)
        .agg(F.sum(F.col("na") * F.col("nb")).alias("pe_num"))
    )
    po = F.col("ag").cast("double") / F.col("nn")
    pe = F.col("pe_num").cast("double") / F.col("nn") / F.col("nn")
    return (
        tot.crossJoin(agree)
        .crossJoin(pen)
        .select(
            F.col("nn").cast("long").alias("n_docs"),
            (F.floor(po * 1e6 + F.lit(0.5)) / 1e6).alias("po"),
            (F.floor(pe * 1e6 + F.lit(0.5)) / 1e6).alias("pe"),
            (
                F.floor((po - pe) / (F.lit(1.0) - pe) * 1e6 + F.lit(0.5)) / 1e6
            ).alias("kappa"),
        )
    )


@register(
    "multimodal_gif_decode",
    # indices follow (doc_id*7 + k) % 256; the palette is the
    # deterministic formula (i, 3i % 256, 7i % 256), so the decoded
    # byte mean is closed-form per doc
    """
WITH dims AS (
  SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 3 AS h FROM documents
), px AS (
  SELECT doc_id, w, h, (doc_id * 7 + i.i) % 256 AS idx
  FROM dims, LATERAL (SELECT UNNEST(range(w * h)) AS i) i
), ch AS (
  SELECT doc_id, w, h, v.v AS v
  FROM px, LATERAL (SELECT UNNEST([idx, (idx * 3) % 256, (idx * 7) % 256]) AS v) v
)
SELECT doc_id, ANY_VALUE(w)::INT AS width, ANY_VALUE(h)::INT AS height,
       3 AS channels, ROUND(AVG(v), 4) AS byte_mean
FROM ch GROUP BY doc_id ORDER BY doc_id
""",
)
def multimodal_gif_decode_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL single-frame GIF87a decode executing in-sandbox (pure
    stdlib + numpy: logical-screen grammar, 256-entry global color
    table, spec-appendix-F LZW — variable-width LSB-first codes,
    CLEAR/EOI, late width change, 4096-entry dict cap with reset;
    interlace/local tables honestly gated) — the fourth real image
    codec next to PPM/PNG/BMP and the first PALETTED one, so the
    oracle recomputes RGB through the palette formula rather than raw
    bytes. Decode is map-side Arrow-batched; only (doc_id, dims, mean)
    shuffles — pixels never leave the executor (the multimodal house
    contract)."""
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    return multimodal.image_decode_features(multimodal.synthetic_gif_media(docs))


@register(
    "ridge_regression_closed_form",
    # per-user activity features -> exact bigint moment matrix ->
    # 3x3 ridge normal equations solved by Cramer determinants (fixed
    # double polynomials over exact integer moments)
    """
WITH pu AS (
  SELECT user_id,
         COUNT(*) AS x1,
         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x2,
         SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS y
  FROM events GROUP BY 1
), m AS (
  SELECT COUNT(*)::BIGINT AS n,
         SUM(x1)::BIGINT AS s1, SUM(x2)::BIGINT AS s2,
         SUM(x1 * x1)::BIGINT AS s11, SUM(x1 * x2)::BIGINT AS s12,
         SUM(x2 * x2)::BIGINT AS s22,
         SUM(y)::BIGINT AS sy, SUM(x1 * y)::BIGINT AS s1y,
         SUM(x2 * y)::BIGINT AS s2y
  FROM pu
), d AS (
  SELECT n, sy, s1y, s2y,
         CAST(n AS DOUBLE) AS a11, CAST(s1 AS DOUBLE) AS a12,
         CAST(s2 AS DOUBLE) AS a13,
         CAST(s1 AS DOUBLE) AS a21, CAST(s11 + 10000 AS DOUBLE) AS a22,
         CAST(s12 AS DOUBLE) AS a23,
         CAST(s2 AS DOUBLE) AS a31, CAST(s12 AS DOUBLE) AS a32,
         CAST(s22 + 10000 AS DOUBLE) AS a33
  FROM m
), solved AS (
  SELECT n,
         a11 * (a22 * a33 - a23 * a32) - a12 * (a21 * a33 - a23 * a31)
           + a13 * (a21 * a32 - a22 * a31) AS det,
         CAST(sy AS DOUBLE) * (a22 * a33 - a23 * a32)
           - a12 * (CAST(s1y AS DOUBLE) * a33 - a23 * CAST(s2y AS DOUBLE))
           + a13 * (CAST(s1y AS DOUBLE) * a32 - a22 * CAST(s2y AS DOUBLE))
           AS det0,
         a11 * (CAST(s1y AS DOUBLE) * a33 - a23 * CAST(s2y AS DOUBLE))
           - CAST(sy AS DOUBLE) * (a21 * a33 - a23 * a31)
           + a13 * (a21 * CAST(s2y AS DOUBLE) - CAST(s1y AS DOUBLE) * a31)
           AS det1,
         a11 * (a22 * CAST(s2y AS DOUBLE) - CAST(s1y AS DOUBLE) * a32)
           - a12 * (a21 * CAST(s2y AS DOUBLE) - CAST(s1y AS DOUBLE) * a31)
           + CAST(sy AS DOUBLE) * (a21 * a32 - a22 * a31) AS det2
  FROM d
)
SELECT n::BIGINT AS n_users,
       FLOOR(det0 / det * 1e6 + 0.5) / 1e6 AS beta0,
       FLOOR(det1 / det * 1e6 + 0.5) / 1e6 AS beta1,
       FLOOR(det2 / det * 1e6 + 0.5) / 1e6 AS beta2
FROM solved
""",
)
def ridge_regression_closed_form_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridge regression by the closed-form normal equations (Hoerl &
    Kennard 1970 — public method): predict per-user purchase spend
    (cents) from activity features (event count, click count) with an
    L2 penalty (lambda = 10^4 in cent^2 units) on the non-intercept
    coefficients, solved exactly via Cramer's rule on the 3x3 system —
    the linear-probe training kernel next to trend_lines (1 feature),
    als_implicit_step (2x2 per-user solves) and pca_power_iteration.

    Determinism: every moment (X'X, X'y) is an exact bigint sum; the
    ridge-damped determinants are FIXED double polynomials over those
    exact ints (entries ~1e14 < 2^53, so the int->double casts are
    exact), giving identical IEEE sequences in both engines.

    Plan shape / 100 TB: one user shuffle -> one 9-moment partial-agg
    row -> driver-free scalar algebra. The feature matrix never
    materializes; the solve is O(1). Linear, two aggregates total."""
    events = load_events(spark, sf_dir)
    pu = events.groupBy("user_id").agg(
        F.count("*").alias("x1"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("x2"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
            ).otherwise(0)
        ).alias("y"),
    )
    m = pu.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x1").cast("long").alias("s1"),
        F.sum("x2").cast("long").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).cast("long").alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).cast("long").alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).cast("long").alias("s22"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x1") * F.col("y")).cast("long").alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).cast("long").alias("s2y"),
    )
    lam = 10_000
    d = m.select(
        "n",
        "sy",
        "s1y",
        "s2y",
        F.col("n").cast("double").alias("a11"),
        F.col("s1").cast("double").alias("a12"),
        F.col("s2").cast("double").alias("a13"),
        F.col("s1").cast("double").alias("a21"),
        (F.col("s11") + lam).cast("double").alias("a22"),
        F.col("s12").cast("double").alias("a23"),
        F.col("s2").cast("double").alias("a31"),
        F.col("s12").cast("double").alias("a32"),
        (F.col("s22") + lam).cast("double").alias("a33"),
    )
    sy = F.col("sy").cast("double")
    s1y = F.col("s1y").cast("double")
    s2y = F.col("s2y").cast("double")
    a = {k: F.col(k) for k in ("a11", "a12", "a13", "a21", "a22", "a23", "a31", "a32", "a33")}
    det = (
        a["a11"] * (a["a22"] * a["a33"] - a["a23"] * a["a32"])
        - a["a12"] * (a["a21"] * a["a33"] - a["a23"] * a["a31"])
        + a["a13"] * (a["a21"] * a["a32"] - a["a22"] * a["a31"])
    )
    det0 = (
        sy * (a["a22"] * a["a33"] - a["a23"] * a["a32"])
        - a["a12"] * (s1y * a["a33"] - a["a23"] * s2y)
        + a["a13"] * (s1y * a["a32"] - a["a22"] * s2y)
    )
    det1 = (
        a["a11"] * (s1y * a["a33"] - a["a23"] * s2y)
        - sy * (a["a21"] * a["a33"] - a["a23"] * a["a31"])
        + a["a13"] * (a["a21"] * s2y - s1y * a["a31"])
    )
    det2 = (
        a["a11"] * (a["a22"] * s2y - s1y * a["a32"])
        - a["a12"] * (a["a21"] * s2y - s1y * a["a31"])
        + sy * (a["a21"] * a["a32"] - a["a22"] * a["a31"])
    )
    solved = d.select(
        "n", det.alias("det"), det0.alias("det0"), det1.alias("det1"), det2.alias("det2")
    )
    return solved.select(
        F.col("n").cast("long").alias("n_users"),
        (F.floor(F.col("det0") / F.col("det") * 1e6 + F.lit(0.5)) / 1e6).alias("beta0"),
        (F.floor(F.col("det1") / F.col("det") * 1e6 + F.lit(0.5)) / 1e6).alias("beta1"),
        (F.floor(F.col("det2") / F.col("det") * 1e6 + F.lit(0.5)) / 1e6).alias("beta2"),
    )


@register(
    "streaming_drift_monitor",
    # batch twin: hourly window census vs the global reference census,
    # exact cross-multiplied TVD numerators (the drift_report integers),
    # flag at 5% via the 1/20 integer gate
    """
WITH win AS (
  SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
           AS window_start,
         event_type, COUNT(*) AS w_t
  FROM events GROUP BY 1, 2
), ref AS (
  SELECT event_type, COUNT(*) AS n_t FROM events GROUP BY 1
), tot AS (
  SELECT SUM(n_t) AS big_n FROM ref
), wtot AS (
  SELECT window_start, SUM(w_t) AS big_w FROM win GROUP BY 1
), cells AS (
  SELECT wt.window_start, wt.big_w, t.big_n, r.event_type,
         COALESCE(w.w_t, 0) AS w_t, r.n_t
  FROM wtot wt CROSS JOIN ref r CROSS JOIN tot t
  LEFT JOIN win w ON w.window_start = wt.window_start
                 AND w.event_type = r.event_type
), agg AS (
  SELECT window_start, ANY_VALUE(big_w) AS big_w, ANY_VALUE(big_n) AS big_n,
         SUM(ABS(w_t * big_n - n_t * big_w))::BIGINT AS tvd_num
  FROM cells GROUP BY 1
)
SELECT window_start, big_w::BIGINT AS n_window, tvd_num,
       FLOOR(CAST(tvd_num AS DOUBLE) / (2.0 * big_w * big_n) * 1e6 + 0.5)
         / 1e6 AS tvd,
       tvd_num * 20 > 2 * big_w * big_n AS drift_flag
FROM agg ORDER BY window_start
""",
)
def streaming_drift_monitor_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distribution-drift monitor: the watermarked hourly
    event-type census runs ON THE STREAM (the windowed_counts stateful
    operator, drained with Trigger.AvailableNow), and each finalized
    window is scored against the static reference distribution by
    total variation distance — the production observability loop that
    pages when a traffic mix shifts (drift_report is its batch
    snapshot twin).

    Determinism: the TVD numerator is the drift_report convention —
    exact cross-multiplied bigints |w_t*N - n_t*W| summed per window;
    the 5% page threshold is the integer gate tvd_num*20 > 2*W*N.

    Plan shape / 100 TB: the stream pays one watermark-bounded
    stateful census (state = |windows in flight| x |types|); the
    monitor algebra joins the drained census against a broadcast
    |types|-row reference — nothing downstream of the stream touches
    event rows."""
    from ..streaming import jobs

    stream = jobs.stream_events(spark, sf_dir)
    win = jobs.run_available_now(
        jobs.windowed_counts(stream), "streaming_drift_monitor"
    )
    events = load_events(spark, sf_dir)
    ref = events.groupBy("event_type").agg(F.count("*").alias("n_t"))
    tot = ref.agg(F.sum("n_t").alias("big_n"))
    wtot = win.groupBy("window_start").agg(F.sum("n_events").alias("big_w"))
    wcounts = win.select(
        F.col("window_start").alias("ws"),
        F.col("event_type").alias("et"),
        F.col("n_events").alias("w_t_raw"),
    )
    cells = (
        wtot.crossJoin(F.broadcast(ref))
        .crossJoin(F.broadcast(tot))
        .join(
            wcounts,
            (F.col("window_start") == F.col("ws"))
            & (F.col("event_type") == F.col("et")),
            "left",
        )
        .select(
            "window_start",
            "big_w",
            "big_n",
            "n_t",
            F.coalesce(F.col("w_t_raw"), F.lit(0)).alias("w_t"),
        )
    )
    agg = cells.groupBy("window_start").agg(
        F.first("big_w").alias("big_w"),
        F.first("big_n").alias("big_n"),
        F.sum(F.abs(F.col("w_t") * F.col("big_n") - F.col("n_t") * F.col("big_w")))
        .cast("long")
        .alias("tvd_num"),
    )
    return agg.select(
        "window_start",
        F.col("big_w").cast("long").alias("n_window"),
        "tvd_num",
        (
            F.floor(
                F.col("tvd_num").cast("double")
                / (F.lit(2.0) * F.col("big_w") * F.col("big_n"))
                * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("tvd"),
        (F.col("tvd_num") * 20 > 2 * F.col("big_w") * F.col("big_n")).alias(
            "drift_flag"
        ),
    ).orderBy("window_start")


@register(
    "markov_next_event_eval",
    # split transitions at the epoch midpoint; train argmax (ties to the
    # smallest next type) on the early half, top-1 accuracy on the late
    """
WITH bounds AS (
  SELECT MIN(epoch_us(ts)) AS mn, MAX(epoch_us(ts)) AS mx FROM events
), seq AS (
  SELECT user_id, event_type AS cur, ts, event_id,
         LEAD(event_type) OVER w AS nxt,
         CASE WHEN epoch_us(ts) >= (b.mn + b.mx) // 2 THEN 1 ELSE 0 END
           AS period
  FROM events, bounds b
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), tr AS (
  SELECT cur, nxt, period FROM seq WHERE nxt IS NOT NULL
), train AS (
  SELECT cur, nxt, COUNT(*) AS n FROM tr WHERE period = 0 GROUP BY 1, 2
), pred AS (
  SELECT cur, nxt AS pred FROM train
  QUALIFY ROW_NUMBER() OVER (PARTITION BY cur ORDER BY n DESC, nxt) = 1
), ev AS (
  SELECT t.cur, t.nxt, p.pred FROM tr t LEFT JOIN pred p USING (cur)
  WHERE t.period = 1
)
SELECT (SELECT SUM(n) FROM train)::BIGINT AS n_train,
       COUNT(*)::BIGINT AS n_eval,
       COUNT(CASE WHEN pred IS NULL THEN 1 END)::BIGINT AS n_uncovered,
       FLOOR(CAST(COUNT(CASE WHEN nxt = pred THEN 1 END) AS DOUBLE)
             / COUNT(*) * 1e6 + 0.5) / 1e6 AS top1_accuracy
FROM ev
""",
)
def markov_next_event_eval_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-event prediction eval for the first-order Markov model
    (the markov_transition_matrix trained and SCORED): transitions
    before the dataset's epoch midpoint train per-state argmax
    predictions (ties to the smallest next type — deterministic), and
    the held-out later transitions measure top-1 accuracy — the
    train/eval loop that turns the transition matrix into a sequence
    model with a number attached.

    Determinism: the split is exact integer epoch-microsecond
    arithmetic (the did_estimate convention); the argmax is
    (count desc, type asc); accuracy is one fixed division of exact
    counts.

    Plan shape / 100 TB: one user-clustered window pass builds
    transitions; train census and predictions are |types|^2 cells; the
    eval join broadcasts the |types|-row prediction table. Linear."""
    events = load_events(spark, sf_dir)
    bounds = events.agg(
        F.min(F.unix_micros("ts")).alias("mn"), F.max(F.unix_micros("ts")).alias("mx")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        events.crossJoin(F.broadcast(bounds))
        .select(
            F.col("event_type").alias("cur"),
            F.lead("event_type").over(w).alias("nxt"),
            F.when(
                F.unix_micros("ts")
                >= F.floor((F.col("mn") + F.col("mx")) / 2).cast("long"),
                1,
            )
            .otherwise(0)
            .alias("period"),
        )
        .filter(F.col("nxt").isNotNull())
    )
    train = (
        seq.filter(F.col("period") == 0)
        .groupBy("cur", "nxt")
        .agg(F.count("*").alias("n"))
    )
    pred = (
        train.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("cur").orderBy(F.col("n").desc(), "nxt")
            ),
        )
        .filter(F.col("rn") == 1)
        .select("cur", F.col("nxt").alias("pred"))
    )
    n_train = train.agg(F.sum("n").alias("n_train"))
    ev = seq.filter(F.col("period") == 1).join(F.broadcast(pred), "cur", "left")
    return (
        ev.agg(
            F.count("*").alias("n_eval"),
            F.sum(F.when(F.col("pred").isNull(), 1).otherwise(0)).alias("n_uncovered"),
            F.sum(F.when(F.col("nxt") == F.col("pred"), 1).otherwise(0)).alias(
                "n_correct"
            ),
        )
        .crossJoin(F.broadcast(n_train))
        .select(
            F.col("n_train").cast("long").alias("n_train"),
            F.col("n_eval").cast("long").alias("n_eval"),
            F.col("n_uncovered").cast("long").alias("n_uncovered"),
            (
                F.floor(
                    F.col("n_correct").cast("double") / F.col("n_eval") * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("top1_accuracy"),
        )
    )


@register(
    "brier_decomposition",
    # quality logit -> exact-integer linear squashing p_u =
    # clamp(lu + 2e4, 0, 4e4) * 25 (no libm exp — the calibration
    # docstring's cross-engine rule); Murphy terms from exact censuses
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
), tot AS (
  SELECT SUM(n) AS nn, SUM(k) AS kk FROM cells
), brier AS (
  SELECT SUM((pq - pos * 1000000) * (pq - pos * 1000000)) AS b12 FROM p
), terms AS (
  SELECT SUM(CAST(FLOOR(CAST((sp - k * 1000000) AS DOUBLE)
                        * (sp - k * 1000000) / n / 1e12 * 1e9 + 0.5)
             AS BIGINT)) AS relq,
         SUM(CAST(FLOOR(CAST((k * t.nn - t.kk * n) AS DOUBLE)
                        * (k * t.nn - t.kk * n) / n / t.nn / t.nn * 1e9 + 0.5)
             AS BIGINT)) AS resq
  FROM cells, tot t
)
SELECT t.nn::BIGINT AS n_docs,
       FLOOR(CAST(b.b12 AS DOUBLE) / t.nn / 1e12 * 1e6 + 0.5) / 1e6 AS brier,
       FLOOR(CAST(x.relq AS DOUBLE) / 1e9 / t.nn * 1e6 + 0.5) / 1e6
         AS reliability,
       FLOOR(CAST(x.resq AS DOUBLE) / 1e9 / t.nn * 1e6 + 0.5) / 1e6
         AS resolution,
       FLOOR(CAST(t.kk AS DOUBLE) * (t.nn - t.kk) / t.nn / t.nn * 1e6 + 0.5)
         / 1e6 AS uncertainty
FROM tot t, brier b, terms x
""".replace("{toks}", "list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')"),
)
def brier_decomposition_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score with the Murphy (1973 — public) decomposition
    brier ~ reliability - resolution + uncertainty for the quality
    model against the lang='en' pseudo-label: calibration_report plots
    the reliability diagram; this turns it into the three scalar terms
    a model report quotes. Probabilities come from an EXACT-INTEGER
    piecewise-linear squashing of the quantized logit
    (p_u = clamp(lu + 2e4, 0, 4e4) * 25, i.e. logit -2..+2 maps to
    0..1) — a Platt-style linear calibration that deliberately avoids
    libm exp(), whose last-ulp behavior diverges across engines (the
    calibration_report rule).

    Determinism: p_u, the per-doc Brier numerator, and every census
    cell are exact bigints; the per-bin reliability/resolution terms
    quantize to 1e-9 ints BEFORE summation; outputs are single IEEE
    expressions.

    Plan shape / 100 TB: scoring is the same single codegen pass as
    quality_model_score; everything after is a 10-cell census. Linear."""
    from ..operators import text

    docs = load_table(spark, sf_dir, "documents")
    scored = text.quality_model_score(docs)
    labeled = scored.join(
        docs.select("doc_id", (F.col("lang") == "en").cast("int").alias("pos")),
        "doc_id",
    )
    lu = F.floor(F.col("logit") * 1e4 + F.lit(0.5)).cast("long")
    p = labeled.select(
        (F.least(F.greatest(lu + 20000, F.lit(0)), F.lit(40000)) * 25).alias("pq"),
        "pos",
    )
    binned = p.select(
        F.least(F.floor(F.col("pq") / 100000), F.lit(9)).cast("long").alias("bin"),
        "pq",
        "pos",
    )
    cells = binned.groupBy("bin").agg(
        F.count("*").alias("n"), F.sum("pos").alias("k"), F.sum("pq").alias("sp")
    )
    tot = cells.agg(F.sum("n").alias("nn"), F.sum("k").alias("kk"))
    brier = p.agg(
        F.sum(
            (F.col("pq") - F.col("pos") * 1000000)
            * (F.col("pq") - F.col("pos") * 1000000)
        ).alias("b12")
    )
    terms = cells.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.floor(
                (F.col("sp") - F.col("k") * 1000000).cast("double")
                * (F.col("sp") - F.col("k") * 1000000)
                / F.col("n")
                / 1e12
                * 1e9
                + F.lit(0.5)
            ).cast("long")
        ).alias("relq"),
        F.sum(
            F.floor(
                (F.col("k") * F.col("nn") - F.col("kk") * F.col("n")).cast("double")
                * (F.col("k") * F.col("nn") - F.col("kk") * F.col("n"))
                / F.col("n")
                / F.col("nn")
                / F.col("nn")
                * 1e9
                + F.lit(0.5)
            ).cast("long")
        ).alias("resq"),
    )
    return (
        tot.crossJoin(brier)
        .crossJoin(terms)
        .select(
            F.col("nn").cast("long").alias("n_docs"),
            (
                F.floor(F.col("b12").cast("double") / F.col("nn") / 1e12 * 1e6 + F.lit(0.5))
                / 1e6
            ).alias("brier"),
            (
                F.floor(F.col("relq").cast("double") / 1e9 / F.col("nn") * 1e6 + F.lit(0.5))
                / 1e6
            ).alias("reliability"),
            (
                F.floor(F.col("resq").cast("double") / 1e9 / F.col("nn") * 1e6 + F.lit(0.5))
                / 1e6
            ).alias("resolution"),
            (
                F.floor(
                    F.col("kk").cast("double")
                    * (F.col("nn") - F.col("kk"))
                    / F.col("nn")
                    / F.col("nn")
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("uncertainty"),
        )
    )



@register(
    "dtw_timeseries_similarity",
    # dense daily count series per type -> banded DTW replayed as a
    # recursive-CTE DP over dp-row lists (the wer/rouge loop-oracle
    # convention); the in-row dependency resolves by the unrolled
    # identity new[p] = C_p + min_{k<=p}(t_k - C_{k-1}); brute-force
    # DP equality pytest-checked
    """
WITH RECURSIVE days AS (
  SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS d, event_type, COUNT(*) AS n
  FROM events GROUP BY 1, 2
), cal AS (
  SELECT MIN(d) AS d0, MAX(d) AS d1 FROM days
), grid AS (
  SELECT UNNEST(range(0, DATEDIFF('day', d0, d1) + 1)) AS i FROM cal
), types AS (
  SELECT DISTINCT event_type FROM days
), series AS (
  SELECT t.event_type, list(COALESCE(dy.n, 0) ORDER BY g.i) AS v
  FROM types t CROSS JOIN grid g CROSS JOIN cal c
  LEFT JOIN days dy ON dy.event_type = t.event_type
                   AND dy.d = c.d0 + CAST(g.i AS INTEGER)
  GROUP BY t.event_type
), pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, a.v AS va, b.v AS vb
  FROM series a JOIN series b ON a.event_type < b.event_type
), dp AS (
  SELECT type_a, type_b, va, vb, 0 AS i,
         list_transform(range(1, len(vb) + 2), p ->
           CASE WHEN p = 1 THEN 0 ELSE 1099511627776 END) AS d
  FROM pairs
  UNION ALL
  SELECT type_a, type_b, va, vb, i + 1 AS i,
         list_transform(range(1, len(vb) + 2), p ->
           CASE WHEN p = 1 OR ABS((i + 1) - (p - 1)) > 7
                THEN 1099511627776
                ELSE LEAST(1099511627776,
                  cc.cc[p] + list_aggregate(
                    list_transform(range(2, p + 1), k -> tt.tt[k] - cc.cc[k - 1]),
                    'min'))
           END) AS d
  FROM dp,
  LATERAL (
    SELECT list_transform(range(1, len(vb) + 2), p ->
      CASE WHEN p = 1 THEN 0
           ELSE list_aggregate(
             list_transform(range(2, p + 1), q -> ABS(va[i + 1] - vb[q - 1])),
             'sum')
      END) AS cc
  ) cc,
  LATERAL (
    SELECT list_transform(range(1, len(vb) + 2), k ->
      CASE WHEN k = 1 OR ABS((i + 1) - (k - 1)) > 7
           THEN 1099511627776
           ELSE LEAST(d[k], d[k - 1]) END) AS tt
  ) tt
  WHERE i < len(va)
)
SELECT type_a, type_b, len(va)::BIGINT AS n_days, d[len(vb) + 1]::BIGINT AS dtw,
       FLOOR(CAST(d[len(vb) + 1] AS DOUBLE) / (2 * len(va)) * 1e6 + 0.5) / 1e6
         AS dtw_per_step
FROM dp WHERE i = len(va)
ORDER BY type_a, type_b
""",
)
def dtw_timeseries_similarity_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic time warping (Sakoe & Chiba 1978, with their band
    constraint r=7 — public method) between the daily activity series
    of every event-type pair: the alignment-based similarity that
    tolerates phase shift, next to timeseries_topk_similar's rigid
    z-normalized L2. Costs are |count difference| — exact integers —
    so the whole DP is bigint arithmetic.

    Plan shape / 100 TB: the corpus collapses to per-type daily
    censuses (one partial-agg shuffle); the dense calendar grid, the
    |types|^2/2 pair relation, and the banded O(n*r) DP all run on
    census-sized data (seqdp.banded_dtw per pair through
    rowmap.map_rows, the wer/rouge shape). The band keeps per-pair cost
    linear in series length; series length is |days|, independent of
    corpus size."""
    events = load_events(spark, sf_dir)
    days = events.groupBy(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("d"),
        "event_type",
    ).agg(F.count("*").alias("n"))
    cal = days.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    grid = cal.select(
        "d0", F.explode(F.sequence(F.lit(0), F.datediff("d1", "d0"))).alias("i")
    )
    types = days.select("event_type").distinct()
    dense = (
        types.crossJoin(F.broadcast(grid))
        .join(
            days.withColumnRenamed("event_type", "et"),
            (F.col("event_type") == F.col("et"))
            & (F.col("d") == F.date_add(F.col("d0"), F.col("i"))),
            "left",
        )
        .select("event_type", "i", F.coalesce(F.col("n"), F.lit(0)).alias("n"))
    )
    series = dense.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "n"))), lambda s: s["n"]
        ).alias("v")
    )
    pairs = (
        series.alias("a")
        .join(series.alias("b"), F.col("a.event_type") < F.col("b.event_type"))
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
            F.col("a.v").alias("va"),
            F.col("b.v").alias("vb"),
        )
    )

    out = map_rows(
        pairs,
        lambda type_a, type_b, va, vb: [
            (type_a, type_b, len(va), seqdp.banded_dtw(va, vb, band=7))
        ],
        "type_a string, type_b string, n_days long, dtw long",
    )
    return out.select(
        "type_a",
        "type_b",
        "n_days",
        "dtw",
        (
            F.floor(F.col("dtw").cast("double") / (2 * F.col("n_days")) * 1e6 + F.lit(0.5))
            / 1e6
        ).alias("dtw_per_step"),
    ).orderBy("type_a", "type_b")


@register(
    "harmonic_centrality",
    # 6 unrolled multi-source min-plus rounds (the shortest_path_bounded
    # convention, all sources at once), then per-source 1/d sums with
    # exact integer nano-unit terms
    """
WITH e AS (
  SELECT DISTINCT user_id % 100 AS u, 100 + event_id % 100 AS v FROM events
), und AS (
  SELECT u AS src, v AS dst FROM e
  UNION ALL SELECT v AS src, u AS dst FROM e
), verts AS (
  SELECT DISTINCT src AS v FROM und
), h0 AS (
  SELECT v AS s, v AS node, CAST(0 AS BIGINT) AS d FROM verts
), h1 AS (
  SELECT s, node, MIN(d) AS d FROM (
    SELECT s, node, d FROM h0
    UNION ALL
    SELECT p.s, e.dst AS node, p.d + 1 AS d
    FROM h0 p JOIN und e ON e.src = p.node
  ) GROUP BY s, node), h2 AS (
  SELECT s, node, MIN(d) AS d FROM (
    SELECT s, node, d FROM h1
    UNION ALL
    SELECT p.s, e.dst AS node, p.d + 1 AS d
    FROM h1 p JOIN und e ON e.src = p.node
  ) GROUP BY s, node), h3 AS (
  SELECT s, node, MIN(d) AS d FROM (
    SELECT s, node, d FROM h2
    UNION ALL
    SELECT p.s, e.dst AS node, p.d + 1 AS d
    FROM h2 p JOIN und e ON e.src = p.node
  ) GROUP BY s, node), h4 AS (
  SELECT s, node, MIN(d) AS d FROM (
    SELECT s, node, d FROM h3
    UNION ALL
    SELECT p.s, e.dst AS node, p.d + 1 AS d
    FROM h3 p JOIN und e ON e.src = p.node
  ) GROUP BY s, node), h5 AS (
  SELECT s, node, MIN(d) AS d FROM (
    SELECT s, node, d FROM h4
    UNION ALL
    SELECT p.s, e.dst AS node, p.d + 1 AS d
    FROM h4 p JOIN und e ON e.src = p.node
  ) GROUP BY s, node), h6 AS (
  SELECT s, node, MIN(d) AS d FROM (
    SELECT s, node, d FROM h5
    UNION ALL
    SELECT p.s, e.dst AS node, p.d + 1 AS d
    FROM h5 p JOIN und e ON e.src = p.node
  ) GROUP BY s, node
)
SELECT s AS node, COUNT(*) - 1 AS n_reached,
       FLOOR(CAST(SUM(CASE WHEN d > 0
                  THEN CAST(FLOOR(1e9 / d + 0.5) AS BIGINT) ELSE 0 END) AS DOUBLE)
             / 1e9 * 1e6 + 0.5) / 1e6 AS harmonic
FROM h6 GROUP BY s ORDER BY s
""",
)
def harmonic_centrality_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import graph

    return graph.harmonic_centrality(load_events(spark, sf_dir))


@register(
    "matrix_profile_daily",
    # length-7 subsequences of the daily count series via lead windows;
    # exact integer squared-L2 distances; exclusion zone |i-j| < 7
    """
WITH days AS (
  SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS d, COUNT(*) AS n
  FROM events GROUP BY 1
), cal AS (
  SELECT MIN(d) AS d0, MAX(d) AS d1 FROM days
), grid AS (
  SELECT UNNEST(range(0, DATEDIFF('day', d0, d1) + 1)) AS i FROM cal
), series AS (
  SELECT g.i, COALESCE(dy.n, 0) AS y
  FROM grid g CROSS JOIN cal c
  LEFT JOIN days dy ON dy.d = c.d0 + CAST(g.i AS INTEGER)
), subs AS (
  SELECT i,
         [y, LEAD(y, 1) OVER w, LEAD(y, 2) OVER w, LEAD(y, 3) OVER w,
          LEAD(y, 4) OVER w, LEAD(y, 5) OVER w, LEAD(y, 6) OVER w] AS s
  FROM series WINDOW w AS (ORDER BY i)
  QUALIFY LEAD(y, 6) OVER w IS NOT NULL
), dists AS (
  SELECT a.i AS i, b.i AS j,
         list_aggregate(list_transform(a.s, (v, k) ->
           (v - b.s[k]) * (v - b.s[k])), 'sum') AS d2
  FROM subs a JOIN subs b ON ABS(a.i - b.i) >= 7
)
SELECT i, d2::BIGINT AS mp_dist, j::BIGINT AS mp_index FROM (
  SELECT i, j, d2, ROW_NUMBER() OVER (PARTITION BY i ORDER BY d2, j) AS rn
  FROM dists
) WHERE rn = 1 ORDER BY i
""",
)
def matrix_profile_daily_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matrix profile (Yeh et al., ICDM 2016 — public method) of the
    daily event-count series with subsequence length 7 and the
    standard exclusion zone (|i-j| >= m): for every week-long window,
    the distance to (and index of) its nearest non-trivial match —
    low profile values are MOTIFS (repeated weekly patterns), peaks
    are DISCORDS (anomalous weeks); the motif/discord complement of
    the decomposition-based anomaly flags.

    Determinism: counts are exact ints, distances are exact integer
    squared L2, the argmin tie-breaks on the smallest index.

    Plan shape / 100 TB: the corpus collapses to the day census; the
    all-pairs subsequence relation is |days|^2 rows of 7-int arrays —
    census-sized regardless of corpus size. (For long series the
    published STOMP ordering replaces the quadratic join; at
    day-census lengths the exact join IS the right plan.)"""
    events = load_events(spark, sf_dir)
    days = events.groupBy(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("d")
    ).agg(F.count("*").alias("n"))
    cal = days.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    grid = cal.select(
        "d0", F.explode(F.sequence(F.lit(0), F.datediff("d1", "d0"))).alias("i")
    )
    series = grid.join(
        days, F.col("d") == F.date_add(F.col("d0"), F.col("i")), "left"
    ).select("i", F.coalesce(F.col("n"), F.lit(0)).alias("y"))
    w = Window.orderBy("i")
    leads = [F.lead("y", k).over(w) for k in range(7)]
    subs = series.select("i", F.array(*leads).alias("s")).filter(
        F.element_at(F.col("s"), 7).isNotNull()
    )
    d2 = F.aggregate(
        F.zip_with("s", "s2", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    dists = (
        subs.alias("a")
        .join(
            subs.select(F.col("i").alias("j"), F.col("s").alias("s2")).alias("b"),
            F.abs(F.col("a.i") - F.col("j")) >= 7,
        )
        .select(F.col("a.i").alias("i"), "j", d2.alias("d2"))
    )
    return (
        dists.groupBy("i")
        .agg(
            F.min("d2").cast("long").alias("mp_dist"),
            F.min(F.struct("d2", "j")).getField("j").cast("long").alias("mp_index"),
        )
        .orderBy("i")
    )


@register(
    "pelt_changepoints",
    # exact OPT/PELT dynamic program over the daily purchase-cents
    # census: quantized SSE segment costs from exact prefix sums, the
    # DP replayed as a recursive CTE carrying the F/argmin lists
    # (argmin encoded val*1024 + s, ties to the smallest s), then a
    # backtrack recursion emits the optimal segments
    """
WITH RECURSIVE days AS (
  SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS d,
         SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS y
  FROM events GROUP BY 1
), cal AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM days),
grid AS (SELECT UNNEST(range(0, DATEDIFF('day', d0, d1) + 1)) AS i FROM cal),
series AS (
  SELECT g.i, COALESCE(dy.y, 0) AS y
  FROM grid g CROSS JOIN cal c
  LEFT JOIN days dy ON dy.d = c.d0 + CAST(g.i AS INTEGER)
), ser AS (
  SELECT list(y ORDER BY i) AS ys, COUNT(*) AS n FROM series
), pre AS (
  SELECT n, ys,
    list_transform(range(1, n + 2), p ->
      CASE WHEN p = 1 THEN 0 ELSE list_aggregate(ys[1:p - 1], 'sum') END) AS sp,
    list_transform(range(1, n + 2), p ->
      CASE WHEN p = 1 THEN 0
           ELSE list_aggregate(list_transform(ys[1:p - 1], v -> v * v), 'sum')
      END) AS sq
  FROM ser
), withbeta AS (
  SELECT n, sp, sq,
    CAST(FLOOR(CAST((sq[n + 1] - sq[1]) * n
         - (sp[n + 1] - sp[1]) * (sp[n + 1] - sp[1]) AS DOUBLE)
         / n / 1e4 + 0.5) AS BIGINT) // 8 AS beta
  FROM pre
), dp AS (
  SELECT 0 AS t, [-beta] AS f, CAST([] AS BIGINT[]) AS a, n, sp, sq, beta
  FROM withbeta
  UNION ALL
  SELECT t + 1,
         list_append(f, best.e // 1024),
         list_append(a, best.e % 1024),
         n, sp, sq, beta
  FROM dp, LATERAL (
    SELECT MIN(
      (f[s.s + 1] + beta +
        CAST(FLOOR(CAST((sq[t + 2] - sq[s.s + 1]) * (t + 1 - s.s)
             - (sp[t + 2] - sp[s.s + 1]) * (sp[t + 2] - sp[s.s + 1]) AS DOUBLE)
             / (t + 1 - s.s) / 1e4 + 0.5) AS BIGINT)
      ) * 1024 + s.s) AS e
    FROM (SELECT UNNEST(range(0, t + 1)) AS s) s
  ) best
  WHERE t < n
), fin AS (
  SELECT f, a, n, sp FROM dp WHERE t = n
), walk AS (
  SELECT n AS seg_end, a[n] AS seg_prev, a, sp, 0 AS depth FROM fin
  UNION ALL
  SELECT CAST(seg_prev AS BIGINT) AS seg_end, a[seg_prev] AS seg_prev, a, sp,
         depth + 1
  FROM walk WHERE seg_prev > 0
)
SELECT (seg_prev + 1)::BIGINT AS seg_start, seg_end::BIGINT AS seg_end,
       (seg_end - seg_prev)::BIGINT AS n_days,
       CAST(FLOOR(CAST(sp[seg_end + 1] - sp[seg_prev + 1] AS DOUBLE)
            / (seg_end - seg_prev) + 0.5) AS BIGINT) AS mean_cents
FROM walk ORDER BY seg_start
""",
)
def pelt_changepoints_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimal changepoint segmentation (the OPT dynamic program that
    PELT prunes — Killick, Fearnhead & Eckley 2012, public method)
    over daily purchase revenue: minimize total within-segment SSE
    plus a per-changepoint penalty (beta = whole-series cost / 8),
    solved EXACTLY — the globally-optimal complement of
    cusum_changepoint's sequential detector.

    Determinism: prefix sums are exact bigints; segment costs quantize
    to 1e4-cent^2 ints via one fixed double expression; the DP argmin
    ties to the smallest split; Spark replays the identical arithmetic
    in exact Python ints over the collected day census (the
    bradley_terry census-collect contract), bit-identical to the
    recursive-CTE oracle.

    Plan shape / 100 TB: the corpus collapses to the |days| census in
    one partial-agg shuffle; the O(n^2) DP runs on census-sized data
    (n = |days|, independent of corpus size — PELT's pruning is the
    published lever when n itself grows)."""
    import math

    events = load_events(spark, sf_dir)
    days = (
        events.groupBy(F.to_date(F.date_trunc("day", F.col("ts"))).alias("d"))
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
                ).otherwise(0)
            ).alias("y")
        )
        .collect()
    )
    spark = events.sparkSession
    if not days:
        # empty source: no series, no segments — never raise
        return tiny_df(
            spark, [], "seg_start LONG, seg_end LONG, n_days LONG, mean_cents LONG"
        )
    d0 = min(r.d for r in days)
    n = (max(r.d for r in days) - d0).days + 1
    ys = [0] * n
    for r in days:
        ys[(r.d - d0).days] = int(r.y)
    sp = [0]
    sq = [0]
    for y in ys:
        sp.append(sp[-1] + y)
        sq.append(sq[-1] + y * y)

    def cq(s: int, t: int) -> int:
        length = t - s
        num = (sq[t] - sq[s]) * length - (sp[t] - sp[s]) ** 2
        return math.floor(num / length / 1e4 + 0.5)

    beta = cq(0, n) // 8
    f = [-beta] + [0] * n
    a = [0] * (n + 1)
    for t in range(1, n + 1):
        best_v, best_s = None, None
        for s in range(0, t):
            v = f[s] + beta + cq(s, t)
            if best_v is None or v < best_v:
                best_v, best_s = v, s
        f[t], a[t] = best_v, best_s
    segs = []
    t = n
    while t > 0:
        s = a[t]
        segs.append(
            (
                s + 1,
                t,
                t - s,
                math.floor((sp[t] - sp[s]) / (t - s) + 0.5),
            )
        )
        t = s
    segs.reverse()
    return tiny_df(
        spark, segs, "seg_start LONG, seg_end LONG, n_days LONG, mean_cents LONG"
    ).orderBy("seg_start")


@register(
    "markov_attribution_removal",
    # journey edge census -> per-variant redirected chains -> 40
    # integer micro-unit power-iteration rounds per variant (recursive
    # CTE over probability lists) -> removal effects + shares
    """
WITH RECURSIVE seq AS (
  SELECT user_id,
         CASE WHEN event_type = 'purchase' THEN 'CONV' ELSE event_type END AS m,
         ROW_NUMBER() OVER w AS rn,
         LEAD(CASE WHEN event_type = 'purchase' THEN 'CONV' ELSE event_type END)
           OVER w AS nxt
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), edges AS (
  SELECT 'START' AS s, m AS t FROM seq WHERE rn = 1
  UNION ALL
  SELECT m AS s, nxt AS t FROM seq WHERE nxt IS NOT NULL AND m <> 'CONV'
  UNION ALL
  SELECT m AS s, 'NULL' AS t FROM seq WHERE nxt IS NULL AND m <> 'CONV'
), census AS (
  SELECT s, t, COUNT(*) AS n FROM edges GROUP BY 1, 2
), chans AS (
  SELECT DISTINCT event_type AS c FROM events WHERE event_type <> 'purchase'
), states AS (
  SELECT 'START' AS name, 0 AS idx
  UNION ALL
  SELECT c AS name, ROW_NUMBER() OVER (ORDER BY c) AS idx FROM chans
  UNION ALL SELECT 'CONV', (SELECT COUNT(*) FROM chans) + 1
  UNION ALL SELECT 'NULL', (SELECT COUNT(*) FROM chans) + 2
), variants AS (
  SELECT '__none__' AS v UNION ALL SELECT c FROM chans
), redirected AS (
  SELECT vr.v, c.s, CASE WHEN c.t = vr.v THEN 'NULL' ELSE c.t END AS t,
         SUM(c.n) AS n
  FROM variants vr CROSS JOIN census c
  WHERE c.s <> vr.v
  GROUP BY 1, 2, 3
), dense AS (
  SELECT vr.v, ss.idx AS si, tt.idx AS ti, COALESCE(r.n, 0) AS n
  FROM variants vr CROSS JOIN states ss CROSS JOIN states tt
  LEFT JOIN redirected r ON r.v = vr.v AND r.s = ss.name AND r.t = tt.name
), mat AS (
  SELECT v, list(row ORDER BY si) AS m2, list(tot ORDER BY si) AS tots
  FROM (
    SELECT v, si, list(n ORDER BY ti) AS row, SUM(n) AS tot
    FROM dense GROUP BY v, si
  ) GROUP BY v
), nstates AS (SELECT COUNT(*) AS ns FROM states),
pw AS (
  SELECT v, m2, tots, 0 AS k,
         list_transform(range(0, ns), i ->
           CASE WHEN i = 0 THEN 1000000000 ELSE 0 END) AS p,
         ns
  FROM mat, nstates
  UNION ALL
  SELECT v, m2, tots, k + 1,
         list_transform(range(0, ns), t ->
           CASE WHEN t >= ns - 2 THEN p[t + 1] ELSE 0 END
           + list_aggregate(
               list_transform(range(0, ns), s ->
                 CASE WHEN tots[s + 1] > 0
                      THEN p[s + 1] * m2[s + 1][t + 1] // tots[s + 1]
                      ELSE 0 END),
               'sum')) AS p,
         ns
  FROM pw WHERE k < 40
), fin AS (
  SELECT v, p[ns - 1] AS p_conv FROM pw WHERE k = 40
), base AS (SELECT p_conv AS pb FROM fin WHERE v = '__none__'),
re AS (
  SELECT f.v AS channel, b.pb AS p_base, f.p_conv AS p_removed,
         GREATEST(b.pb - f.p_conv, 0) AS re_u
  FROM fin f, base b WHERE f.v <> '__none__'
), tot_re AS (SELECT SUM(re_u) AS sre FROM re)
SELECT channel,
       FLOOR(p_base / 1e9 * 1e6 + 0.5) / 1e6 AS p_conv_base,
       FLOOR(p_removed / 1e9 * 1e6 + 0.5) / 1e6 AS p_conv_removed,
       CASE WHEN p_base > 0
            THEN FLOOR(CAST(re_u AS DOUBLE) / p_base * 1e6 + 0.5) / 1e6
            ELSE 0.0 END AS removal_effect,
       CASE WHEN t.sre > 0
            THEN FLOOR(CAST(re_u AS DOUBLE) / t.sre * 1e6 + 0.5) / 1e6
            ELSE 0.0 END AS attribution_share
FROM re, tot_re t ORDER BY channel
""",
)
def markov_attribution_removal_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain removal-effect attribution (Anderl, Becker,
    von Wangenheim & Schumann 2014 — public method; the data-driven
    multi-touch model next to attribution_models' first/last/linear
    heuristics): user journeys build a first-order absorbing chain
    (START -> channels -> CONV | NULL); each channel's credit is its
    REMOVAL EFFECT — the drop in absorption probability into CONV when
    every transition into that channel is redirected to NULL —
    normalized into attribution shares.

    Determinism: the transition census is exact ints; absorption
    probabilities run 40 power-iteration rounds in integer NANO-units
    with per-entry floor division (the personalized_pagerank trick),
    so all six chains (base + 5 removals) are bit-identical across
    engines; Spark replays the identical arithmetic in exact Python
    ints over the collected |states|^2 census (the bradley_terry /
    pelt census-collect contract), and the oracle replays it as a
    recursive CTE over probability lists.

    Plan shape / 100 TB: one user-clustered window pass builds journey
    edges; the corpus collapses to a <= (|channels|+3)^2 census; the
    six 40-round iterations are driver algebra on that census. Only
    the edge census pass touches data. Linear."""
    import math

    events = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    m = F.when(F.col("event_type") == "purchase", "CONV").otherwise(
        F.col("event_type")
    )
    seq = events.select(
        m.alias("m"),
        F.row_number().over(w).alias("rn"),
        F.lead(m).over(w).alias("nxt"),
    )
    edges = (
        seq.filter(F.col("rn") == 1).select(F.lit("START").alias("s"), F.col("m").alias("t"))
        .unionByName(
            seq.filter(F.col("nxt").isNotNull() & (F.col("m") != "CONV")).select(
                F.col("m").alias("s"), F.col("nxt").alias("t")
            )
        )
        .unionByName(
            seq.filter(F.col("nxt").isNull() & (F.col("m") != "CONV")).select(
                F.col("m").alias("s"), F.lit("NULL").alias("t")
            )
        )
    )
    census = {(r.s, r.t): r.n for r in edges.groupBy("s", "t").agg(F.count("*").alias("n")).collect()}
    chans = sorted(
        ({s for s, _ in census} | {t for _, t in census}) - {"START", "CONV", "NULL"}
    )
    states = ["START"] + chans + ["CONV", "NULL"]
    sidx = {name: i for i, name in enumerate(states)}
    ns = len(states)

    def absorb(removed: str | None) -> int:
        mat = [[0] * ns for _ in range(ns)]
        for (s, t), n in census.items():
            if s == removed:
                continue
            tt = "NULL" if t == removed else t
            mat[sidx[s]][sidx[tt]] += n
        tots = [sum(row) for row in mat]
        p = [0] * ns
        p[0] = 1_000_000_000
        for _ in range(40):
            nxt = [0] * ns
            for t in range(ns):
                carry = p[t] if t >= ns - 2 else 0
                inflow = 0
                for s in range(ns):
                    if tots[s] > 0:
                        inflow += p[s] * mat[s][t] // tots[s]
                nxt[t] = carry + inflow
            p = nxt
        return p[ns - 2]

    pb = absorb(None)
    rows = []
    res = {c: absorb(c) for c in chans}
    sre = sum(max(pb - pc, 0) for pc in res.values())
    for c in chans:
        re_u = max(pb - res[c], 0)
        rows.append(
            (
                c,
                math.floor(pb / 1e9 * 1e6 + 0.5) / 1e6,
                math.floor(res[c] / 1e9 * 1e6 + 0.5) / 1e6,
                # pb == 0 (no conversions) or sre == 0 (no channel reduces
                # conversion): credit is 0, matching the oracle's CASE guard
                math.floor(re_u / pb * 1e6 + 0.5) / 1e6 if pb > 0 else 0.0,
                math.floor(re_u / sre * 1e6 + 0.5) / 1e6 if sre > 0 else 0.0,
            )
        )
    spark = events.sparkSession
    return tiny_df(
        spark,
        rows,
        "channel STRING, p_conv_base DOUBLE, p_conv_removed DOUBLE, "
        "removal_effect DOUBLE, attribution_share DOUBLE",
    ).orderBy("channel")


@register(
    "multimodal_audio_hadamard",
    # WHT over the closed-form PCM fixture: sign = parity of
    # popcount(j & k); all-integer coefficients and band masses
    """
WITH px AS (
  SELECT doc_id, j.j AS j,
         ((doc_id * 13 + j.j * 31) % 65536) - 32768 AS s
  FROM documents, LATERAL (SELECT UNNEST(range(64)) AS j) j
), wht AS (
  SELECT doc_id, k.k AS k,
         SUM(CASE WHEN bit_count(CAST(j AS BIGINT) & k.k) % 2 = 0
                  THEN s ELSE -s END) AS c
  FROM px CROSS JOIN (SELECT UNNEST(range(64)) AS k) k
  GROUP BY 1, 2
)
SELECT doc_id,
       SUM(CASE WHEN k = 0 THEN c ELSE 0 END)::BIGINT AS dc,
       SUM(CASE WHEN k BETWEEN 1 AND 7 THEN ABS(c) ELSE 0 END)::BIGINT
         AS band_low,
       SUM(CASE WHEN k BETWEEN 8 AND 31 THEN ABS(c) ELSE 0 END)::BIGINT
         AS band_mid,
       SUM(CASE WHEN k >= 32 THEN ABS(c) ELSE 0 END)::BIGINT AS band_high
FROM wht GROUP BY doc_id ORDER BY doc_id
""",
)
def multimodal_audio_hadamard_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    return multimodal.audio_hadamard_bands(
        multimodal.synthetic_wav_media(docs)
    ).orderBy("doc_id")


@register(
    "ecod_outlier_scores",
    # per-dimension two-sided ECDF tail log-scores (ties collapse via
    # RANGE frames, so tie order never matters), each term quantized to
    # a 1e-9 int before the per-vector sum
    """
WITH elems AS (
  SELECT vec_id, j.i AS j, CAST(e.embedding[j.i + 1] AS DOUBLE) AS v
  FROM embeddings e, LATERAL (SELECT UNNEST(range(len(e.embedding))) AS i) j
), ranked AS (
  SELECT vec_id, j, v,
         COUNT(*) OVER (PARTITION BY j ORDER BY v
                        RANGE UNBOUNDED PRECEDING) AS r_left,
         COUNT(*) OVER (PARTITION BY j ORDER BY v DESC
                        RANGE UNBOUNDED PRECEDING) AS r_right,
         COUNT(*) OVER (PARTITION BY j) AS n
  FROM elems
), terms AS (
  SELECT vec_id,
         CAST(FLOOR(-LN(CAST(r_left AS DOUBLE) / n) * 1e9 + 0.5) AS BIGINT)
           AS tl,
         CAST(FLOOR(-LN(CAST(r_right AS DOUBLE) / n) * 1e9 + 0.5) AS BIGINT)
           AS tr,
         n
  FROM ranked
), agg AS (
  SELECT vec_id, SUM(tl) AS ol, SUM(tr) AS orr, COUNT(*) AS dims
  FROM terms GROUP BY 1
)
SELECT vec_id,
       FLOOR(CAST(ol AS DOUBLE) / dims / 1e9 * 1e6 + 0.5) / 1e6 AS o_left,
       FLOOR(CAST(orr AS DOUBLE) / dims / 1e9 * 1e6 + 0.5) / 1e6 AS o_right,
       FLOOR(CAST(GREATEST(ol, orr) AS DOUBLE) / dims / 1e9 * 1e6 + 0.5) / 1e6
         AS ecod_score
FROM agg ORDER BY vec_id
""",
)
def ecod_outlier_scores_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ECOD outlier scores (Li, Zhao et al., TKDE 2022 — public
    method): per-dimension empirical-CDF tail log-likelihoods, summed
    over dimensions from both tails, score = the worse tail — the
    parameter-free density-forest-free outlier detector a curation
    pipeline runs on embeddings before ANN indexing (next to the
    distance-based anomaly gates). Ties collapse through RANGE-frame
    counts, so the score is independent of tie order.

    Determinism: tail ranks are exact ints; each -ln(rank/n) term
    quantizes to a 1e-9 int BEFORE the per-vector sum (the
    cluster_purity_report convention); outputs are single IEEE
    expressions.

    Plan shape / 100 TB: posexplode fans map-side; the ECDF windows
    partition BY DIMENSION (parallel across dims; within a dim Spark
    range-partitions the sort). At billion-vector scale the exact
    per-dim ECDF swaps for the GK-sketch quantile assignment
    (feature_quantile_bins' documented path); this exact form is the
    oracle-checkable twin."""
    emb = load_table(spark, sf_dir, "embeddings")
    elems = emb.select(
        "vec_id", F.posexplode("embedding").alias("j", "vf")
    ).select("vec_id", "j", F.col("vf").cast("double").alias("v"))
    wl = (
        Window.partitionBy("j")
        .orderBy("v")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    wr = (
        Window.partitionBy("j")
        .orderBy(F.col("v").desc())
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    wn = Window.partitionBy("j")
    ranked = elems.select(
        "vec_id",
        F.count("*").over(wl).alias("r_left"),
        F.count("*").over(wr).alias("r_right"),
        F.count("*").over(wn).alias("n"),
    )
    q = lambda c: F.floor(-F.log(c) * 1e9 + F.lit(0.5)).cast("long")  # noqa: E731
    terms = ranked.select(
        "vec_id",
        q(F.col("r_left").cast("double") / F.col("n")).alias("tl"),
        q(F.col("r_right").cast("double") / F.col("n")).alias("tr"),
    )
    agg = terms.groupBy("vec_id").agg(
        F.sum("tl").alias("ol"), F.sum("tr").alias("orr"), F.count("*").alias("dims")
    )
    out = lambda c: (  # noqa: E731
        F.floor(c.cast("double") / F.col("dims") / 1e9 * 1e6 + F.lit(0.5)) / 1e6
    )
    return agg.select(
        "vec_id",
        out(F.col("ol")).alias("o_left"),
        out(F.col("orr")).alias("o_right"),
        out(F.greatest(F.col("ol"), F.col("orr"))).alias("ecod_score"),
    ).orderBy("vec_id")


@register(
    "lof_outlier_scores",
    # exact L2 kNN (k=5) from the quantized integer arithmetic, then
    # reachability distances, integer lrd (5e12 DIV sum-reach) and
    # integer LOF ratios — every step exact in both engines
    """
WITH qv AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(floor(x * 1000 + 0.5) AS BIGINT)) AS v
  FROM embeddings
), n2 AS (
  SELECT vec_id,
         list_aggregate(list_transform(v, x -> x * x), 'sum') AS nn
  FROM qv
), dots AS (
  SELECT a.vec_id, b.vec_id AS neighbor_id,
         na.nn + nb.nn - 2 * CAST(list_dot_product(a.v, b.v) AS BIGINT) AS d2
  FROM qv a JOIN qv b ON a.vec_id <> b.vec_id
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
def lof_outlier_scores_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local outlier factor (Breunig et al., SIGMOD 2000 — public
    method) over embeddings at k=5: reachability-smoothed density
    ratios, the DENSITY-relative outlier detector next to ECOD's
    marginal-tail scores (LOF flags points whose neighborhood is
    sparser than their neighbors' — cluster-aware where ECOD is
    axis-marginal).

    Determinism: the exact L2 kNN runs on milli-quantized integer
    arithmetic via the shared block-GEMM kernel under the classic
    MIPS reduction (append -|c|^2 to candidates, double the query and
    append 1 — argmax of the augmented dot IS argmin of d2, ties by
    id); distances, k-distances, reachabilities are exact bigints;
    lrd and LOF are integer floor divisions.

    Plan shape / 100 TB: the kNN is the documented block-grid exact
    diagnostic (IVF pruning replaces the grid at scale — ann_ivf's
    layout); everything after is three joins keyed on vec_id over
    k-bounded rows (similarity.lof_from_knn, shared with the IVF
    twins). Linear beyond the kNN."""
    from ..operators.similarity import knn_l2, lof_from_knn

    return lof_from_knn(knn_l2(load_table(spark, sf_dir, "embeddings"), k=5), k=5)


def _mcnemar_oracle() -> str:
    from ..operators.text import LANG_MARKERS

    langs = sorted(LANG_MARKERS)
    scores = ", ".join(
        f"{_lang_score(LANG_MARKERS[lang])} AS s_{lang}" for lang in langs
    )
    greatest = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    first_max = "CASE " + " ".join(
        f"WHEN s_{lang} = {greatest} THEN '{lang}'" for lang in langs
    ) + " END"
    ngram = ORACLES["text_lang_id_ngram"]
    return f"""
WITH scored AS (SELECT doc_id, {scores} FROM documents),
r1 AS (SELECT doc_id, {first_max} AS pred1 FROM scored),
r2 AS (SELECT doc_id, lang_pred AS pred2 FROM ({ngram})),
j AS (
  SELECT d.doc_id,
         CASE WHEN r1.pred1 = d.lang THEN 1 ELSE 0 END AS ok1,
         CASE WHEN r2.pred2 = d.lang THEN 1 ELSE 0 END AS ok2
  FROM documents d JOIN r1 USING (doc_id) JOIN r2 USING (doc_id)
)
SELECT COUNT(*)::BIGINT AS n_docs,
       SUM(CASE WHEN ok1 = 1 AND ok2 = 0 THEN 1 ELSE 0 END)::BIGINT AS b,
       SUM(CASE WHEN ok1 = 0 AND ok2 = 1 THEN 1 ELSE 0 END)::BIGINT AS c,
       CASE WHEN SUM(CASE WHEN ok1 <> ok2 THEN 1 ELSE 0 END) > 0 THEN
         FLOOR(
           (ABS(CAST(SUM(CASE WHEN ok1 = 1 AND ok2 = 0 THEN 1 ELSE 0 END)
                 - SUM(CASE WHEN ok1 = 0 AND ok2 = 1 THEN 1 ELSE 0 END)
                 AS DOUBLE)) - 1)
           * (ABS(CAST(SUM(CASE WHEN ok1 = 1 AND ok2 = 0 THEN 1 ELSE 0 END)
                 - SUM(CASE WHEN ok1 = 0 AND ok2 = 1 THEN 1 ELSE 0 END)
                 AS DOUBLE)) - 1)
           / SUM(CASE WHEN ok1 <> ok2 THEN 1 ELSE 0 END) * 1e6 + 0.5) / 1e6
       ELSE 0.0 END AS chi2_cc
FROM j
"""


@register("mcnemar_raters_test", _mcnemar_oracle())
def mcnemar_raters_test_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test with continuity correction (McNemar 1947 —
    public method) between the engine's two language-ID raters scored
    against the true lang label: are the raters' ACCURACIES different,
    judged only on the discordant pairs (b = only the marker rater
    right, c = only the n-gram rater right)? The paired-significance
    complement of cohens_kappa_report's agreement measure.

    Determinism: b/c are exact counts; chi2 = (|b-c|-1)^2/(b+c) is one
    fixed IEEE expression.

    Plan shape / 100 TB: both raters are map-side scoring passes; one
    doc-keyed join; a 4-cell census. Linear."""
    from ..operators import text

    docs = load_table(spark, sf_dir, "documents")
    r1 = text.text_lang_id(docs).select("doc_id", F.col("lang_pred").alias("pred1"))
    r2 = text.text_lang_id_ngram(docs).select(
        "doc_id", F.col("lang_pred").alias("pred2")
    )
    j = (
        docs.select("doc_id", "lang")
        .join(r1, "doc_id")
        .join(r2, "doc_id")
        .select(
            F.when(F.col("pred1") == F.col("lang"), 1).otherwise(0).alias("ok1"),
            F.when(F.col("pred2") == F.col("lang"), 1).otherwise(0).alias("ok2"),
        )
    )
    b = F.sum(F.when((F.col("ok1") == 1) & (F.col("ok2") == 0), 1).otherwise(0))
    c = F.sum(F.when((F.col("ok1") == 0) & (F.col("ok2") == 1), 1).otherwise(0))
    disc = F.sum(F.when(F.col("ok1") != F.col("ok2"), 1).otherwise(0))
    return j.agg(
        F.count("*").cast("long").alias("n_docs"),
        b.cast("long").alias("b"),
        c.cast("long").alias("c"),
        F.when(
            disc > 0,
            F.floor(
                (F.abs((b - c).cast("double")) - 1)
                * (F.abs((b - c).cast("double")) - 1)
                / disc
                * 1e6
                + F.lit(0.5)
            )
            / 1e6,
        )
        .otherwise(F.lit(0.0))
        .alias("chi2_cc"),
    )


_QUALITY_CENSUS_CTE = f"""
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
), census AS (
  SELECT CAST(FLOOR(z * 1e4 + 0.5) AS BIGINT) AS lv,
         COUNT(*) AS c,
         COUNT(CASE WHEN is_pos THEN 1 END) AS p
  FROM z GROUP BY 1
)
"""


@register(
    "gains_lift_deciles",
    # cumulative-gains table at population deciles from the
    # quantized-logit census: first census prefix reaching each decile
    _QUALITY_CENSUS_CTE
    + """
, cum AS (
  SELECT lv,
         SUM(c) OVER (ORDER BY lv DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_pred,
         SUM(p) OVER (ORDER BY lv DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
         SUM(c) OVER () AS nn, SUM(p) OVER () AS pp
  FROM census
), deciles AS (SELECT UNNEST(range(1, 11)) AS d),
pick AS (
  SELECT d.d, MIN(cum.n_pred) AS n_sel
  FROM deciles d JOIN cum ON cum.n_pred * 10 >= d.d * cum.nn
  GROUP BY d.d
)
SELECT p2.d::BIGINT AS decile, p2.n_sel::BIGINT AS n_selected,
       c2.tp::BIGINT AS tp,
       FLOOR(CAST(c2.tp AS DOUBLE) / c2.pp * 1e6 + 0.5) / 1e6 AS gain,
       FLOOR(CAST(c2.tp AS DOUBLE) * c2.nn / (c2.pp * c2.n_pred) * 1e6 + 0.5)
         / 1e6 AS lift
FROM pick p2 JOIN cum c2 ON c2.n_pred = p2.n_sel
ORDER BY decile
""",
)
def gains_lift_deciles_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains / lift table at population deciles (the classic
    targeting-model readout — public practice): rank the corpus by the
    quality-model score descending and report, at each tenth of the
    population, the share of positives captured (gain) and its ratio
    to random targeting (lift) — the business-facing view of the same
    ranking model model_eval_auc scores and pr_curve_points sweeps.

    Determinism: runs entirely on the quantized-logit value CENSUS
    (the model_eval_auc convention) — decile boundaries are the first
    census prefix reaching n_pred*10 >= d*N, all exact integers; gain
    and lift are single IEEE expressions.

    Plan shape / 100 TB: scoring is one codegen pass; the census
    shuffle is bounded by distinct quantized logits; the decile pick
    joins a 10-row relation to the census prefix sums. Never a
    per-document global rank."""
    from ..operators import text

    docs = load_table(spark, sf_dir, "documents")
    scored = text.quality_model_score(docs).join(
        docs.select("doc_id", (F.col("lang") == "en").alias("is_pos")), "doc_id"
    )
    lv = F.floor(F.col("logit") * 1e4 + F.lit(0.5)).cast("long")
    census = scored.groupBy(lv.alias("lv")).agg(
        F.count("*").alias("c"),
        F.sum(F.when(F.col("is_pos"), 1).otherwise(0)).alias("p"),
    )
    wdesc = Window.orderBy(F.col("lv").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy()
    cum = census.select(
        "lv",
        F.sum("c").over(wdesc).alias("n_pred"),
        F.sum("p").over(wdesc).alias("tp"),
        F.sum("c").over(wall).alias("nn"),
        F.sum("p").over(wall).alias("pp"),
    )
    d = (
        census.sparkSession.range(1, 11)
        .select(F.col("id").alias("d"))
    )
    pick = (
        d.join(cum, cum.n_pred * 10 >= F.col("d") * cum.nn)
        .groupBy("d")
        .agg(F.min("n_pred").alias("n_sel"))
    )
    return (
        pick.join(cum, cum.n_pred == pick.n_sel)
        .select(
            F.col("d").cast("long").alias("decile"),
            F.col("n_sel").cast("long").alias("n_selected"),
            F.col("tp").cast("long").alias("tp"),
            (
                F.floor(F.col("tp").cast("double") / F.col("pp") * 1e6 + F.lit(0.5))
                / 1e6
            ).alias("gain"),
            (
                F.floor(
                    F.col("tp").cast("double")
                    * F.col("nn")
                    / (F.col("pp") * F.col("n_pred"))
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("lift"),
        )
        .orderBy("decile")
    )


@register(
    "model_ks_separation",
    # KS between positive and negative score distributions: exact
    # cross-multiplied ECDF gaps over the quantized-logit census,
    # argmax threshold ties to the smallest logit
    _QUALITY_CENSUS_CTE
    + """
, cum AS (
  SELECT lv,
         SUM(p) OVER (ORDER BY lv
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp,
         SUM(c - p) OVER (ORDER BY lv
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
         SUM(p) OVER () AS pp, SUM(c - p) OVER () AS nn
  FROM census
), gaps AS (
  SELECT lv, ABS(cp * nn - cn * pp) AS dnum, pp, nn FROM cum
), best AS (
  SELECT lv, dnum, pp, nn,
         ROW_NUMBER() OVER (ORDER BY dnum DESC, lv) AS rn
  FROM gaps
)
SELECT pp::BIGINT AS n_pos, nn::BIGINT AS n_neg,
       lv / 1e4 AS ks_threshold,
       FLOOR(CAST(dnum AS DOUBLE) / pp / nn * 1e6 + 0.5) / 1e6 AS ks
FROM best WHERE rn = 1
""",
)
def model_ks_separation_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov-Smirnov model separation (the credit-scoring 'KS
    statistic' — public practice): the maximum gap between the score
    ECDFs of positives and negatives, with the threshold attaining it
    — the single-number ranking-power summary next to AUC (KS is the
    max vertical gap where AUC is the area; risk teams threshold ON
    the KS point).

    Determinism: ECDF gaps are exact cross-multiplied bigints over the
    quantized-logit census (the drift_ks convention applied to the
    label split); the argmax ties to the smallest logit.

    Plan shape / 100 TB: one scoring pass, one census shuffle, prefix
    sums over census rows, TakeOrdered-style argmax. Never a
    per-document rank."""
    from ..operators import text

    docs = load_table(spark, sf_dir, "documents")
    scored = text.quality_model_score(docs).join(
        docs.select("doc_id", (F.col("lang") == "en").alias("is_pos")), "doc_id"
    )
    lv = F.floor(F.col("logit") * 1e4 + F.lit(0.5)).cast("long")
    census = scored.groupBy(lv.alias("lv")).agg(
        F.count("*").alias("c"),
        F.sum(F.when(F.col("is_pos"), 1).otherwise(0)).alias("p"),
    )
    wasc = Window.orderBy("lv").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = census.select(
        "lv",
        F.sum("p").over(wasc).alias("cp"),
        F.sum(F.col("c") - F.col("p")).over(wasc).alias("cn"),
        F.sum("p").over(wall).alias("pp"),
        F.sum(F.col("c") - F.col("p")).over(wall).alias("nn"),
    )
    gaps = cum.select(
        "lv",
        F.abs(F.col("cp") * F.col("nn") - F.col("cn") * F.col("pp")).alias("dnum"),
        "pp",
        "nn",
    )
    return (
        gaps.orderBy(F.col("dnum").desc(), "lv")
        .limit(1)
        .select(
            F.col("pp").cast("long").alias("n_pos"),
            F.col("nn").cast("long").alias("n_neg"),
            (F.col("lv") / 1e4).alias("ks_threshold"),
            (
                F.floor(
                    F.col("dnum").cast("double") / F.col("pp") / F.col("nn") * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("ks"),
        )
    )


@register(
    "evt_pot_tail_report",
    # discrete P95 threshold (quantile_disc == degenerate-accuracy
    # percentile_approx on cents), exact integer exceedance moments,
    # method-of-moments GPD fit as fixed IEEE expressions
    """
WITH v AS (
  SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
), u AS (
  SELECT quantile_disc(cents, 0.95) AS thr FROM v
), exc AS (
  SELECT cents - u.thr AS y FROM v, u WHERE cents > u.thr
), m AS (
  SELECT COUNT(*) AS n, SUM(y) AS s1, SUM(y * y) AS s2 FROM exc
)
SELECT u.thr::BIGINT AS threshold_cents, m.n::BIGINT AS n_exceed,
       FLOOR(CAST(m.s1 AS DOUBLE) / m.n + 0.5)::BIGINT AS mean_excess_cents,
       FLOOR((1.0 - (CAST(m.s1 AS DOUBLE) / m.n) * (CAST(m.s1 AS DOUBLE) / m.n)
              / (CAST(m.s2 AS DOUBLE) / m.n
                 - (CAST(m.s1 AS DOUBLE) / m.n) * (CAST(m.s1 AS DOUBLE) / m.n)))
             / 2.0 * 1e6 + 0.5) / 1e6 AS xi_mom,
       FLOOR((CAST(m.s1 AS DOUBLE) / m.n)
             * ((CAST(m.s1 AS DOUBLE) / m.n) * (CAST(m.s1 AS DOUBLE) / m.n)
                / (CAST(m.s2 AS DOUBLE) / m.n
                   - (CAST(m.s1 AS DOUBLE) / m.n) * (CAST(m.s1 AS DOUBLE) / m.n))
                + 1.0)
             / 2.0 * 1e4 + 0.5) / 1e4 AS sigma_mom_cents
FROM u, m
""",
)
def evt_pot_tail_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extreme-value peaks-over-threshold tail report (Pickands 1975 /
    the POT method with the method-of-moments GPD fit, Hosking &
    Wallis 1987 — public methods): exceedances of purchase value over
    the discrete P95 threshold fit a generalized Pareto tail — shape
    xi (heavy tail when > 0) and scale sigma — the risk-team view of
    the same tail the MAD/z-score gates clip (EVT MODELS the tail
    instead of flagging it).

    Determinism: the threshold is the discrete quantile (an actual
    data value — the agg_percentiles_approx degenerate-accuracy
    convention); exceedance moments are exact integer sums; the MoM
    formulas xi = (1 - m^2/s^2)/2, sigma = m(m^2/s^2 + 1)/2 are fixed
    IEEE expressions over those sums.

    Plan shape / 100 TB: one filtered scan -> one 3-moment aggregate
    (the threshold via the same sketch degradation as the percentile
    family). Constant-size output. Linear."""
    events = load_events(spark, sf_dir)
    v = events.filter(F.col("event_type") == "purchase").select(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents")
    )
    u = v.agg(
        F.expr("percentile_approx(cents, 0.95, 1000000)").cast("long").alias("thr")
    )
    exc = v.crossJoin(F.broadcast(u)).filter(F.col("cents") > F.col("thr")).select(
        (F.col("cents") - F.col("thr")).alias("y"), "thr"
    )
    m = exc.groupBy("thr").agg(
        F.count("*").alias("n"),
        F.sum("y").alias("s1"),
        F.sum(F.col("y") * F.col("y")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = F.col("s2").cast("double") / F.col("n") - mean * mean
    ratio = mean * mean / var
    return m.select(
        F.col("thr").cast("long").alias("threshold_cents"),
        F.col("n").cast("long").alias("n_exceed"),
        F.floor(mean + F.lit(0.5)).cast("long").alias("mean_excess_cents"),
        (F.floor((F.lit(1.0) - ratio) / F.lit(2.0) * 1e6 + F.lit(0.5)) / 1e6).alias(
            "xi_mom"
        ),
        (
            F.floor(mean * (ratio + F.lit(1.0)) / F.lit(2.0) * 1e4 + F.lit(0.5)) / 1e4
        ).alias("sigma_mom_cents"),
    )


@register(
    "best_of_n_selection",
    # exact E[max of n iid draws] per user from sorted-reward order
    # statistics: sum r_(i) * (i^n - (i-1)^n) / k^n, powers as explicit
    # HUGEINT products (no float pow), per-user values quantized to
    # cents before the cross-user average
    """
WITH cand AS (
  SELECT user_id, event_id,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) <= 10000
), ranked AS (
  SELECT user_id, cents,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY cents, event_id) AS i,
         COUNT(*) OVER (PARTITION BY user_id) AS k
  FROM cand
), fan AS (
  SELECT r.*, n.n FROM ranked r
  CROSS JOIN (SELECT UNNEST([1, 2, 4, 8]) AS n) n
), pw AS (
  SELECT user_id, n, k, cents,
         CASE n WHEN 1 THEN CAST(i AS HUGEINT)
                WHEN 2 THEN CAST(i AS HUGEINT) * i
                WHEN 4 THEN (CAST(i AS HUGEINT) * i) * (CAST(i AS HUGEINT) * i)
                ELSE ((CAST(i AS HUGEINT) * i) * (CAST(i AS HUGEINT) * i))
                     * ((CAST(i AS HUGEINT) * i) * (CAST(i AS HUGEINT) * i))
         END AS ipow,
         CASE n WHEN 1 THEN CAST(i - 1 AS HUGEINT)
                WHEN 2 THEN CAST(i - 1 AS HUGEINT) * (i - 1)
                WHEN 4 THEN (CAST(i - 1 AS HUGEINT) * (i - 1))
                            * (CAST(i - 1 AS HUGEINT) * (i - 1))
                ELSE ((CAST(i - 1 AS HUGEINT) * (i - 1))
                      * (CAST(i - 1 AS HUGEINT) * (i - 1)))
                     * ((CAST(i - 1 AS HUGEINT) * (i - 1))
                        * (CAST(i - 1 AS HUGEINT) * (i - 1)))
         END AS ipow_prev,
         CASE n WHEN 1 THEN CAST(k AS HUGEINT)
                WHEN 2 THEN CAST(k AS HUGEINT) * k
                WHEN 4 THEN (CAST(k AS HUGEINT) * k) * (CAST(k AS HUGEINT) * k)
                ELSE ((CAST(k AS HUGEINT) * k) * (CAST(k AS HUGEINT) * k))
                     * ((CAST(k AS HUGEINT) * k) * (CAST(k AS HUGEINT) * k))
         END AS kpow
  FROM fan
), per_user AS (
  SELECT user_id, n,
         CAST(FLOOR(CAST(SUM(CAST(cents AS HUGEINT) * (ipow - ipow_prev))
                         AS DOUBLE)
                    / CAST(ANY_VALUE(kpow) AS DOUBLE) + 0.5) AS BIGINT) AS eq
  FROM pw GROUP BY user_id, n
), agg AS (
  SELECT n, COUNT(*) AS n_users,
         FLOOR(CAST(SUM(eq) AS DOUBLE) / COUNT(*) * 1e4 + 0.5) / 1e4
           AS avg_best_cents
  FROM per_user GROUP BY n
), base AS (SELECT avg_best_cents AS b1 FROM agg WHERE n = 1)
SELECT a.n::BIGINT AS n, a.n_users::BIGINT AS n_users, a.avg_best_cents,
       FLOOR(a.avg_best_cents / b.b1 * 1e6 + 0.5) / 1e6 AS uplift_vs_mean
FROM agg a, base b ORDER BY a.n
""",
)
def best_of_n_selection_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-of-n selection curve (the rejection-sampling / BoN policy
    readout used across RLHF data pipelines — public method; the exact
    order-statistics identity E[max of n] = sum r_(i) *
    (i^n - (i-1)^n) / k^n): per user, the expected best purchase value
    under n iid draws from their own candidates, for n in {1,2,4,8} —
    quantifying how much reward best-of-n buys over the mean (n=1).

    Determinism: ranks sort by (reward, event_id); integer powers are
    explicit DECIMAL(38,0)/HUGEINT products (float pow would round past
    2^53); each per-user expectation quantizes to exact cents BEFORE
    the cross-user average.

    Overflow envelope: i^8 in decimal(38,0) holds 38 digits, so an
    uncapped user with >~42k purchase rows would silently null in
    Spark (non-ANSI) while the DuckDB HUGEINT oracle errors. Candidates
    are therefore capped DETERMINISTICALLY at 10,000 per user (first by
    event_id, identically in both engines): 10000^8 = 1e32 and the
    cents-weighted sum stays under 1e37, inside both decimal(38,0) and
    HUGEINT.

    Plan shape / 100 TB: one user-keyed rank window; the n fan-out is
    map-side x4; per-(user, n) partial aggregation bounds the shuffle.
    Linear."""
    events = load_events(spark, sf_dir)
    cand = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        )
        .withColumn(
            "_cap_rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy("event_id")
            ),
        )
        .filter(F.col("_cap_rn") <= 10000)
        .drop("_cap_rn")
    )
    wu = Window.partitionBy("user_id")
    ranked = cand.select(
        "user_id",
        "cents",
        F.row_number().over(wu.orderBy("cents", "event_id")).alias("i"),
        F.count("*").over(wu).alias("k"),
    )
    fan = ranked.crossJoin(
        F.broadcast(
            events.sparkSession.range(1).select(
                F.explode(F.array(F.lit(1), F.lit(2), F.lit(4), F.lit(8))).alias("n")
            )
        )
    )

    def powx(expr):
        d = expr.cast("decimal(38,0)")
        return (
            F.when(F.col("n") == 1, d)
            .when(F.col("n") == 2, d * d)
            .when(F.col("n") == 4, (d * d) * (d * d))
            .otherwise(((d * d) * (d * d)) * ((d * d) * (d * d)))
        )

    pw = fan.select(
        "user_id",
        "n",
        "cents",
        powx(F.col("i")).alias("ipow"),
        powx(F.col("i") - 1).alias("ipow_prev"),
        powx(F.col("k")).alias("kpow"),
    )
    per_user = pw.groupBy("user_id", "n").agg(
        F.floor(
            F.sum(
                F.col("cents").cast("decimal(38,0)")
                * (F.col("ipow") - F.col("ipow_prev"))
            ).cast("double")
            / F.first("kpow").cast("double")
            + F.lit(0.5)
        )
        .cast("long")
        .alias("eq")
    )
    agg = per_user.groupBy("n").agg(
        F.count("*").alias("n_users"),
        (
            F.floor(F.sum("eq").cast("double") / F.count("*") * 1e4 + F.lit(0.5)) / 1e4
        ).alias("avg_best_cents"),
    )
    base = agg.filter(F.col("n") == 1).select(F.col("avg_best_cents").alias("b1"))
    return (
        agg.crossJoin(F.broadcast(base))
        .select(
            F.col("n").cast("long").alias("n"),
            F.col("n_users").cast("long").alias("n_users"),
            "avg_best_cents",
            (
                F.floor(F.col("avg_best_cents") / F.col("b1") * 1e6 + F.lit(0.5)) / 1e6
            ).alias("uplift_vs_mean"),
        )
        .orderBy("n")
    )


@register(
    "group_sequential_obf",
    # four scheduled looks at epoch quartiles; per-look cumulative
    # user/conversion censuses per arm; pooled two-proportion z as one
    # fixed IEEE expression; O'Brien-Fleming bounds (public table)
    """
WITH bounds AS (
  SELECT MIN(epoch_us(ts)) AS mn, MAX(epoch_us(ts)) AS mx FROM events
), looks AS (
  SELECT k.k AS look,
         b.mn + (b.mx - b.mn + 1) * k.k // 4 AS cutoff,
         CASE k.k WHEN 1 THEN 4.048 WHEN 2 THEN 2.862
                  WHEN 3 THEN 2.337 ELSE 2.024 END AS bound
  FROM bounds b, (SELECT UNNEST(range(1, 5)) AS k) k
), pu AS (
  SELECT l.look, l.bound, user_id % 2 AS arm, user_id,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events e JOIN looks l ON epoch_us(e.ts) < l.cutoff
  GROUP BY 1, 2, 3, 4
), cells AS (
  SELECT look, bound,
         SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0,
         SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS k0,
         SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1,
         SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS k1
  FROM pu GROUP BY 1, 2
), z AS (
  SELECT look, bound, n0, k0, n1, k1,
         CASE WHEN n0 > 0 AND n1 > 0 AND k0 + k1 > 0
                   AND k0 + k1 < n0 + n1 THEN
           FLOOR((CAST(k1 AS DOUBLE) / n1 - CAST(k0 AS DOUBLE) / n0)
                 / sqrt((CAST(k0 + k1 AS DOUBLE) / (n0 + n1))
                        * (1.0 - CAST(k0 + k1 AS DOUBLE) / (n0 + n1))
                        * (1.0 / n0 + 1.0 / n1)) * 1e4 + 0.5) / 1e4
         ELSE 0.0 END AS z
  FROM cells
)
SELECT look::BIGINT AS look, n0::BIGINT AS n0, k0::BIGINT AS k0,
       n1::BIGINT AS n1, k1::BIGINT AS k1, z, bound,
       ABS(z) >= bound AS crossed
FROM z ORDER BY look
""",
)
def group_sequential_obf_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sequential A/B monitoring with O'Brien-Fleming boundaries
    (O'Brien & Fleming 1979; boundary values from the published K=4,
    two-sided alpha=0.05 table — public method): the experiment is
    examined at four SCHEDULED looks (epoch quartiles), each with a
    pooled two-proportion z against an increasingly lenient bound
    (4.048, 2.862, 2.337, 2.024) — the industry-standard peeking
    discipline between the fixed-horizon ab_test_report and the
    per-event sprt_sequential_test.

    Determinism: look cutoffs are exact integer epoch arithmetic (the
    did_estimate convention); per-look censuses are exact ints; each z
    is one fixed IEEE expression quantized to 1e-4.

    Plan shape / 100 TB: the event-look join fans x4 map-side (looks
    broadcast); ONE user-level shuffle keyed (look, arm, user) feeds
    8-cell censuses; everything after is census algebra. Linear."""
    events = load_events(spark, sf_dir)
    b = events.agg(
        F.min(F.unix_micros("ts")).alias("mn"), F.max(F.unix_micros("ts")).alias("mx")
    )
    looks = (
        events.sparkSession.range(1, 5)
        .select(F.col("id").alias("look"))
        .crossJoin(F.broadcast(b))
        .select(
            "look",
            (
                F.col("mn")
                + F.expr("(mx - mn + 1) * look DIV 4")
            ).alias("cutoff"),
            F.when(F.col("look") == 1, 4.048)
            .when(F.col("look") == 2, 2.862)
            .when(F.col("look") == 3, 2.337)
            .otherwise(2.024)
            .alias("bound"),
        )
    )
    pu = (
        events.crossJoin(F.broadcast(looks))
        .filter(F.unix_micros("ts") < F.col("cutoff"))
        .groupBy(
            "look",
            "bound",
            F.pmod(F.col("user_id"), F.lit(2)).alias("arm"),
            "user_id",
        )
        .agg(
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
                "conv"
            )
        )
    )
    cells = pu.groupBy("look", "bound").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0)).alias("k0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0)).alias("k1"),
    )
    p_pool = (F.col("k0") + F.col("k1")).cast("double") / (F.col("n0") + F.col("n1"))
    z = F.when(
        (F.col("n0") > 0)
        & (F.col("n1") > 0)
        & (F.col("k0") + F.col("k1") > 0)
        & (F.col("k0") + F.col("k1") < F.col("n0") + F.col("n1")),
        F.floor(
            (
                F.col("k1").cast("double") / F.col("n1")
                - F.col("k0").cast("double") / F.col("n0")
            )
            / F.sqrt(
                p_pool
                * (F.lit(1.0) - p_pool)
                * (F.lit(1.0) / F.col("n0") + F.lit(1.0) / F.col("n1"))
            )
            * 1e4
            + F.lit(0.5)
        )
        / 1e4,
    ).otherwise(F.lit(0.0))
    return (
        cells.select(
            F.col("look").cast("long").alias("look"),
            F.col("n0").cast("long").alias("n0"),
            F.col("k0").cast("long").alias("k0"),
            F.col("n1").cast("long").alias("n1"),
            F.col("k1").cast("long").alias("k1"),
            z.alias("z"),
            "bound",
        )
        .withColumn("crossed", F.abs(F.col("z")) >= F.col("bound"))
        .orderBy("look")
    )


@register(
    "good_turing_unseen_mass",
    # token census -> frequency-of-frequencies census -> Good-Turing
    # unseen mass and smoothed counts for r = 1..5, all exact integers
    # until the final divisions
    """
WITH tok AS (
  SELECT UNNEST(list_filter(string_split_regex(trim(text), '\\s+'),
                            t -> t <> '')) AS t
  FROM documents
), tc AS (
  SELECT t, COUNT(*) AS r FROM tok GROUP BY 1
), fof AS (
  SELECT r, COUNT(*) AS n_r FROM tc GROUP BY 1
), tot AS (
  SELECT SUM(r * n_r) AS n_tokens, SUM(n_r) AS vocab FROM fof
)
SELECT t.n_tokens::BIGINT AS n_tokens, t.vocab::BIGINT AS vocab,
       COALESCE((SELECT n_r FROM fof WHERE r = 1), 0)::BIGINT AS n1,
       FLOOR(CAST(COALESCE((SELECT n_r FROM fof WHERE r = 1), 0) AS DOUBLE)
             / t.n_tokens * 1e6 + 0.5) / 1e6 AS p_unseen,
       FLOOR(CAST(COALESCE((SELECT n_r FROM fof WHERE r = 2), 0) AS DOUBLE) * 2
             / GREATEST(COALESCE((SELECT n_r FROM fof WHERE r = 1), 0), 1)
             * 1e4 + 0.5) / 1e4 AS r_star_1,
       FLOOR(CAST(COALESCE((SELECT n_r FROM fof WHERE r = 3), 0) AS DOUBLE) * 3
             / GREATEST(COALESCE((SELECT n_r FROM fof WHERE r = 2), 0), 1)
             * 1e4 + 0.5) / 1e4 AS r_star_2
FROM tot t
""",
)
def good_turing_unseen_mass_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing unseen-species estimate (Good 1953; Gale & Sampson
    1995 exposition — public method): from the frequency-of-
    frequencies census of the token vocabulary, the probability mass
    the corpus assigns to TOKENS IT HAS NEVER SEEN is N1/N (the
    singleton share), and the smoothed counts r* = (r+1) N_{r+1}/N_r
    re-estimate the rare tail — the vocabulary-coverage forecast a
    tokenizer/LM pipeline reads before freezing a vocab (vocab_coverage
    reports what the top-V covers; Good-Turing forecasts what NEW data
    will bring).

    Determinism: both censuses are exact ints; the outputs are single
    IEEE divisions (zero-guarded).

    Plan shape / 100 TB: token census (partial-agg shuffle bounded by
    |vocab|) -> frequency-of-frequencies census (bounded by distinct
    counts) -> constant-size report. Linear."""
    from ..operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.filter(tokens(F.col("text")), lambda t: t != "")).alias("t")
    )
    tc = tok.groupBy("t").agg(F.count("*").alias("r"))
    fof = tc.groupBy("r").agg(F.count("*").alias("n_r"))
    tot = fof.agg(
        F.sum(F.col("r") * F.col("n_r")).alias("n_tokens"),
        F.sum("n_r").alias("vocab"),
    )
    pick = lambda rr: F.coalesce(  # noqa: E731
        F.sum(F.when(F.col("r") == rr, F.col("n_r"))), F.lit(0)
    )
    ns = fof.agg(
        pick(1).alias("n1"), pick(2).alias("n2"), pick(3).alias("n3")
    )
    return (
        tot.crossJoin(F.broadcast(ns))
        .select(
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("vocab").cast("long").alias("vocab"),
            F.col("n1").cast("long").alias("n1"),
            (
                F.floor(
                    F.col("n1").cast("double") / F.col("n_tokens") * 1e6 + F.lit(0.5)
                )
                / 1e6
            ).alias("p_unseen"),
            (
                F.floor(
                    F.col("n2").cast("double")
                    * 2
                    / F.greatest(F.col("n1"), F.lit(1))
                    * 1e4
                    + F.lit(0.5)
                )
                / 1e4
            ).alias("r_star_1"),
            (
                F.floor(
                    F.col("n3").cast("double")
                    * 3
                    / F.greatest(F.col("n2"), F.lit(1))
                    * 1e4
                    + F.lit(0.5)
                )
                / 1e4
            ).alias("r_star_2"),
        )
    )


@register(
    "capture_recapture_estimate",
    # two temporal "captures" (epoch halves); Chapman estimator from
    # exact distinct-user counts; exact integer epoch split
    """
WITH b AS (
  SELECT MIN(epoch_us(ts)) AS mn, MAX(epoch_us(ts)) AS mx FROM events
), tagged AS (
  SELECT DISTINCT user_id,
         CASE WHEN epoch_us(ts) < (b.mn + b.mx) // 2 THEN 0 ELSE 1 END AS half
  FROM events, b
), caps AS (
  SELECT
    COUNT(DISTINCT CASE WHEN half = 0 THEN user_id END) AS n1,
    COUNT(DISTINCT CASE WHEN half = 1 THEN user_id END) AS n2
  FROM tagged
), m AS (
  SELECT COUNT(*) AS m FROM (
    SELECT user_id FROM tagged GROUP BY user_id HAVING COUNT(*) = 2
  )
), truth AS (
  SELECT COUNT(DISTINCT user_id) AS n_true FROM events
)
SELECT c.n1::BIGINT AS n_first, c.n2::BIGINT AS n_second, m.m::BIGINT AS n_both,
       FLOOR(CAST((c.n1 + 1) AS DOUBLE) * (c.n2 + 1) / (m.m + 1) - 1 + 0.5)
         ::BIGINT AS n_hat_chapman,
       t.n_true::BIGINT AS n_true
FROM caps c, m, truth t
""",
)
def capture_recapture_estimate_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture population estimation (Lincoln-Petersen with
    the Chapman 1951 bias correction — public method): treat the two
    epoch halves of the stream as two capture occasions; the overlap
    of distinct users estimates the TOTAL population N ~ (n1+1)(n2+1)
    / (m+1) - 1 — the technique a data platform uses to estimate how
    many distinct entities exist beyond what two overlapping crawls /
    log windows saw (the ground truth column makes the estimator's
    bias directly visible).

    Determinism: the split is exact integer epoch arithmetic; all
    counts are exact distinct censuses; the estimator is one fixed
    IEEE expression rounded half-up to an integer.

    Plan shape / 100 TB: one distinct-(user, half) shuffle -> scalar
    censuses. Linear."""
    events = load_events(spark, sf_dir)
    b = events.agg(
        F.min(F.unix_micros("ts")).alias("mn"), F.max(F.unix_micros("ts")).alias("mx")
    )
    tagged = (
        events.crossJoin(F.broadcast(b))
        .select(
            "user_id",
            F.when(
                F.unix_micros("ts")
                < F.floor((F.col("mn") + F.col("mx")) / 2).cast("long"),
                0,
            )
            .otherwise(1)
            .alias("half"),
        )
        .distinct()
    )
    per_user = tagged.groupBy("user_id").agg(F.count("*").alias("n_halves"))
    caps = tagged.agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("n2"),
    )
    m = per_user.agg(
        F.sum(F.when(F.col("n_halves") == 2, 1).otherwise(0)).alias("m")
    )
    truth = events.agg(F.countDistinct("user_id").alias("n_true"))
    return (
        caps.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(truth))
        .select(
            F.col("n1").cast("long").alias("n_first"),
            F.col("n2").cast("long").alias("n_second"),
            F.col("m").cast("long").alias("n_both"),
            F.floor(
                (F.col("n1") + 1).cast("double")
                * (F.col("n2") + 1)
                / (F.col("m") + 1)
                - 1
                + F.lit(0.5)
            )
            .cast("long")
            .alias("n_hat_chapman"),
            F.col("n_true").cast("long").alias("n_true"),
        )
    )


@register(
    "heaps_law_fit",
    # doc-id decile buckets (integer arithmetic, no global window);
    # V(N) points from first-occurrence-bucket and occurrence censuses;
    # log-log OLS with per-term 1e-6 quantization (the zipf convention)
    """
WITH b AS (
  SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx FROM documents
), tok AS (
  SELECT d.doc_id,
         LEAST((d.doc_id - b.mn) * 10 // (b.mx - b.mn + 1), 9) AS bucket,
         UNNEST(list_filter(string_split_regex(trim(d.text), '\\s+'),
                            t -> t <> '')) AS t
  FROM documents d, b
), occ AS (
  SELECT bucket, COUNT(*) AS n_occ FROM tok GROUP BY 1
), firsts AS (
  SELECT MIN(bucket) AS fb FROM tok GROUP BY t
), vnew AS (
  SELECT fb AS bucket, COUNT(*) AS v_new FROM firsts GROUP BY 1
), pts AS (
  SELECT o.bucket,
         SUM(o.n_occ) OVER (ORDER BY o.bucket
                            ROWS UNBOUNDED PRECEDING) AS big_n,
         SUM(COALESCE(v.v_new, 0)) OVER (ORDER BY o.bucket
                            ROWS UNBOUNDED PRECEDING) AS big_v
  FROM occ o LEFT JOIN vnew v USING (bucket)
), logs AS (
  SELECT CAST(FLOOR(LN(CAST(big_n AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS x,
         CAST(FLOOR(LN(CAST(big_v AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS y
  FROM pts WHERE big_n > 0 AND big_v > 0
), m AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx
  FROM logs
)
SELECT n::BIGINT AS n_points,
       FLOOR((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
             * 1e6 + 0.5) / 1e6 AS heaps_beta,
       FLOOR((CAST(sy AS DOUBLE) / n
              - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                * (CAST(sx AS DOUBLE) / n)) / 1e6 * 1e4 + 0.5) / 1e4
         AS heaps_log_k
FROM m
""",
)
def heaps_law_fit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit (Heaps 1978 — public law:
    V(N) ~ K * N^beta): vocabulary size V at ten corpus prefixes
    against tokens seen N, fit by log-log OLS — the growth-forecast
    companion to good_turing_unseen_mass (Good-Turing says how much
    NEW mass the next batch brings; Heaps says how the vocab curve
    bends as the corpus scales 10x).

    Determinism: prefixes are integer doc-id decile buckets (no global
    window); V/N points come from exact first-occurrence-bucket and
    occurrence censuses; each log quantizes to a 1e-6 int before the
    OLS moment sums (the zipf_fit_report convention).

    Plan shape / 100 TB: one token explode feeds BOTH censuses (the
    occurrence census and the per-token min-bucket census — each one
    partial-agg shuffle); the fit runs on 10 points. Linear."""
    from ..operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    b = docs.agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"))
    tok = (
        docs.crossJoin(F.broadcast(b))
        .select(
            F.least(
                F.expr("(doc_id - mn) * 10 DIV (mx - mn + 1)"), F.lit(9)
            ).alias("bucket"),
            F.explode(F.filter(tokens(F.col("text")), lambda t: t != "")).alias("t"),
        )
    )
    occ = tok.groupBy("bucket").agg(F.count("*").alias("n_occ"))
    firsts = tok.groupBy("t").agg(F.min("bucket").alias("fb"))
    vnew = firsts.groupBy(F.col("fb").alias("bucket")).agg(
        F.count("*").alias("v_new")
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    pts = (
        occ.join(vnew, "bucket", "left")
        .select(
            "bucket",
            F.sum("n_occ").over(w).alias("big_n"),
            F.sum(F.coalesce(F.col("v_new"), F.lit(0))).over(w).alias("big_v"),
        )
        .filter((F.col("big_n") > 0) & (F.col("big_v") > 0))
    )
    q = lambda c: F.floor(F.log(c.cast("double")) * 1e6 + F.lit(0.5)).cast("long")  # noqa: E731
    logs = pts.select(q(F.col("big_n")).alias("x"), q(F.col("big_v")).alias("y"))
    m = logs.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (
        F.col("n").cast("double") * F.col("sxy")
        - F.col("sx").cast("double") * F.col("sy")
    ) / (
        F.col("n").cast("double") * F.col("sxx")
        - F.col("sx").cast("double") * F.col("sx")
    )
    return m.select(
        F.col("n").cast("long").alias("n_points"),
        (F.floor(slope * 1e6 + F.lit(0.5)) / 1e6).alias("heaps_beta"),
        (
            F.floor(
                (
                    F.col("sy").cast("double") / F.col("n")
                    - slope * (F.col("sx").cast("double") / F.col("n"))
                )
                / 1e6
                * 1e4
                + F.lit(0.5)
            )
            / 1e4
        ).alias("heaps_log_k"),
    )
