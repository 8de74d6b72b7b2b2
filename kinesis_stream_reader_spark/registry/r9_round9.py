"""Round-9 registry slice: the FAISS refine/health completions of the
trained IVF-PQ family, plus the round's new operator families.

Follows the r8 conventions: trained-quantizer queries compose onto
r8_round8's `_TRAINED_TL_CTE` (and `_IVFPQ_ADC_CTES`) so the DuckDB
oracles replay training, residual encoding, and ADC bit-identically."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._shared import load_events, load_table, register
from ..operators import tiny_df
from ..operators.graph import BFS_DEPTH, BRANDES_UNIT
from ..operators.rowmap import doc_id_seed, map_rows
from .r8_round8 import _IVFPQ_ADC_CTES, _MAX_ITER, _N_LISTS, _TRAINED_TL_CTE


# ---------------------------------------------------------------------------
# ROUND 9 — ann_ivfpq_refine: FAISS IndexRefineFlat over IndexIVFPQ —
# ADC shortlist of k * refine_factor, exact re-rank of just those rows.
# The oracle extends the shared ADC chain with the shortlist LIMIT and
# the exact-int re-rank join.
# ---------------------------------------------------------------------------
# the refine suffix is shared verbatim by round-12's persisted
# two-stage serve (ann_index_refine_serve) — same semantics, different
# physical plan, ONE oracle definition
_REFINE_SQL = _TRAINED_TL_CTE + _IVFPQ_ADC_CTES + """
, short AS (
  SELECT vec_id, adc_d2 FROM adc ORDER BY adc_d2, vec_id LIMIT 40
), rer AS (
  SELECT s.vec_id, s.adc_d2,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(list_zip(w.v, (SELECT v FROM qv0)),
                          p -> (p[1] - p[2]) * (p[1] - p[2]))),
           (a, b) -> a + b) AS exact_d2
  FROM short s JOIN vecs w USING (vec_id)
)
SELECT ROW_NUMBER() OVER (ORDER BY exact_d2, vec_id)::INT AS rank,
       vec_id, adc_d2::BIGINT AS adc_d2, exact_d2::BIGINT AS exact_d2
FROM rer ORDER BY exact_d2, vec_id LIMIT 10
"""


@register("ann_ivfpq_refine", _REFINE_SQL)
def ann_ivfpq_refine_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production two-stage ANN serving shape: compressed-index
    shortlist (trained IVF + residual PQ + ADC), exact re-rank of the
    shortlist only (similarity.ann_ivfpq_refine). The oracle replays
    the full composition — training, residuals, codes, LUT sums,
    shortlist, exact re-rank — in exact integers."""
    from ..operators import similarity

    return similarity.ann_ivfpq_refine(
        load_table(spark, sf_dir, "embeddings"),
        query_vec_id=0,
        k=10,
        refine_factor=4,
        nprobe=2,
        m=4,
        n_codes=8,
        n_lists=_N_LISTS,
        max_iter=_MAX_ITER,
    )


# ---------------------------------------------------------------------------
# ROUND 9 — pq_code_health: the encode-path ops twin of ivf_list_health.
# Every corpus vector is encoded (the index ADD path); the report is the
# per-(subspace, code) census with exact distortion — dead codes and
# distortion drift are the retrain-the-codebook signals.
# ---------------------------------------------------------------------------
@register(
    "pq_code_health",
    _TRAINED_TL_CTE + """
, resid AS (
  SELECT t.vec_id,
         list_transform(list_zip(w.v, f.c), p -> p[1] - p[2]) AS r
  FROM tl t JOIN vecs w USING (vec_id)
  JOIN fcents f ON f.cid = t.list_id
), cb AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code_id, r
  FROM resid QUALIFY row_number() OVER (ORDER BY vec_id) <= 8
), packed AS (
  SELECT c.vec_id, s.s,
         MIN(list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(
                 list_zip(list_slice(c.r, s.s * 16 + 1, s.s * 16 + 16),
                          list_slice(b.r, s.s * 16 + 1, s.s * 16 + 16)),
                 p -> (p[1] - p[2]) * (p[1] - p[2]))),
             (a, b) -> a + b) * 8 + b.code_id) AS p
  FROM resid c CROSS JOIN cb b, (SELECT UNNEST(range(4)) AS s) s
  GROUP BY c.vec_id, s.s
), census AS (
  SELECT s, p % 8 AS code, COUNT(*) AS n, SUM(p // 8) AS dsum
  FROM packed GROUP BY s, p % 8
), spine AS (
  SELECT sg.s, cg.code
  FROM (SELECT UNNEST(range(4)) AS s) sg,
       (SELECT UNNEST(range(8)) AS code) cg
), tot AS (SELECT SUM(n) // 4 AS nt FROM census)
SELECT sp.s::INT AS s, sp.code::INT AS code,
       COALESCE(c.n, 0)::BIGINT AS n_vectors,
       (COALESCE(c.n, 0) * 1000 // GREATEST(t.nt, 1))::BIGINT
         AS share_milli,
       COALESCE(c.dsum, 0)::BIGINT AS dist_sum,
       (COALESCE(c.dsum, 0) * 1000 // GREATEST(COALESCE(c.n, 0), 1))::BIGINT
         AS dist_mean_milli,
       SUM(CASE WHEN COALESCE(c.n, 0) = 0 THEN 1 ELSE 0 END)
         OVER (PARTITION BY sp.s)::BIGINT AS sub_empty_codes
FROM spine sp
LEFT JOIN census c ON c.s = sp.s AND c.code = sp.code
CROSS JOIN tot t
ORDER BY sp.s, sp.code
""",
)
def pq_code_health_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(subspace, code) PQ census over the WHOLE corpus: counts,
    shares, exact quantization distortion, dead-code counts
    (similarity.pq_code_health). Oracle replays training, residuals,
    and the per-sub code argmin in exact integers."""
    from ..operators import similarity

    return similarity.pq_code_health(
        load_table(spark, sf_dir, "embeddings"),
        m=4,
        n_codes=8,
        n_lists=_N_LISTS,
        max_iter=_MAX_ITER,
    )


# ---------------------------------------------------------------------------
# ROUND 9 — sub-8-bit grayscale PNG (color type 0, depths 1/2/4): the
# last decode_png grayscale gate. Bit-packed scanlines (MSB-first, each
# row pads its trailing bits), filters on packed bytes with bpp = 1,
# Adam7 composes per pass. JDK raster cross-check in pytest.
# ---------------------------------------------------------------------------
@register(
    "multimodal_png_gray_lowdepth_decode",
    """
WITH dims AS (
  SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 3 AS h,
         CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 4 END AS depth
  FROM documents
), px AS (
  SELECT doc_id, w, h, i.i AS p,
         (doc_id * 5003 + 257 * i.i) % (1 << depth) AS v
  FROM dims, LATERAL (SELECT UNNEST(range(w * h)) AS i) i
)
SELECT doc_id, ANY_VALUE(w)::INT AS width, ANY_VALUE(h)::INT AS height,
       SUM((p + 1) * 6 * v)::BIGINT AS checksum
FROM px GROUP BY doc_id ORDER BY doc_id
""",
)
def multimodal_png_gray_lowdepth_decode_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL sub-8-bit grayscale PNG decode (multimodal.decode_png
    depths 1/2/4, color type 0): sample v_i = (d*5003 + 257*i) mod
    2^depth with the depth rotating 1/2/4 by doc_id — the MSB-first
    bit order and per-row trailing-bit padding break the checksum if
    either is wrong; odd doc_ids add Adam7 (per-pass packing), filters
    rotate per row. The decoder returns RAW samples replicated to RGB
    (JDK Raster convention), so the position-weighted checksum is
    sum((p+1) * 6v). Map-side Arrow decode; scalar-only shuffle."""
    import numpy as np

    from ..operators import multimodal

    def encode(d):
        w, h = 8 + d % 5, 6 + d % 3
        depth = (1, 2, 4)[d % 3]
        s = (d * 5003 + 257 * np.arange(w * h, dtype=np.int64)) % (1 << depth)
        blob = multimodal.encode_png(
            s.reshape(h, w),
            depth=depth,
            filter_for_row=lambda y: y,
            interlace=bool(d % 2),
        )
        return [(d, blob)]

    docs = load_table(spark, sf_dir, "documents")
    media = map_rows(doc_id_seed(docs), encode, multimodal.MEDIA_SCHEMA)
    return multimodal.image_decode_checksum(media).orderBy("doc_id")


# ---------------------------------------------------------------------------
# ROUND 9 — streaming_cusum_monitor: tabular CUSUM ON the stream — the
# guardrail family's change-point leg (next to drift/SPRT/OBF/ECE).
# Same exact-integer prefix-sum identity as the batch cusum_changepoint
# (S+_t = P_t - min(P_0..P_t, 0)), applied to the drained hourly census.
# ---------------------------------------------------------------------------
@register(
    "streaming_cusum_monitor",
    """
WITH hrs AS (
  SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
           AS window_start,
         COUNT(*) AS x
  FROM events GROUP BY 1
), tot AS (SELECT COUNT(*) AS nh, SUM(x) AS s FROM hrs),
base AS (SELECT window_start, x, nh, s, nh * x - s AS dev FROM hrs, tot),
pref AS (
  SELECT *, SUM(dev) OVER (ORDER BY window_start
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
  FROM base
), cus AS (
  SELECT window_start, x, nh, s,
         p - LEAST(MIN(p) OVER (ORDER BY window_start
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS up_u,
         GREATEST(MAX(p) OVER (ORDER BY window_start
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) - p AS down_u
  FROM pref
)
SELECT window_start, x::BIGINT AS x,
       FLOOR(up_u / CAST(nh AS DOUBLE) * 1e6 + 0.5) / 1e6 AS cusum_up,
       FLOOR(down_u / CAST(nh AS DOUBLE) * 1e6 + 0.5) / 1e6 AS cusum_down,
       up_u > 4 * s AS alarm_up,
       down_u > 4 * s AS alarm_down
FROM cus ORDER BY window_start
""",
)
def streaming_cusum_monitor_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-point monitoring ON the stream: the watermarked hourly
    census (windowed_counts, Trigger.AvailableNow drain) feeds the
    batch cusum_changepoint arithmetic — per-hour deviations from the
    series mean as nh-scaled exact bigints, the clipped CUSUM recursion
    rewritten as prefix-sum minus running extremum (two stock window
    passes, no per-row iteration), alarms at 4x the mean hourly level.
    Drained result equals the batch oracle exactly because the fixture
    drains completely.

    Plan shape / 100 TB: the stream pays one watermark-bounded stateful
    census (state = |windows in flight| x |types|); the CUSUM walk is
    algebra over the drained CALENDAR-BOUNDED census — hours, not
    events (8.8k rows/year), one partition's window pass forever."""
    from ..streaming import jobs

    stream = jobs.stream_events(spark, sf_dir)
    win = jobs.run_available_now(
        jobs.windowed_counts(stream), "streaming_cusum_monitor"
    )
    hrs = win.groupBy("window_start").agg(F.sum("n_events").alias("x"))
    tot = hrs.agg(F.count("*").alias("nh"), F.sum("x").alias("s"))
    from pyspark.sql.window import Window

    w = Window.orderBy("window_start").rowsBetween(
        Window.unboundedPreceding, 0
    )
    pref = (
        hrs.join(F.broadcast(tot))
        .select(
            "window_start",
            "x",
            "nh",
            "s",
            (F.col("nh") * F.col("x") - F.col("s")).alias("dev"),
        )
        .withColumn("p", F.sum("dev").over(w))
    )
    cus = pref.select(
        "window_start",
        "x",
        "nh",
        "s",
        (F.col("p") - F.least(F.min("p").over(w), F.lit(0))).alias("up_u"),
        (F.greatest(F.max("p").over(w), F.lit(0)) - F.col("p")).alias(
            "down_u"
        ),
    )
    thresh = F.lit(4) * F.col("s")
    return cus.select(
        "window_start",
        F.col("x").cast("long").alias("x"),
        (
            F.floor(F.col("up_u") / F.col("nh").cast("double") * 1e6 + F.lit(0.5))
            / 1e6
        ).alias("cusum_up"),
        (
            F.floor(
                F.col("down_u") / F.col("nh").cast("double") * 1e6 + F.lit(0.5)
            )
            / 1e6
        ).alias("cusum_down"),
        (F.col("up_u") > thresh).alias("alarm_up"),
        (F.col("down_u") > thresh).alias("alarm_down"),
    ).orderBy("window_start")


# ---------------------------------------------------------------------------
# ROUND 9 — dedup_url_canonicalize: web-corpus URL dedup, stage one of
# the CCNet/RefinedWeb pipelines (dedup fetched pages by canonical URL
# before any content hashing). The fixture synthesizes deterministic
# MESSY variants (case, default port, trailing slash, utm_ params,
# param order, fragments) so every canonicalization rule is load-
# bearing; both engines canonicalize FROM THE RAW STRING.
# ---------------------------------------------------------------------------
_RAW_URL_SQL = """
  CASE doc_id % 2 WHEN 0 THEN 'https' ELSE 'HTTPS' END || '://' ||
  CASE doc_id % 3
    WHEN 0 THEN upper(source) || '.Example.COM'
    WHEN 1 THEN source || '.example.com'
    ELSE source || '.EXAMPLE.com' END ||
  CASE WHEN doc_id % 4 = 1 THEN ':443' ELSE '' END ||
  '/articles/' || (doc_id % 50) ||
  CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END ||
  CASE doc_id % 4
    WHEN 0 THEN '?utm_source=feed&id=' || (doc_id % 10)
    WHEN 1 THEN '?id=' || (doc_id % 10) || '&ref=home'
    WHEN 2 THEN '?ref=home&id=' || (doc_id % 10)
    ELSE '?id=' || (doc_id % 10) END ||
  CASE WHEN doc_id % 7 = 0 THEN '#section-2' ELSE '' END
"""


@register(
    "dedup_url_canonicalize",
    f"""
WITH raw AS (
  SELECT doc_id, {_RAW_URL_SQL} AS raw_url FROM documents
), parts AS (
  SELECT doc_id, raw_url,
         split_part(raw_url, '#', 1) AS nf
  FROM raw
), comp AS (
  -- FIRST-occurrence separator semantics throughout (strpos+substr),
  -- mirroring the engine: a second '://' or '?' inside the query
  -- string must not re-anchor the parse.
  SELECT doc_id, raw_url,
         lower(split_part(nf, '://', 1)) AS scheme,
         substr(nf, strpos(nf, '://') + 3) AS rest,
         split_part(substr(nf, strpos(nf, '://') + 3), '/', 1) AS hostport
  FROM parts
), fields AS (
  SELECT doc_id, raw_url, scheme,
         lower(split_part(hostport, ':', 1)) AS host,
         CASE WHEN contains(hostport, ':')
                   AND substr(hostport, strpos(hostport, ':') + 1)
                       <> (CASE WHEN scheme = 'http' THEN '80' ELSE '443' END)
              THEN ':' || substr(hostport, strpos(hostport, ':') + 1)
              ELSE '' END AS port,
         substr(rest, length(hostport) + 1) AS path_q
  FROM comp
), pq AS (
  SELECT doc_id, raw_url, scheme, host, port,
         split_part(path_q, '?', 1) AS path,
         CASE WHEN contains(path_q, '?')
              THEN substr(path_q, strpos(path_q, '?') + 1)
              ELSE '' END AS query
  FROM fields
), canon AS (
  SELECT doc_id, raw_url,
         scheme || '://' || host || port ||
         (CASE WHEN path = '/' THEN '/'
               ELSE regexp_replace(path, '/$', '') END) ||
         (CASE WHEN params <> '' THEN '?' || params ELSE '' END)
           AS canonical_url
  FROM (
    SELECT *,
           array_to_string(list_sort(list_filter(string_split(query, '&'),
             x -> x <> '' AND NOT starts_with(x, 'utm_'))), '&') AS params
    FROM pq)
)
SELECT canonical_url,
       COUNT(*)::BIGINT AS n_docs,
       COUNT(DISTINCT raw_url)::BIGINT AS n_raw_variants,
       MIN(doc_id)::BIGINT AS keep_doc_id
FROM canon GROUP BY canonical_url ORDER BY canonical_url
""",
)
def dedup_url_canonicalize_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup groups (dedup.canonical_url): fragments
    dropped, scheme/host lowercased, default ports stripped, non-root
    trailing slash stripped, utm_* params dropped and survivors
    sorted; one groupBy on the canonical string yields the dup groups
    with their keeper (MIN doc_id) and raw-variant census.

    Plan shape / 100 TB: canonicalization is map-only codegen string
    algebra (no UDF); the only shuffle is the groupBy on the canonical
    URL — partial-agg'd, key space = |distinct pages|. This is the
    cheapest dedup stage and always runs FIRST in a web pipeline."""
    from ..operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    raw = docs.select(
        "doc_id",
        F.expr(_RAW_URL_SQL).alias("raw_url"),
    )
    return (
        raw.select(
            "doc_id",
            "raw_url",
            dedup.canonical_url(F.col("raw_url")).alias("canonical_url"),
        )
        .groupBy("canonical_url")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("raw_url").cast("long").alias("n_raw_variants"),
            F.min("doc_id").cast("long").alias("keep_doc_id"),
        )
        .orderBy("canonical_url")
    )


# ---------------------------------------------------------------------------
# ROUND 9 — CCITT bilevel TIFF: Group 3 1-D Modified Huffman
# (compression 2, "CCITT RLE"), Group 4 (compression 4, T.6 MMR — pure
# 2-D pass/vertical/horizontal coding) and uncompressed — the
# fax/document-scan leg of the TIFF family. ~190 hand-entered ITU-T
# T.4 run codes + the T.6 mode codes, JDK ImageIO cross-validated both
# directions in pytest.
# ---------------------------------------------------------------------------
@register(
    "multimodal_tiff_ccitt_decode",
    """
WITH dims AS (
  SELECT doc_id, 16 + doc_id % 9 AS w, 6 + doc_id % 4 AS h FROM documents
), px AS (
  SELECT doc_id, w, h, i.i AS p,
         CASE WHEN (doc_id * 31 + 7 * i.i) % 97
                   < 20 + 25 * (doc_id % 4)
              THEN 1 ELSE 0 END AS v
  FROM dims, LATERAL (SELECT UNNEST(range(w * h)) AS i) i
)
SELECT doc_id, ANY_VALUE(w)::INT AS width, ANY_VALUE(h)::INT AS height,
       SUM((p + 1) * 6 * v)::BIGINT AS checksum
FROM px GROUP BY doc_id ORDER BY doc_id
""",
)
def multimodal_tiff_ccitt_decode_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL bilevel TIFF decode (multimodal.decode_tiff bilevel path):
    luma v_i = [(d*31 + 7i) mod 97 < 20 + 25*(d mod 4)] — the rotating
    threshold gives every doc a different white/black mix, so the
    white-first alternation and the zero-length leading white run are
    both exercised; compression rotates none/MH/T.4-2D/G4 by d % 4
    (the 2-D pass/vertical/horizontal modes all fire on this fixture;
    T.4 adds EOL+tag framing and K=2 line alternation), byte order by
    d % 2, multi-strip layout throughout (each 2-D strip restarts its
    all-white reference line). Photometric 0
    is applied (luma out, the JDK raster convention), so the checksum
    is sum((p+1) * 6v). Map-side Arrow decode; scalar-only shuffle."""
    import numpy as np

    from ..operators import multimodal

    def encode(d):
        w, h = 16 + d % 9, 6 + d % 4
        t = 20 + 25 * (d % 4)
        v = ((d * 31 + 7 * np.arange(w * h, dtype=np.int64)) % 97 < t).astype(
            np.int64
        )
        blob = multimodal.encode_tiff_bilevel(
            v.reshape(h, w),
            compression=(1, 2, 3, 4)[d % 4],
            big_endian=bool(d % 2),
            rows_per_strip=3,
        )
        return [(d, blob)]

    docs = load_table(spark, sf_dir, "documents")
    media = map_rows(doc_id_seed(docs), encode, multimodal.MEDIA_SCHEMA)
    return multimodal.image_decode_checksum(media).orderBy("doc_id")


# ---------------------------------------------------------------------------
# ROUND 9 — wordpiece_encode: the BERT tokenizer's greedy longest-
# match-first walk with a corpus-derived vocabulary — the third
# tokenizer-family leg next to bpe_train_merges/bpe_encoded_vocab.
# Exact integer counting end to end; the oracle replays vocab
# construction AND the greedy walk (recursive CTE peeling the longest
# matching piece, head vs '##'-continuation classes).
# ---------------------------------------------------------------------------
_WP_VOCAB_CAP = 65536


@register(
    "wordpiece_encode",
    f"""
WITH RECURSIVE words AS (
  SELECT tok AS word, COUNT(*) AS n
  FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok
        FROM documents)
  WHERE tok <> '' GROUP BY tok
), heads AS (
  SELECT substr(word, 1, l.l) AS piece, l.l AS len, SUM(n) AS wt
  FROM words, LATERAL (SELECT UNNEST(range(1, 7)) AS l) l
  WHERE length(word) >= l.l
  GROUP BY 1, 2
  HAVING l.l = 1 OR SUM(n) >= 50
), conts AS (
  SELECT substr(word, j.j, l.l) AS piece, l.l AS len, SUM(n) AS wt
  FROM words,
       LATERAL (SELECT UNNEST(range(2, length(word) + 1)) AS j) j,
       LATERAL (SELECT UNNEST(range(1, 7)) AS l) l
  WHERE j.j + l.l - 1 <= length(word)
  GROUP BY 1, 2
  HAVING l.l = 1 OR SUM(n) >= 50
), allp AS (
  SELECT piece, len, wt, TRUE AS is_head FROM heads
  UNION ALL
  SELECT piece, len, wt, FALSE AS is_head FROM conts
), vocab AS (
  -- Bounded vocab broadcast, mirrored from the engine: single chars
  -- unconditional; multi-char pieces capped at the vocab_cap highest
  -- weights, ties broken (is_head DESC, piece ASC).
  SELECT piece, len, is_head FROM allp WHERE len = 1
  UNION ALL
  SELECT piece, len, is_head FROM (
    SELECT piece, len, is_head,
           row_number() OVER (ORDER BY wt DESC, is_head DESC, piece) AS rk
    FROM allp WHERE len > 1)
  WHERE rk <= {_WP_VOCAB_CAP}
), seg AS (
  SELECT word, n, CAST(1 AS BIGINT) AS pos,
         CAST('' AS VARCHAR) AS pieces, 0 AS np
  FROM words
  UNION ALL
  SELECT word, n, pos + best AS pos,
         pieces || CASE WHEN pos = 1 THEN substr(word, pos::INT, best::INT)
                        ELSE ' ##' || substr(word, pos::INT, best::INT) END
           AS pieces,
         np + 1 AS np
  FROM (
    SELECT s.word, s.n, s.pos, s.pieces, s.np, MAX(v.len) AS best
    FROM seg s
    JOIN vocab v
      ON v.is_head = (s.pos = 1)
     AND v.piece = substr(s.word, s.pos::INT, v.len::INT)
    WHERE s.pos <= length(s.word)
    GROUP BY s.word, s.n, s.pos, s.pieces, s.np
  )
)
SELECT word, n::BIGINT AS n_occurrences, pieces, np::INT AS n_pieces
FROM seg WHERE pos > length(word)
ORDER BY word
""",
)
def wordpiece_encode_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy WordPiece over the corpus vocabulary
    (text.wordpiece_encode): head pieces = frequency-thresholded word
    prefixes, continuations = '##'-marked internal substrings, single
    characters unconditional (totality). One row per distinct word:
    occurrence count, piece sequence, fertility."""
    from ..operators import text

    return text.wordpiece_encode(
        load_table(spark, sf_dir, "documents"),
        max_piece=6,
        min_count=50,
        vocab_cap=_WP_VOCAB_CAP,
    )


# ---------------------------------------------------------------------------
# ROUND 9 — consistent_hash_resharding: the classic consistent-hashing
# ring (Karger et al. 1997, public method) as a resharding-cost report.
# Keys and virtual nodes hash onto a 60-bit md5 ring; a key belongs to
# the first vnode clockwise. Adding one shard to an N-shard ring must
# move only ~1/(N+1) of the keys — this query measures the actual
# movement per NEW shard, the capacity-planning read-off for any
# sharded store (state backends, kv sinks, bucketed layouts).
# ---------------------------------------------------------------------------
_CH_N, _CH_V = 8, 16  # shards on the old ring; vnodes per shard


def _ch_assign_sql(n_shards: int, alias: str) -> str:
    """Ring assignment CTE text: keys -> shard under an n_shards ring.
    Tie-safe: equal ring positions resolve to the MIN shard id."""
    return f"""
{alias}_vn AS (
  SELECT s.s AS shard,
         CAST(concat('0x', substr(md5('vn:' || s.s || ':' || v.v), 1, 15))
              AS UBIGINT)::BIGINT AS pos
  FROM (SELECT UNNEST(range({n_shards})) AS s) s,
       (SELECT UNNEST(range({_CH_V})) AS v) v
), {alias}_hit AS (
  SELECT k.key, k.kp,
         COALESCE(MIN(CASE WHEN vn.pos >= k.kp THEN vn.pos END),
                  MIN(vn.pos)) AS hitpos
  FROM keys k CROSS JOIN {alias}_vn vn
  GROUP BY k.key, k.kp
), {alias}_asg AS (
  SELECT h.key, MIN(vn.shard) AS shard
  FROM {alias}_hit h JOIN {alias}_vn vn ON vn.pos = h.hitpos
  GROUP BY h.key
)"""


@register(
    "consistent_hash_resharding",
    """
WITH keys AS (
  SELECT DISTINCT user_id AS key,
         CAST(concat('0x', substr(md5('key:' || user_id), 1, 15))
              AS UBIGINT)::BIGINT AS kp
  FROM events
),""" + _ch_assign_sql(_CH_N, "old") + "," + _ch_assign_sql(_CH_N + 1, "new") + """
, tot AS (SELECT COUNT(*) AS nk FROM keys)
SELECT n.shard::INT AS shard,
       COUNT(*)::BIGINT AS n_keys,
       SUM(CASE WHEN o.shard <> n.shard THEN 1 ELSE 0 END)::BIGINT
         AS n_moved_in,
       (SUM(CASE WHEN o.shard <> n.shard THEN 1 ELSE 0 END) * 1000
        // GREATEST(t.nk, 1))::BIGINT AS moved_share_milli
FROM new_asg n JOIN old_asg o USING (key) CROSS JOIN tot t
GROUP BY n.shard, t.nk ORDER BY n.shard
""",
)
def consistent_hash_resharding_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Consistent-hash ring resharding report: distinct event users
    hash onto an 8-shard x 16-vnode md5 ring and onto the same ring
    grown to 9 shards; per NEW shard, the key census and how many keys
    MOVED (old shard != new). The consistent-hashing guarantee is that
    only ~1/9 of keys move, all into the new shard's vnode arcs.

    All positions are exact 60-bit md5 integers; assignment ties (equal
    ring positions) resolve to the MIN shard id in both engines.

    Plan shape / 100 TB: the key census is one distinct over the
    events projection; BOTH ring assignments are broadcast joins
    against 144/162-row vnode relations folded into conditional
    aggregates (min position >= key, else global min) — the key
    relation shuffles once for its groupBy, vnodes never shuffle."""
    events = load_table(spark, sf_dir, "events")
    keys = (
        events.select(F.col("user_id").alias("key"))
        .distinct()
        .withColumn(
            "kp",
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("key:"), F.col("key"))), 1, 15
                ),
                16,
                10,
            ).cast("long"),
        )
    )

    def ring(n_shards: int):
        vn = (
            spark.range(n_shards)
            .select(F.col("id").alias("shard"))
            .crossJoin(spark.range(_CH_V).select(F.col("id").alias("v")))
            .select(
                "shard",
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit("vn:"),
                                F.col("shard"),
                                F.lit(":"),
                                F.col("v"),
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long").alias("pos"),
            )
        )
        hit = (
            keys.crossJoin(F.broadcast(vn))
            .groupBy("key", "kp")
            .agg(
                F.coalesce(
                    F.min(F.when(F.col("pos") >= F.col("kp"), F.col("pos"))),
                    F.min("pos"),
                ).alias("hitpos")
            )
        )
        return (
            hit.join(F.broadcast(vn), F.col("pos") == F.col("hitpos"))
            .groupBy("key")
            .agg(F.min("shard").alias("shard"))
        )

    old = ring(_CH_N).withColumnRenamed("shard", "old_shard")
    new = ring(_CH_N + 1).withColumnRenamed("shard", "new_shard")
    tot = keys.agg(F.count("*").alias("nk"))
    return (
        new.join(old, "key")
        .crossJoin(F.broadcast(tot))
        .groupBy("new_shard", "nk")
        .agg(
            F.count("*").cast("long").alias("n_keys"),
            F.sum(
                (F.col("old_shard") != F.col("new_shard")).cast("long")
            ).alias("n_moved_in"),
        )
        .select(
            F.col("new_shard").cast("int").alias("shard"),
            "n_keys",
            F.col("n_moved_in").cast("long").alias("n_moved_in"),
            F.expr("n_moved_in * 1000 DIV GREATEST(nk, 1)")
            .cast("long")
            .alias("moved_share_milli"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# ROUND 9 — betweenness_centrality: Brandes 2001 (public algorithm) on
# the dense-id interaction projection, completing the centrality family
# (degree, eigen/pagerank, k-core, harmonic, HyperBall). Forward =
# level-synchronized multi-source BFS carrying shortest-path COUNTS
# (sigma); backward = dependency accumulation with the fraction
# sigma_v / sigma_w quantized per term as exact integer floor division
# in MICRO-units — no float appears anywhere, so both engines replay
# the accumulation bit-identically. Undirected double-counting kept raw
# (documented), diameter bound 6 (the harmonic_centrality convention).
# ---------------------------------------------------------------------------


def _bw_oracle() -> str:
    parts = ["""
WITH e AS (
  SELECT DISTINCT user_id % 100 AS u, 100 + event_id % 100 AS v FROM events
), und AS (
  SELECT u AS src, v AS dst FROM e
  UNION ALL SELECT v AS src, u AS dst FROM e
), verts AS (
  SELECT DISTINCT src AS vx FROM und
), l0 AS (
  SELECT vx AS s, vx AS node, CAST(1 AS BIGINT) AS sig FROM verts
)"""]
    for k in range(1, BFS_DEPTH + 1):
        settled = " UNION ALL ".join(
            f"SELECT s, node FROM l{i}" for i in range(k)
        )
        parts.append(f"""
, f{k} AS (
  SELECT p.s, e.dst AS node, SUM(p.sig) AS sig
  FROM l{k - 1} p JOIN und e ON e.src = p.node
  GROUP BY 1, 2
), l{k} AS (
  SELECT f.s, f.node, f.sig FROM f{k} f
  ANTI JOIN ({settled}) x USING (s, node)
)""")
    parts.append(f"""
, d{BFS_DEPTH} AS (
  SELECT s, node, sig, CAST(0 AS BIGINT) AS delta FROM l{BFS_DEPTH}
)""")
    for k in range(BFS_DEPTH - 1, -1, -1):
        parts.append(f"""
, d{k} AS (
  SELECT u.s, u.node, u.sig,
         COALESCE(SUM((u.sig * ({BRANDES_UNIT} + w.delta)) // w.sig), 0)
           AS delta
  FROM l{k} u
  LEFT JOIN und e ON e.src = u.node
  LEFT JOIN d{k + 1} w ON w.s = u.s AND w.node = e.dst
  GROUP BY u.s, u.node, u.sig
)""")
    alld = " UNION ALL ".join(
        f"SELECT s, node, delta FROM d{i}" for i in range(BFS_DEPTH + 1)
    )
    parts.append(f"""
SELECT v.vx::BIGINT AS node,
       COALESCE(SUM(CASE WHEN a.node <> a.s THEN a.delta END), 0)::BIGINT
         AS bc_micro
FROM verts v LEFT JOIN ({alld}) a ON a.node = v.vx
GROUP BY v.vx ORDER BY node
""")
    return "".join(parts)


@register("betweenness_centrality", _bw_oracle())
def betweenness_centrality_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators import graph

    return graph.betweenness_centrality(load_events(spark, sf_dir))


# ---------------------------------------------------------------------------
# ROUND 9 — multimodal_motion_estimate: full-search block-matching
# motion estimation over a real decoded frame pair — the SAD kernel
# behind every P-frame pipeline and motion-based keyframe / dedup
# heuristic. Frames roundtrip through the real BMP codec before the
# search (decode is part of the measured path, like every multimodal
# query here). Exact integer SAD, packed (sad, dy, dx) argmin.
# ---------------------------------------------------------------------------
@register(
    "multimodal_motion_estimate",
    """
WITH d AS (
  SELECT doc_id, doc_id % 5 - 2 AS mx, doc_id % 3 - 1 AS my FROM documents
), cand AS (
  SELECT bx.bx, by.by, dy.dy, dx.dx
  FROM (SELECT UNNEST(range(2)) AS bx) bx,
       (SELECT UNNEST(range(2)) AS by) by,
       (SELECT UNNEST(range(-2, 3)) AS dy) dy,
       (SELECT UNNEST(range(-2, 3)) AS dx) dx
  WHERE bx.bx * 8 + dx.dx >= 0 AND bx.bx * 8 + 8 + dx.dx <= 16
    AND by.by * 8 + dy.dy >= 0 AND by.by * 8 + 8 + dy.dy <= 16
), sad AS (
  SELECT d.doc_id, c.bx, c.by, c.dy, c.dx,
         SUM(ABS(
           ((d.doc_id * 7
             + 13 * ((((c.by * 8 + j.j) - d.my) % 16 + 16) % 16)
             + 29 * ((((c.bx * 8 + i.i) - d.mx) % 16 + 16) % 16)) % 251
            + CASE WHEN ((c.bx * 8 + i.i) + (c.by * 8 + j.j) + d.doc_id) % 7 = 0
                   THEN 3 ELSE 0 END)
           - ((d.doc_id * 7
               + 13 * (c.by * 8 + j.j + c.dy)
               + 29 * (c.bx * 8 + i.i + c.dx)) % 251)
         )) AS sad
  FROM d, cand c,
       (SELECT UNNEST(range(8)) AS i) i,
       (SELECT UNNEST(range(8)) AS j) j
  GROUP BY 1, 2, 3, 4, 5
), pick AS (
  SELECT doc_id, bx, by,
         MIN(sad * 100 + (dy + 2) * 10 + (dx + 2)) AS p
  FROM sad GROUP BY 1, 2, 3
)
SELECT doc_id, bx::INT AS bx, by::INT AS by,
       (p % 10 - 2)::INT AS dx, ((p // 10) % 10 - 2)::INT AS dy,
       (p // 100)::BIGINT AS sad
FROM pick ORDER BY doc_id, by, bx
""",
)
def multimodal_motion_estimate_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Block motion field over a decoded BMP frame pair
    (multimodal.block_motion_search): frame 2 is frame 1 cyclically
    shifted by a doc-dependent true motion plus a sparse deterministic
    brightness bump, so the argmin recovers the true vector wherever
    the search window allows and the packed (sad, dy, dx) tie-break is
    exercised at the frame edges where it cannot. Both frames pass
    through the REAL BMP encoder/decoder before the search.

    Plan shape / 100 TB: map-only Arrow pass (decode + 25-candidate
    SAD per 8x8 block — integer numpy); only (block, vector, sad)
    scalars leave the scan. Row count = docs x 4 blocks."""
    import numpy as np

    from ..operators import multimodal

    def motion(d):
        mx, my = d % 5 - 2, d % 3 - 1
        yy, xx = np.mgrid[0:16, 0:16]
        p1 = (d * 7 + 13 * yy + 29 * xx) % 251
        p2 = (
            d * 7 + 13 * ((yy - my) % 16) + 29 * ((xx - mx) % 16)
        ) % 251 + np.where((xx + yy + d) % 7 == 0, 3, 0)
        f1 = multimodal.decode_bmp(
            multimodal.encode_bmp(np.repeat(p1[:, :, None], 3, 2).astype(np.uint8))
        )[:, :, 0]
        f2 = multimodal.decode_bmp(
            multimodal.encode_bmp(np.repeat(p2[:, :, None], 3, 2).astype(np.uint8))
        )[:, :, 0]
        return [
            (d, bx, by, dx, dy, sad)
            for bx, by, dx, dy, sad in multimodal.block_motion_search(
                f1, f2, block=8, radius=2
            )
        ]

    docs = load_table(spark, sf_dir, "documents")
    return map_rows(
        doc_id_seed(docs),
        motion,
        "doc_id BIGINT, bx INT, by INT, dx INT, dy INT, sad BIGINT",
    ).orderBy("doc_id", "by", "bx")


# ---------------------------------------------------------------------------
# ROUND 9 — delong_auc_ci: the DeLong 1988 variance + 95% CI for the
# quality classifier's AUC (Sun & Xu 2014 midrank formulation). On the
# quantized-logit value census the structural components V10/V01 are
# per-cell midrank differences — exact integers — so the variance
# numerators are exact bigints and the only floats are two divisions,
# one add, and one sqrt evaluated in a fixed order in both engines.
# ---------------------------------------------------------------------------
from .r1_parity_ext import _TOKS  # noqa: E402

_DELONG_VAR = (
    "(m * sa2 - sa * sa) / (4.0 * n * n * m * m * (m - 1)) "
    "+ (n * sb2 - sb * sb) / (4.0 * m * m * n * n * (n - 1))"
)


@register(
    "delong_auc_ci",
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
), census AS (
  SELECT CAST(FLOOR(z * 1e4 + 0.5) AS BIGINT) AS lv,
         COUNT(*) AS c, COUNT(CASE WHEN is_pos THEN 1 END) AS p
  FROM z GROUP BY 1
), cells AS (
  SELECT c, p, c - p AS q,
         COALESCE(SUM(c) OVER w, 0) AS cb,
         COALESCE(SUM(p) OVER w, 0) AS pb,
         COALESCE(SUM(c) OVER w, 0) - COALESCE(SUM(p) OVER w, 0) AS qb
  FROM census
  WINDOW w AS (ORDER BY lv ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), ab AS (
  SELECT c, p, q, cb,
         (2 * cb + c + 1) - (2 * pb + p + 1) AS a,
         (2 * cb + c + 1) - (2 * qb + q + 1) AS b
  FROM cells
), agg AS (
  SELECT SUM(p) AS m, SUM(q) AS n,
         SUM(p * a) AS sa, SUM(p * a * a) AS sa2,
         SUM(q * b) AS sb, SUM(q * b * b) AS sb2,
         SUM(p * (2 * (cb + 1) + c - 1)) AS rsum
  FROM ab
), fin AS (
  SELECT m, n,
         FLOOR((rsum - m * (m + 1)) / (2.0 * m * n) * 1e6 + 0.5) / 1e6 AS auc,
         FLOOR(({_DELONG_VAR}) * 1e9 + 0.5) / 1e9 AS var_delong
  FROM agg
)
SELECT m::BIGINT AS n_pos, n::BIGINT AS n_neg, auc, var_delong,
       FLOOR((auc - 1.96 * SQRT(var_delong)) * 1e6 + 0.5) / 1e6 AS ci_lo,
       FLOOR((auc + 1.96 * SQRT(var_delong)) * 1e6 + 0.5) / 1e6 AS ci_hi
FROM fin
""",
)
def delong_auc_ci_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeLong variance + 95% CI for the quality-gate AUC
    (text.delong_auc_ci) — the significance read-off that belongs next
    to model_eval_auc before trusting a filter threshold: an AUC of
    0.55 on a small eval slice means nothing if the CI straddles 0.5."""
    from ..operators import text

    return text.delong_auc_ci(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# ROUND 9 — sink_xml_roundtrip: the XML data source became built-in in
# Spark 4 (SPARK-44265, from the spark-xml package) — the last bundled
# file format the sink family did not cover (avro is not shipped in
# this PySpark distribution; verified unavailable).
# ---------------------------------------------------------------------------
@register(
    "sink_xml_roundtrip",
    """
SELECT event_id, user_id, event_type FROM events
""",
)
def sink_xml_roundtrip_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink/source round trip with a declared rowTag and read
    schema (no inference pass). Same contract as the csv/json/orc
    round trips: write distributed, read back schema-on-read, values
    byte-identical."""
    from .r2_relational_formats import _roundtrip_dir, load_events

    out_dir = _roundtrip_dir(sf_dir, "xml")
    events = load_events(spark, sf_dir).select(
        "event_id", "user_id", "event_type"
    )
    events.write.mode("overwrite").format("xml").option(
        "rowTag", "event"
    ).save(out_dir)
    return (
        spark.read.schema("event_id BIGINT, user_id BIGINT, event_type STRING")
        .format("xml")
        .option("rowTag", "event")
        .load(out_dir)
    )


# ---------------------------------------------------------------------------
# ROUND 9 — gray+alpha PNG (color type 4, depths 8 and 16): closes
# decode_png's LAST gate — all five PNG color types are now real at
# every legal byte-or-wider depth, plus sub-8-bit gray and palette.
# ---------------------------------------------------------------------------
@register(
    "multimodal_png_gray_alpha_decode",
    """
WITH dims AS (
  SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 3 AS h,
         CASE WHEN doc_id % 3 = 0 THEN 16 ELSE 8 END AS depth
  FROM documents
), px AS (
  SELECT doc_id, w, h, i.i AS p,
         (doc_id * 5003 + 257 * i.i) % (1 << depth) AS v
  FROM dims, LATERAL (SELECT UNNEST(range(w * h)) AS i) i
)
SELECT doc_id, ANY_VALUE(w)::INT AS width, ANY_VALUE(h)::INT AS height,
       SUM((p + 1) * 6 * v)::BIGINT AS checksum
FROM px GROUP BY doc_id ORDER BY doc_id
""",
)
def multimodal_png_gray_alpha_decode_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL gray+alpha PNG decode (multimodal.decode_png color type 4,
    depths 8 and 16 rotating by doc_id % 3): gray v_i = (d*5003 +
    257*i) mod 2^depth; the alpha plane carries a DIFFERENT series
    ((d*31 + 7*i) mod 2^depth) that rides every filter byte but is
    dropped on decode — a channel-offset bug corrupts gray and fails
    the position-weighted checksum sum((p+1) * 6v). Odd doc_ids add
    Adam7; filters rotate per row. Map-side Arrow decode."""
    import numpy as np

    from ..operators import multimodal

    def encode(d):
        w, h = 8 + d % 5, 6 + d % 3
        depth = 16 if d % 3 == 0 else 8
        n = w * h
        g = (d * 5003 + 257 * np.arange(n, dtype=np.int64)) % (1 << depth)
        al = (d * 31 + 7 * np.arange(n, dtype=np.int64)) % (1 << depth)
        ga = np.stack([g, al], axis=1).reshape(h, w, 2)
        blob = multimodal.encode_png(
            ga.astype(np.uint16 if depth == 16 else np.uint8),
            depth=depth,
            filter_for_row=lambda y: y,
            interlace=bool(d % 2),
        )
        return [(d, blob)]

    docs = load_table(spark, sf_dir, "documents")
    media = map_rows(doc_id_seed(docs), encode, multimodal.MEDIA_SCHEMA)
    return multimodal.image_decode_checksum(media).orderBy("doc_id")


# ---------------------------------------------------------------------------
# ROUND 9 — 8-bit grayscale TIFF (the layout between RGB and bilevel):
# stripped chunky BlackIsZero, all four per-segment compressions.
# ---------------------------------------------------------------------------
@register(
    "multimodal_tiff_gray_decode",
    """
WITH dims AS (
  SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 3 AS h FROM documents
), px AS (
  SELECT doc_id, w, h, i.i AS p,
         (doc_id * 5003 + 257 * i.i) % 256 AS v
  FROM dims, LATERAL (SELECT UNNEST(range(w * h)) AS i) i
)
SELECT doc_id, ANY_VALUE(w)::INT AS width, ANY_VALUE(h)::INT AS height,
       SUM((p + 1) * 6 * v)::BIGINT AS checksum
FROM px GROUP BY doc_id ORDER BY doc_id
""",
)
def multimodal_tiff_gray_decode_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL 8-bit grayscale TIFF decode (multimodal.decode_tiff gray
    path): v_i = (d*5003 + 257*i) mod 256, compression rotating
    none/LZW/Deflate/PackBits by doc_id % 4, byte order by parity,
    multi-strip throughout. Gray replicates to RGB, so the checksum is
    sum((p+1) * 6v). Map-side Arrow decode; scalar-only shuffle."""
    import numpy as np

    from ..operators import multimodal

    def encode(d):
        w, h = 8 + d % 5, 6 + d % 3
        v = (d * 5003 + 257 * np.arange(w * h, dtype=np.int64)) % 256
        blob = multimodal.encode_tiff(
            v.reshape(h, w).astype(np.uint8),
            compression=(1, 5, 8, 32773)[d % 4],
            big_endian=bool(d % 2),
            rows_per_strip=3,
        )
        return [(d, blob)]

    docs = load_table(spark, sf_dir, "documents")
    media = map_rows(doc_id_seed(docs), encode, multimodal.MEDIA_SCHEMA)
    return multimodal.image_decode_checksum(media).orderBy("doc_id")


# ---------------------------------------------------------------------------
# ROUND 9 — ann_range_search: the FAISS range_search API next to the
# top-k family — every vector inside an exact squared-distance ball.
# ---------------------------------------------------------------------------
@register(
    "ann_range_search",
    """
WITH v AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(floor(x * 1000 + 0.5) AS BIGINT)) AS v
  FROM embeddings
), q AS (SELECT v FROM v WHERE vec_id = 0)
SELECT vec_id, d2
FROM (
  SELECT w.vec_id,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(list_zip(w.v, (SELECT v FROM q)),
                          p -> (p[1] - p[2]) * (p[1] - p[2]))),
           (a, b) -> a + b) AS d2
  FROM v w WHERE w.vec_id <> 0)
WHERE d2 <= 1600000
ORDER BY d2, vec_id
""",
)
def ann_range_search_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact radius query (similarity.range_search): all vectors with
    squared milli-L2 <= 1.6e6 of vector 0 (about the 5th percentile of
    the fixture's pairwise distances), with exact integer distances —
    no sqrt anywhere. One map-side Arrow pass; only the ball's
    population leaves the scan."""
    from ..operators import similarity

    return similarity.range_search(
        load_table(spark, sf_dir, "embeddings"),
        query_vec_id=0,
        r2_milli=1_600_000,
    )


# ---------------------------------------------------------------------------
# ROUND 9 — MS ADPCM (the OTHER classic WAVE ADPCM next to IMA): 7
# fixed second-order predictor pairs + the 16-entry delta-adaptation
# table (Microsoft WAVE spec, public). Exact integers; the oracle
# replays the (s1, s2, delta) recursion with floor-exact shifts.
# ---------------------------------------------------------------------------
def _msadpcm_oracle() -> str:
    from ..operators.multimodal import MS_ADPCM_ADAPT, MS_ADPCM_COEFFS

    c1s = ", ".join(str(c[0]) for c in MS_ADPCM_COEFFS)
    c2s = ", ".join(str(c[1]) for c in MS_ADPCM_COEFFS)
    adapt = ", ".join(str(v) for v in MS_ADPCM_ADAPT)
    return f"""
WITH RECURSIVE walk AS (
  SELECT doc_id, 0 AS j,
         (16 + doc_id % 100)::BIGINT AS delta,
         ((doc_id * 37) % 1024 - 512)::BIGINT AS s1,
         ((doc_id * 53) % 1024 - 512)::BIGINT AS s2,
         0::BIGINT AS sacc, 0::BIGINT AS last_pcm
  FROM documents
  UNION ALL
  SELECT doc_id, j + 1,
         GREATEST(16, CAST(FLOOR(([{adapt}])[c + 1] * delta / 256.0)
                           AS BIGINT)) AS delta,
         samp AS s1, s1 AS s2,
         sacc + ABS(samp) AS sacc, samp AS last_pcm
  FROM (
    SELECT w.doc_id, w.j, w.delta, w.s1, w.s2, w.sacc, t.c,
           GREATEST(-32768, LEAST(32767,
             CAST(FLOOR((w.s1 * ([{c1s}])[w.doc_id % 7 + 1]
                         + w.s2 * ([{c2s}])[w.doc_id % 7 + 1]) / 256.0)
                  AS BIGINT)
             + (CASE WHEN t.c >= 8 THEN t.c - 16 ELSE t.c END) * w.delta))
             AS samp
    FROM walk w, LATERAL (
      SELECT (w.doc_id * 3 + 5 * w.j) % 16 AS c
    ) t
    WHERE w.j < 64
  )
)
SELECT doc_id, 64::BIGINT AS n_samples, sacc::BIGINT AS sum_abs,
       last_pcm::BIGINT AS last_pcm
FROM walk WHERE j = 64 ORDER BY doc_id
"""


@register("multimodal_msadpcm_decode", _msadpcm_oracle())
def multimodal_msadpcm_decode_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL MS ADPCM expansion (multimodal.ms_adpcm_decode): 64 codes
    per doc packed high-nibble-first (the MS layout), predictor pair
    rotating over all 7 coefficient sets, per-doc initial delta and
    header samples. The second-order prediction and delta adaptation
    are exact integers (shifts = floor divisions, mirrored as
    floor-exact double division of <2^53 products in the oracle).

    Plan shape / 100 TB: stateful WITHIN a payload but stateless
    ACROSS payloads — map-only Arrow batches, per-doc scalars shuffle
    (the codec house contract)."""
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    return multimodal.msadpcm_decode_features(
        multimodal.synthetic_msadpcm_media(docs)
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# ROUND 9 — merkle_table_digest: partition-level integrity digests for
# incremental verification (the Merkle/anti-entropy pattern every
# replicated store uses — Dynamo/Cassandra repair, public method).
# Row hash = md5 of a canonical integer-safe projection; bucket digest
# = SUM of 60-bit row hashes mod 2^61 (COMMUTATIVE and partial-agg
# mergeable — the property that makes the digest maintainable under
# appends and comparable shard-by-shard without a rescan); table root
# = md5 over the ordered bucket digests.
# ---------------------------------------------------------------------------
@register(
    "merkle_table_digest",
    """
WITH rows_h AS (
  SELECT o_orderkey % 64 AS bucket,
         CAST(concat('0x', substr(md5(
           o_orderkey || '|' || o_custkey || '|' || o_orderstatus || '|' ||
           strftime(o_orderdate, '%Y-%m-%d')), 1, 10)) AS UBIGINT)::BIGINT
           AS h
  FROM orders
), buckets AS (
  SELECT bucket, COUNT(*) AS n_rows,
         SUM(h) % 2305843009213693952 AS bucket_digest
  FROM rows_h GROUP BY bucket
), spine AS (
  SELECT UNNEST(range(64)) AS bucket
), b2 AS (
  SELECT s.bucket, COALESCE(b.n_rows, 0) AS n_rows,
         COALESCE(b.bucket_digest, 0) AS bucket_digest
  FROM spine s LEFT JOIN buckets b USING (bucket)
), root AS (
  SELECT md5(string_agg(bucket_digest::VARCHAR, ',' ORDER BY bucket))
           AS table_root
  FROM b2
)
SELECT b2.bucket::INT AS bucket, b2.n_rows::BIGINT AS n_rows,
       b2.bucket_digest::BIGINT AS bucket_digest, r.table_root
FROM b2, root r ORDER BY b2.bucket
""",
)
def merkle_table_digest_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bucket integrity digests + table root over orders: row md5
    on an integer-safe canonical projection, commutative mod-2^61 sums
    per bucket (partial-agg'd, append-maintainable), md5 root over the
    ordered bucket digests. The anti-entropy read-off: two replicas
    compare 64 longs, then rescan only the buckets that differ.

    Plan shape / 100 TB: one map-side hash projection + ONE
    partial-agg'd 64-key shuffle; the root is a broadcast of 64 rows.
    Nothing is ordered at row scale (the commutative sum replaces the
    sorted-concat leaf a textbook Merkle tree would need)."""
    orders = load_table(spark, sf_dir, "orders")
    rows_h = orders.select(
        (F.col("o_orderkey") % 64).alias("bucket"),
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("o_orderkey"),
                        F.col("o_custkey"),
                        F.col("o_orderstatus"),
                        F.date_format("o_orderdate", "yyyy-MM-dd"),
                    )
                ),
                1,
                10,
            ),
            16,
            10,
        ).cast("long").alias("h"),
    )
    buckets = rows_h.groupBy("bucket").agg(
        F.count("*").alias("n_rows"),
        (F.sum("h") % F.lit(2305843009213693952)).alias("bucket_digest"),
    )
    b2 = (
        spark.range(0, 64)
        .select(F.col("id").alias("bucket"))
        .join(buckets, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n_rows", F.lit(0)).alias("n_rows"),
            F.coalesce("bucket_digest", F.lit(0)).alias("bucket_digest"),
        )
    )
    root = b2.agg(
        F.md5(
            F.concat_ws(
                ",",
                F.array_sort(
                    F.collect_list(F.struct("bucket", "bucket_digest"))
                ).getField("bucket_digest").cast("array<string>"),
            )
        ).alias("table_root")
    )
    return (
        b2.crossJoin(F.broadcast(root))
        .select(
            F.col("bucket").cast("int").alias("bucket"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("bucket_digest").cast("long").alias("bucket_digest"),
            "table_root",
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# ROUND 9 — animated GIF (GIF89a): Graphic Control Extensions with
# disposal methods 1 (leave) and 2 (restore-to-background), sub-
# rectangle frames composited onto the logical canvas — the multi-
# frame leg the single-image GIF codec lacked. The oracle replays the
# compositing as pure relational algebra: the visible value of pixel
# (x, y) at display t is the LAST covering frame's paint unless that
# frame already disposed to background.
# ---------------------------------------------------------------------------
@register(
    "multimodal_gif_animated_decode",
    """
WITH dims AS (
  SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 3 AS h FROM documents
), px AS (
  SELECT doc_id, w, h, x.x AS x, y.y AS y
  FROM dims, LATERAL (SELECT UNNEST(range(w)) AS x) x,
       LATERAL (SELECT UNNEST(range(h)) AS y) y
), fr AS (SELECT UNNEST(range(3)) AS f),
cov AS (
  SELECT p.doc_id, p.w, p.h, p.x, p.y, t.f AS t, MAX(j.f) AS jstar
  FROM px p CROSS JOIN fr t
  LEFT JOIN fr j ON j.f <= t.f
    AND p.x >= (p.doc_id + j.f) % 4
    AND p.x <  (p.doc_id + j.f) % 4 + p.w - 4
    AND p.y >= j.f % 3 AND p.y < j.f % 3 + p.h - 3
  GROUP BY 1, 2, 3, 4, 5, 6
), vals AS (
  SELECT doc_id, w, h, t, x, y,
         CASE WHEN jstar IS NOT NULL
                   AND (jstar = t OR jstar % 2 = 0)
              THEN (doc_id * 7 + 11 * jstar
                    + (y - jstar % 3) * (w - 4)
                    + (x - (doc_id + jstar) % 4)) % 256
              END AS idx
  FROM cov
)
SELECT doc_id, t::INT AS frame,
       ANY_VALUE(w)::INT AS width, ANY_VALUE(h)::INT AS height,
       COALESCE(SUM((y * w + x + 1)
         * (idx + 2 * ((3 * idx) % 256) + 3 * ((7 * idx) % 256))),
         0)::BIGINT AS checksum
FROM vals GROUP BY doc_id, t ORDER BY doc_id, frame
""",
)
def multimodal_gif_animated_decode_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL animated-GIF decode with compositing
    (multimodal.decode_gif_animated): three sub-rectangle frames per
    doc at rotating offsets, disposal alternating leave /
    restore-to-background (background index 0 = RGB (0,0,0), so erased
    pixels contribute nothing to the checksum), NETSCAPE loop header,
    per-frame LZW streams. One row per (doc, frame) with the
    position-weighted checksum of the COMPOSITED canvas — row
    mis-compositing, disposal mistakes, and offset errors all break
    it. Map-side Arrow decode; scalar-only shuffle."""
    import numpy as np

    from ..operators import multimodal

    def frames_of(d):
        w, h = 8 + d % 5, 6 + d % 3
        frames = []
        for f in range(3):
            left, top = (d + f) % 4, f % 3
            fw, fh = w - 4, h - 3
            idx = (d * 7 + 11 * f + np.arange(fw * fh, dtype=np.int64)) % 256
            frames.append((left, top, fw, fh, idx, 1 if f % 2 == 0 else 2))
        outs = multimodal.decode_gif_animated(
            multimodal.encode_gif_animated(frames, w, h)
        )
        rows = []
        for t, arr in enumerate(outs):
            a = arr.astype(np.int64)
            mix = a[:, :, 0] + 2 * a[:, :, 1] + 3 * a[:, :, 2]
            wts = np.arange(1, w * h + 1, dtype=np.int64)
            rows.append((d, t, w, h, int((wts * mix.reshape(-1)).sum())))
        return rows

    docs = load_table(spark, sf_dir, "documents")
    return map_rows(
        doc_id_seed(docs),
        frames_of,
        "doc_id BIGINT, frame INT, width INT, height INT, checksum BIGINT",
    ).orderBy("doc_id", "frame")


# ---------------------------------------------------------------------------
# ROUND 9 — streaming_merkle_digest: the anti-entropy digest ON the
# stream. The bucket digest is a commutative modular sum, so it is
# exactly the kind of aggregate a streaming census maintains for free
# — the drained digests equal the batch table's, which IS the oracle.
# ---------------------------------------------------------------------------
@register(
    "streaming_merkle_digest",
    """
WITH rows_h AS (
  SELECT event_id % 64 AS bucket,
         CAST(concat('0x', substr(md5(
           event_id || '|' || user_id || '|' || event_type), 1, 10))
           AS UBIGINT)::BIGINT AS h
  FROM events
)
SELECT bucket::INT AS bucket, COUNT(*)::BIGINT AS n_rows,
       (SUM(h) % 2305843009213693952)::BIGINT AS bucket_digest
FROM rows_h GROUP BY bucket ORDER BY bucket
""",
)
def streaming_merkle_digest_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming integrity digests: each micro-batch hashes its rows
    map-side and folds them into per-bucket modular sums (a running
    aggregate in complete mode — state is exactly 64 longs). After the
    drain the digests equal the batch table's, so a replica can verify
    a streamed ingest against the source WITHOUT a rescan — the
    streaming leg of merkle_table_digest.

    Plan shape / 100 TB: stateful census of 64 cells regardless of
    volume; the modular sum is partial-agg'd inside every micro-batch."""
    from ..streaming import jobs

    stream = jobs.stream_events(spark, sf_dir)
    digests = (
        stream.select(
            (F.col("event_id") % 64).alias("bucket"),
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "|", "event_id", "user_id", "event_type"
                        )
                    ),
                    1,
                    10,
                ),
                16,
                10,
            ).cast("long").alias("h"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            (F.sum("h") % F.lit(2305843009213693952)).alias(
                "bucket_digest"
            ),
        )
    )
    out = jobs.run_available_now(digests, "streaming_merkle_digest")
    return out.select(
        F.col("bucket").cast("int").alias("bucket"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("bucket_digest").cast("long").alias("bucket_digest"),
    ).orderBy("bucket")


# ---------------------------------------------------------------------------
# ROUND 9 — quantization_recall_report: how much of the exact top-k
# does scale-free int8 ranking recover? The deployment question every
# int8 vector store answers before shipping. Both rankings are exact
# integers (milli dot vs int8-code dot with per-vector max-abs scales
# via the embedding_quantize_int8 convention), so the overlap is
# bit-deterministic.
# ---------------------------------------------------------------------------
@register(
    "quantization_recall_report",
    """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS x,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(floor(x * 1000 + 0.5) AS BIGINT)) AS xm
  FROM embeddings
), scales AS (
  SELECT vec_id, x, xm,
         list_max(list_transform(x, e -> ABS(e))) AS scale
  FROM v
), q8 AS (
  SELECT vec_id, xm,
         list_transform(x, e -> CAST(round(e * 127.0 / scale) AS BIGINT))
           AS q
  FROM scales
), qq AS (SELECT xm AS qxm, q AS qq FROM q8 WHERE vec_id = 0),
scored AS (
  SELECT a.vec_id,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(list_zip(a.xm, (SELECT qxm FROM qq)),
                          p -> p[1] * p[2])), (x, y) -> x + y) AS dot_exact,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(list_zip(a.q, (SELECT qq FROM qq)),
                          p -> p[1] * p[2])), (x, y) -> x + y) AS dot_q8
  FROM q8 a WHERE a.vec_id <> 0
), re AS (
  SELECT vec_id,
         ROW_NUMBER() OVER (ORDER BY dot_exact DESC, vec_id) AS r_exact,
         ROW_NUMBER() OVER (ORDER BY dot_q8 DESC, vec_id) AS r_q8
  FROM scored
), ks AS (SELECT UNNEST([5, 10, 20]) AS k)
SELECT k.k::INT AS k,
       SUM(CASE WHEN re.r_exact <= k.k AND re.r_q8 <= k.k
                THEN 1 ELSE 0 END)::BIGINT AS n_overlap,
       (SUM(CASE WHEN re.r_exact <= k.k AND re.r_q8 <= k.k
                 THEN 1 ELSE 0 END) * 1000 // k.k)::BIGINT AS recall_milli
FROM ks k CROSS JOIN re GROUP BY k.k ORDER BY k.k
""",
)
def quantization_recall_report_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Int8-quantization retrieval distortion: exact milli-integer MIPS
    top-k vs the scale-free int8-code dot ranking (q = round(x *
    127 / max|x|), the embedding_quantize_int8 convention), overlap
    and recall at k = 5/10/20.

    Plan shape / 100 TB: both scores come from ONE scan (two column
    expressions per row against the broadcast query codes); ranks are
    two TakeOrdered-class windows over the scored relation; the report
    is 3 rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    from pyspark.sql.window import Window

    v = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"), lambda e: e.cast("double")
        ).alias("x"),
        F.transform(
            F.col("embedding"),
            lambda e: F.floor(e.cast("double") * 1000 + F.lit(0.5)).cast(
                "long"
            ),
        ).alias("xm"),
    )
    q8 = v.select(
        "vec_id",
        "xm",
        F.transform(
            F.col("x"),
            lambda e: F.round(
                e * 127.0 / F.array_max(F.transform(F.col("x"), F.abs))
            ).cast("long"),
        ).alias("q"),
    )
    qrow = q8.filter(F.col("vec_id") == 0).take(1)
    if not qrow:
        return tiny_df(
            spark, [], "k INT, n_overlap LONG, recall_milli LONG"
        )
    qxm = [int(t) for t in qrow[0]["xm"]]
    qq = [int(t) for t in qrow[0]["q"]]
    qxm_lit = F.array(*[F.lit(t).cast("long") for t in qxm])
    qq_lit = F.array(*[F.lit(t).cast("long") for t in qq])
    scored = q8.filter(F.col("vec_id") != 0).select(
        "vec_id",
        F.aggregate(
            F.zip_with(F.col("xm"), qxm_lit, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("dot_exact"),
        F.aggregate(
            F.zip_with(F.col("q"), qq_lit, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("dot_q8"),
    )
    re = scored.select(
        "vec_id",
        F.row_number()
        .over(Window.orderBy(F.col("dot_exact").desc(), "vec_id"))
        .alias("r_exact"),
        F.row_number()
        .over(Window.orderBy(F.col("dot_q8").desc(), "vec_id"))
        .alias("r_q8"),
    )
    ks = tiny_df(spark, [(5,), (10,), (20,)], "k INT")
    return (
        ks.crossJoin(re)
        .groupBy("k")
        .agg(
            F.sum(
                (
                    (F.col("r_exact") <= F.col("k"))
                    & (F.col("r_q8") <= F.col("k"))
                ).cast("long")
            ).alias("n_overlap")
        )
        .select(
            F.col("k").cast("int").alias("k"),
            F.col("n_overlap").cast("long").alias("n_overlap"),
            F.expr("n_overlap * 1000 DIV k").cast("long").alias(
                "recall_milli"
            ),
        )
        .orderBy("k")
    )
