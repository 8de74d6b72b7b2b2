"""Registry slice: mechanical round-6 split of the original single-file
registry.py (22.4k LoC) into family modules — see registry/__init__.py.
Slice order is preserved; oracle-builder helpers that read ORACLES at
import time rely on it."""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403
from ..operators import tiny_df
from ._shared import _FLAT_COLS, _nested_events  # noqa: F401
from .r1_parity_ext import _ensure_pyds_fixture  # noqa: F401
from .r1_parity_ext import _NORM  # noqa: F401
from .r1_parity_ext import _TOKS  # noqa: F401
from ..scratch import scratch

# ---------------------------------------------------------------------------
# ext: BM25 ranked retrieval + positional phrase search (round 2) — the
# classic-IR completions of the retrieval ladder (text_search_boolean ->
# tfidf_top_terms -> bm25_retrieval -> rag_retrieval). Reference has no
# search surface; extension mandated by the north star.
# ---------------------------------------------------------------------------
_TOKS_CTE = """
WITH toks AS (
  SELECT doc_id, t.term
  FROM documents,
       LATERAL UNNEST(string_split(regexp_replace(lower(trim(text)), '[^a-z0-9 ]', '', 'g'), ' ')) AS t(term)
  WHERE t.term <> ''
)"""


@register(
    "bm25_retrieval",
    # mirror of text.bm25_retrieval: identical fixed float sequence,
    # half-up micro-unit quantization, exact bigint combine, ties on
    # (su DESC, doc_id)
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
), ranked AS (
  SELECT query_id, doc_id, su,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY su DESC, doc_id) AS rank
  FROM agg
)
SELECT query_id, doc_id, su / 1e6 AS bm25, rank
FROM ranked WHERE rank <= 3 ORDER BY query_id, rank
""",
)
def bm25_retrieval_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.bm25_retrieval(load_table(spark, sf_dir, "documents"))


@register(
    "phrase_search",
    # positional postings via 1-based array subscripts; adjacency is
    # translation-invariant so the 0- vs 1-based difference vs Spark's
    # posexplode cancels
    """
WITH arrs AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '[^a-z0-9 ]', '', 'g'), ' ') AS arr
  FROM documents
), idx AS (
  SELECT doc_id, unnest(generate_series(1, len(arr))) AS pos, arr FROM arrs
), posting AS (
  SELECT doc_id, pos, arr[pos] AS term FROM idx WHERE arr[pos] <> ''
), ph(phrase_id, w0, w1) AS (
  VALUES (1,'hash','join'),(2,'table','scan')
)
SELECT ph.phrase_id, p0.doc_id, COUNT(*) AS n_hits
FROM posting p0
JOIN ph ON p0.term = ph.w0
JOIN posting p1
  ON p1.doc_id = p0.doc_id AND p1.pos = p0.pos + 1 AND p1.term = ph.w1
GROUP BY ph.phrase_id, p0.doc_id
ORDER BY ph.phrase_id, p0.doc_id
""",
)
def phrase_search_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.phrase_search(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# ext: statistics family round-2 additions — categorical association
# (chi-squared), per-key OLS trend, series autocorrelation, CUSUM change
# detection. All exact-integer cores with one final float op, fully
# mirrored in SQL (the drift_report / drift_ks / model_eval_auc
# convention).
# ---------------------------------------------------------------------------
@register(
    "chi2_independence",
    # DuckDB dayofweek is Sunday=0..Saturday=6; Spark's is Sunday=1..7,
    # hence the +1
    """
WITH cells AS (
  SELECT event_type AS r, dayofweek(ts) + 1 AS c, COUNT(*) AS o
  FROM events GROUP BY 1, 2
), rm AS (SELECT r, SUM(o) AS rm FROM cells GROUP BY r),
cm AS (SELECT c, SUM(o) AS cm FROM cells GROUP BY c),
n AS (SELECT SUM(o) AS n FROM cells),
per AS (
  SELECT cells.r, cells.c, cells.o,
         CAST(FLOOR(
           CAST(cells.o * n.n - rm.rm * cm.cm AS DOUBLE)
           * CAST(cells.o * n.n - rm.rm * cm.cm AS DOUBLE)
           / CAST(rm.rm * cm.cm * n.n AS DOUBLE)
           * 1e6 + 0.5) AS BIGINT) AS term_u
  FROM cells JOIN rm USING (r) JOIN cm USING (c) CROSS JOIN n
)
SELECT COUNT(*) AS n_cells,
       (COUNT(DISTINCT r) - 1) * (COUNT(DISTINCT c) - 1) AS dof,
       CAST(SUM(o) AS BIGINT) AS n,
       SUM(term_u) / 1e6 AS chi2
FROM per
""",
)
def chi2_independence_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.chi2_independence(load_events(spark, sf_dir))


@register(
    "trend_lines",
    # HUGEINT here == DECIMAL(38,0) on the Spark side: both exact for
    # the ~21-digit moment products; the two divisions are the only
    # float ops, in the same left-assoc order
    """
WITH d0 AS (SELECT CAST(MIN(ts) AS DATE) AS d0 FROM events),
base AS (
  SELECT event_type,
         datediff('day', d0.d0, CAST(ts AS DATE)) AS x,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS yu
  FROM events, d0
), m AS (
  SELECT event_type, COUNT(*) AS n, SUM(x) AS sx, SUM(yu) AS sy,
         SUM(x * x) AS sxx, SUM(x * yu) AS sxy
  FROM base GROUP BY event_type
), fit AS (
  SELECT event_type, n, sx, sy,
         CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
         / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
         / 100.0 AS slope
  FROM m
)
SELECT event_type, n,
       FLOOR(slope * 1e6 + 0.5) / 1e6 AS slope_per_day,
       FLOOR((CAST(sy AS DOUBLE) / 100.0 - slope * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE) * 1e6 + 0.5) / 1e6 AS intercept
FROM fit ORDER BY event_type
""",
)
def trend_lines_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.trend_lines(load_events(spark, sf_dir))


@register(
    "acf_daily",
    """
WITH days AS (
  SELECT CAST(ts AS DATE) AS d, COUNT(*) AS x FROM events GROUP BY 1
), tot AS (SELECT COUNT(*) AS nd, SUM(x) AS s FROM days),
lags AS (SELECT unnest(generate_series(1, 7)) AS lag),
pairs AS (
  SELECT lag, COUNT(*) AS n_pairs,
         SUM((t.nd * a.x - t.s) * (t.nd * b.x - t.s)) AS num
  FROM days a
  CROSS JOIN lags
  JOIN days b ON datediff('day', a.d, b.d) = lag
  CROSS JOIN tot t
  GROUP BY lag
), den AS (
  SELECT SUM((t.nd * x - t.s) * (t.nd * x - t.s)) AS den FROM days, tot t
)
SELECT lag, n_pairs,
       FLOOR(CAST(num AS DOUBLE) / CAST(den.den AS DOUBLE) * 1e6 + 0.5) / 1e6 AS acf
FROM pairs, den ORDER BY lag
""",
)
def acf_daily_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.acf_daily(load_events(spark, sf_dir))


@register(
    "cusum_changepoint",
    """
WITH days AS (
  SELECT CAST(ts AS DATE) AS d, COUNT(*) AS x FROM events GROUP BY 1
), tot AS (SELECT COUNT(*) AS nd, SUM(x) AS s FROM days),
base AS (SELECT d, x, nd, s, nd * x - s AS dev FROM days, tot),
pref AS (
  SELECT *, SUM(dev) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
  FROM base
), cus AS (
  SELECT d, x, nd, s,
         p - LEAST(MIN(p) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS up_u,
         GREATEST(MAX(p) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) - p AS down_u
  FROM pref
)
SELECT strftime(d, '%Y-%m-%d') AS d, x,
       FLOOR(up_u / CAST(nd AS DOUBLE) * 1e6 + 0.5) / 1e6 AS cusum_up,
       FLOOR(down_u / CAST(nd AS DOUBLE) * 1e6 + 0.5) / 1e6 AS cusum_down,
       up_u > 4 * s AS alarm_up,
       down_u > 4 * s AS alarm_down
FROM cus ORDER BY d
""",
)
def cusum_changepoint_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.cusum_changepoint(load_events(spark, sf_dir))


# ---------------------------------------------------------------------------
# ext: round-2 cohort — market-basket rules, bounded shortest path, KMV
# theta-sketch intersection, grid-bucketed spatial radius join.
# ---------------------------------------------------------------------------
@register(
    "assoc_rules",
    """
WITH baskets AS (
  SELECT DISTINCT l_orderkey AS o, p_brand AS item
  FROM lineitem JOIN part ON l_partkey = p_partkey
), n AS (SELECT COUNT(DISTINCT o) AS n FROM baskets),
ic AS (SELECT item, COUNT(*) AS cnt FROM baskets GROUP BY item),
pairs AS (
  SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS cooc
  FROM baskets a JOIN baskets b ON a.o = b.o AND a.item < b.item
  GROUP BY 1, 2
)
SELECT item_a, item_b, cooc,
       FLOOR(CAST(cooc AS DOUBLE) / CAST(n.n AS DOUBLE) * 1e6 + 0.5) / 1e6 AS support,
       FLOOR(CAST(cooc AS DOUBLE) / CAST(ca.cnt AS DOUBLE) * 1e6 + 0.5) / 1e6 AS confidence,
       FLOOR(CAST(cooc * n.n AS DOUBLE) / CAST(ca.cnt * cb.cnt AS DOUBLE) * 1e6 + 0.5) / 1e6 AS lift
FROM pairs
JOIN ic ca ON ca.item = pairs.item_a
JOIN ic cb ON cb.item = pairs.item_b
CROSS JOIN n
WHERE cooc * 200 >= n.n
ORDER BY lift DESC, item_a, item_b
LIMIT 50
""",
)
def assoc_rules_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.assoc_rules(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@register(
    "shortest_path_bounded",
    # 4 unrolled Bellman-Ford rounds — exact integer min-plus algebra,
    # bit-identical to the Spark driver-composed rounds
    """
WITH edges AS (
  SELECT user_id AS src, event_id % 500 AS dst, MIN(event_id % 9) + 1 AS w
  FROM events GROUP BY 1, 2
), d0 AS (
  SELECT MIN(user_id) AS node, CAST(0 AS BIGINT) AS dist FROM events
), d1 AS (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT * FROM d0
    UNION ALL
    SELECT e.dst, d.dist + e.w FROM d0 d JOIN edges e ON e.src = d.node
  ) GROUP BY node
), d2 AS (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT * FROM d1
    UNION ALL
    SELECT e.dst, d.dist + e.w FROM d1 d JOIN edges e ON e.src = d.node
  ) GROUP BY node
), d3 AS (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT * FROM d2
    UNION ALL
    SELECT e.dst, d.dist + e.w FROM d2 d JOIN edges e ON e.src = d.node
  ) GROUP BY node
), d4 AS (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT * FROM d3
    UNION ALL
    SELECT e.dst, d.dist + e.w FROM d3 d JOIN edges e ON e.src = d.node
  ) GROUP BY node
)
SELECT node, dist FROM d4 ORDER BY node
""",
)
def shortest_path_bounded_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.shortest_path_bounded(load_events(spark, sf_dir))


@register(
    "kmv_intersection",
    # full sketch mirror: same 60-bit md5 hashes, same k-smallest
    # retention, same theta algebra — not a bound check
    """
WITH pairs(type_a, type_b) AS (
  VALUES ('click','view'),('click','purchase'),('view','purchase')
), du AS (
  SELECT DISTINCT event_type, user_id FROM events
), hashed AS (
  SELECT event_type,
         CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS UBIGINT)::BIGINT AS h
  FROM du
), sk AS (
  SELECT event_type, h,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM hashed QUALIFY rn <= 64
), est AS (
  SELECT event_type, COUNT(*) AS n_kept, MAX(h) AS theta,
         CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS DOUBLE)
              ELSE 63.0 * 1152921504606846976.0 / CAST(MAX(h) AS DOUBLE) END AS est,
         CASE WHEN COUNT(*) < 64 THEN 1152921504606846976 ELSE MAX(h) END AS bound
  FROM sk GROUP BY event_type
), inter AS (
  SELECT p.type_a, p.type_b, COUNT(*) AS n_common,
         MIN(LEAST(ea.bound, eb.bound)) AS theta_min
  FROM pairs p
  JOIN sk sa ON sa.event_type = p.type_a
  JOIN sk sb ON sb.event_type = p.type_b AND sb.h = sa.h
  JOIN est ea ON ea.event_type = p.type_a
  JOIN est eb ON eb.event_type = p.type_b
  WHERE sa.h <= LEAST(ea.bound, eb.bound)
  GROUP BY p.type_a, p.type_b
), exact AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS exact_intersection
  FROM du a JOIN du b ON a.user_id = b.user_id
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b,
       FLOOR(ea.est * 1e6 + 0.5) / 1e6 AS est_a,
       FLOOR(eb.est * 1e6 + 0.5) / 1e6 AS est_b,
       COALESCE(i.n_common, 0) AS n_common,
       FLOOR(COALESCE(CAST(i.n_common AS DOUBLE) * 1152921504606846976.0
                      / CAST(i.theta_min AS DOUBLE), 0.0) * 1e6 + 0.5) / 1e6 AS est_intersection,
       COALESCE(x.exact_intersection, 0) AS exact_intersection
FROM pairs p
LEFT JOIN inter i ON i.type_a = p.type_a AND i.type_b = p.type_b
JOIN est ea ON ea.event_type = p.type_a
JOIN est eb ON eb.event_type = p.type_b
LEFT JOIN exact x ON x.type_a = p.type_a AND x.type_b = p.type_b
ORDER BY p.type_a, p.type_b
""",
)
def kmv_intersection_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.kmv_intersection(load_events(spark, sf_dir))


@register(
    "grid_radius_join",
    # BRUTE-FORCE oracle on purpose: the engine's 3x3 grid probe must
    # find exactly the pairs the cross product finds — a completeness
    # proof of the bucketing, not just a mirror
    """
WITH pts AS (
  SELECT event_id, event_type,
         (event_id * 2654435761) % 1000 AS x,
         (user_id * 40503 + event_id * 97) % 1000 AS y
  FROM events
), a AS (SELECT event_id AS a_id, x AS ax, y AS ay FROM pts WHERE event_type = 'click'),
b AS (SELECT event_id AS b_id, x AS bx, y AS by FROM pts WHERE event_type = 'error'),
m AS (
  SELECT a_id, b_id,
         (ax - bx) * (ax - bx) + (ay - by) * (ay - by) AS d2
  FROM a, b
  WHERE (ax - bx) * (ax - bx) + (ay - by) * (ay - by) <= 25
)
SELECT COUNT(*) AS n_matches,
       COUNT(DISTINCT a_id) AS n_a_matched,
       COUNT(DISTINCT b_id) AS n_b_matched,
       CAST(COALESCE(SUM(a_id + b_id), 0) AS BIGINT) AS id_sum,
       CAST(COALESCE(SUM(d2), 0) AS BIGINT) AS d2_sum
FROM m
""",
)
def grid_radius_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.grid_radius_join(load_events(spark, sf_dir))


# ---------------------------------------------------------------------------
# ext: round-2 cohort — MMR diversity re-ranking, deterministic Poisson
# bootstrap, l-diversity audit, normalized-rank windows.
# ---------------------------------------------------------------------------
@register(
    "mmr_rerank",
    # unrolled greedy: 5 selection CTEs, exact integer mmr algebra
    """
WITH vq AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS v
  FROM embeddings
), q AS (SELECT v AS qv FROM vq WHERE vec_id = 0),
rel AS (
  SELECT vec_id, v, list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(list_zip(v, qv), p -> p[1] * p[2])), (x, y) -> x + y) AS rel_u FROM vq, q WHERE vec_id <> 0
), cand AS (
  SELECT * FROM rel ORDER BY rel_u DESC, vec_id LIMIT 12
), sim AS (
  SELECT a.vec_id AS sa, b.vec_id AS sb, list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(list_zip(a.v, b.v), p -> p[1] * p[2])), (x, y) -> x + y) AS sim_u
  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
), s1 AS (
  SELECT vec_id, rel_u, rel_u AS mmr_u FROM cand ORDER BY rel_u DESC, vec_id LIMIT 1
), sel1 AS (SELECT vec_id FROM s1), p2 AS (
  SELECT c.vec_id, c.rel_u, c.rel_u - MAX(s.sim_u) AS mmr_u
  FROM cand c JOIN sim s ON s.sa = c.vec_id AND s.sb IN (SELECT vec_id FROM sel1)
  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel1)
  GROUP BY c.vec_id, c.rel_u
), s2 AS (
  SELECT * FROM p2 ORDER BY mmr_u DESC, vec_id LIMIT 1
), sel2 AS (
  SELECT vec_id FROM sel1 UNION ALL SELECT vec_id FROM s2
), p3 AS (
  SELECT c.vec_id, c.rel_u, c.rel_u - MAX(s.sim_u) AS mmr_u
  FROM cand c JOIN sim s ON s.sa = c.vec_id AND s.sb IN (SELECT vec_id FROM sel2)
  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel2)
  GROUP BY c.vec_id, c.rel_u
), s3 AS (
  SELECT * FROM p3 ORDER BY mmr_u DESC, vec_id LIMIT 1
), sel3 AS (
  SELECT vec_id FROM sel2 UNION ALL SELECT vec_id FROM s3
), p4 AS (
  SELECT c.vec_id, c.rel_u, c.rel_u - MAX(s.sim_u) AS mmr_u
  FROM cand c JOIN sim s ON s.sa = c.vec_id AND s.sb IN (SELECT vec_id FROM sel3)
  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel3)
  GROUP BY c.vec_id, c.rel_u
), s4 AS (
  SELECT * FROM p4 ORDER BY mmr_u DESC, vec_id LIMIT 1
), sel4 AS (
  SELECT vec_id FROM sel3 UNION ALL SELECT vec_id FROM s4
), p5 AS (
  SELECT c.vec_id, c.rel_u, c.rel_u - MAX(s.sim_u) AS mmr_u
  FROM cand c JOIN sim s ON s.sa = c.vec_id AND s.sb IN (SELECT vec_id FROM sel4)
  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel4)
  GROUP BY c.vec_id, c.rel_u
), s5 AS (
  SELECT * FROM p5 ORDER BY mmr_u DESC, vec_id LIMIT 1
), sel5 AS (
  SELECT vec_id FROM sel4 UNION ALL SELECT vec_id FROM s5
)
SELECT 1 AS rank, vec_id, rel_u / 1e6 AS rel, mmr_u / 1e6 AS mmr FROM s1
UNION ALL
SELECT 2 AS rank, vec_id, rel_u / 1e6 AS rel, mmr_u / 1e6 AS mmr FROM s2
UNION ALL
SELECT 3 AS rank, vec_id, rel_u / 1e6 AS rel, mmr_u / 1e6 AS mmr FROM s3
UNION ALL
SELECT 4 AS rank, vec_id, rel_u / 1e6 AS rel, mmr_u / 1e6 AS mmr FROM s4
UNION ALL
SELECT 5 AS rank, vec_id, rel_u / 1e6 AS rel, mmr_u / 1e6 AS mmr FROM s5
ORDER BY rank
""",
)
def mmr_rerank_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity

    return similarity.mmr_rerank(load_table(spark, sf_dir, "embeddings"))


@register(
    "bootstrap_ci",
    # identical md5-derived Poisson(1) weights; thresholds are exact
    # integer literals of the scaled CDF
    """
WITH reps AS (SELECT unnest(generate_series(0, 31)) AS b),
base AS (
  SELECT event_id, event_type, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS yu,
         CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 15)) AS UBIGINT)::BIGINT
           % 36028797018963968 AS h0
  FROM events
), hw AS (
  SELECT event_type, b, yu,
         CASE WHEN h < 13254253713415792 THEN 0
              WHEN h < 26508507426831584 THEN 1
              WHEN h < 33135634283539480 THEN 2
              WHEN h < 35344676569108776 THEN 3
              ELSE 4 END AS w
  FROM (
    SELECT base.*, reps.b, (h0 * (2 * b + 1)) % 36028797018963968 AS h
    FROM base CROSS JOIN reps
  )
), rm AS (
  SELECT event_type, b,
         CAST(FLOOR(CAST(SUM(w * yu) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) * 1e4 + 0.5) AS BIGINT) AS m_u
  FROM hw GROUP BY 1, 2
), ranked AS (
  SELECT event_type, m_u, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY m_u, b) AS rn FROM rm
), ci AS (
  SELECT event_type, MIN(m_u) / 1e6 AS ci_lo, MAX(m_u) / 1e6 AS ci_hi
  FROM ranked WHERE rn IN (2, 31) GROUP BY event_type
), pt AS (
  SELECT event_type, COUNT(*) AS n,
         CAST(FLOOR(CAST(SUM(yu) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) * 1e4 + 0.5) AS BIGINT) AS mean_u
  FROM base GROUP BY 1
)
SELECT event_type, n, mean_u / 1e6 AS mean, ci_lo, ci_hi
FROM pt JOIN ci USING (event_type) ORDER BY event_type
""",
)
def bootstrap_ci_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.bootstrap_ci(load_events(spark, sf_dir))


@register(
    "l_diversity_report",
    """
WITH pc AS (
  SELECT event_type, EXTRACT(HOUR FROM ts) AS hod, user_id % 100 AS cohort,
         COUNT(*) AS sz,
         COUNT(DISTINCT CAST(FLOOR(value / 100) AS BIGINT)) AS l
  FROM events GROUP BY 1, 2, 3
), ns AS (
  SELECT COUNT(DISTINCT CAST(FLOOR(value / 100) AS BIGINT)) AS n_sensitive_values FROM events
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(MIN(l) AS BIGINT) AS min_l,
       CAST(COUNT(CASE WHEN l < 3 THEN 1 END) AS BIGINT) AS n_classes_below_l,
       CAST(SUM(CASE WHEN l < 3 THEN sz ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
       CAST(MAX(n_sensitive_values) AS BIGINT) AS n_sensitive_values
FROM pc, ns
""",
)
def l_diversity_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.l_diversity_report(load_events(spark, sf_dir))


@register(
    "window_percent_rank",
    """
WITH w AS (
  SELECT event_id, event_type, value,
         PERCENT_RANK() OVER (PARTITION BY event_type ORDER BY value, event_id) AS pr0,
         CUME_DIST() OVER (PARTITION BY event_type ORDER BY value, event_id) AS cd0
  FROM events
)
SELECT event_id, event_type, value,
       FLOOR(pr0 * 1e6 + 0.5) / 1e6 AS pr,
       FLOOR(cd0 * 1e6 + 0.5) / 1e6 AS cd
FROM w WHERE event_id % 199 = 0 ORDER BY event_id
""",
)
def window_percent_rank_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.window_percent_rank(load_events(spark, sf_dir))


# ---------------------------------------------------------------------------
# ext: round-2 cohort — calibration report, NDCG ranking eval, PMI
# collocations, streaming k-minima distinct sketch.
# ---------------------------------------------------------------------------
@register(
    "calibration_report",
    # embeds quality_model_score's exact z pipeline, then fixed-width
    # quantized-logit bins; confidence/accuracy are single float
    # divisions of exact sums
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
), lab AS (
  SELECT z.doc_id,
         CAST(FLOOR(FLOOR(z * 1e4 + 0.5) / 1e4 * 1e4 + 0.5) AS BIGINT) AS lu,
         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM z JOIN documents d ON d.doc_id = z.doc_id
), binned AS (
  SELECT CAST(FLOOR(lu / 2500.0) AS BIGINT) AS bin, lu, pos FROM lab
)
SELECT bin, COUNT(*) AS n, CAST(SUM(pos) AS BIGINT) AS n_pos,
       FLOOR(CAST(SUM(lu) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e4 * 1e6 + 0.5) / 1e6 AS mean_logit,
       FLOOR(CAST(SUM(pos) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS pos_rate
FROM binned GROUP BY bin ORDER BY bin
""",
)
def calibration_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.calibration_report(load_table(spark, sf_dir, "documents"))


@register(
    "ndcg_eval",
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
), top AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT query_id, doc_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY su DESC, doc_id) AS rank
    FROM agg
  ) WHERE rank <= 10
), relv AS (
  SELECT q.query_id, t.doc_id, COUNT(*) AS rel
  FROM (SELECT DISTINCT doc_id, term FROM toks) t JOIN q USING (term)
  GROUP BY 1, 2
), dcg AS (
  SELECT top.query_id,
         SUM(CAST(FLOOR(CAST(COALESCE(r.rel, 0) AS DOUBLE)
                        / log2(CAST(top.rank AS DOUBLE) + 1) * 1e9 + 0.5) AS BIGINT)) AS dcg_u
  FROM top LEFT JOIN relv r ON r.query_id = top.query_id AND r.doc_id = top.doc_id
  GROUP BY 1
), ideal AS (
  SELECT query_id, SUM(g) AS idcg_u, COUNT(*) AS n_relevant FROM (
    SELECT query_id,
           CAST(FLOOR(CAST(rel AS DOUBLE) / log2(CAST(pos AS DOUBLE) + 1) * 1e9 + 0.5) AS BIGINT) AS g
    FROM (
      SELECT query_id, rel, doc_id,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rel DESC, doc_id) AS pos
      FROM relv
    ) WHERE pos <= 10
  ) GROUP BY query_id
)
SELECT d.query_id,
       dcg_u / 1e9 AS dcg,
       idcg_u / 1e9 AS idcg,
       FLOOR(CAST(dcg_u AS DOUBLE) / CAST(idcg_u AS DOUBLE) * 1e6 + 0.5) / 1e6 AS ndcg,
       n_relevant
FROM dcg d JOIN ideal USING (query_id) ORDER BY query_id
""",
)
def ndcg_eval_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.ndcg_eval(load_table(spark, sf_dir, "documents"))


@register(
    "pmi_collocations",
    """
WITH arrs AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '[^a-z0-9 ]', '', 'g'), ' ') AS arr
  FROM documents
), idx AS (
  SELECT doc_id, unnest(generate_series(1, len(arr))) AS pos, arr FROM arrs
), posting AS (
  SELECT doc_id, pos, arr[pos] AS term FROM idx WHERE arr[pos] <> ''
), uni AS (
  SELECT term, COUNT(*) AS c FROM posting GROUP BY term
), tot AS (SELECT COUNT(*) AS t FROM posting),
bg AS (
  SELECT p0.term AS w0, p1.term AS w1, COUNT(*) AS c_ab
  FROM posting p0 JOIN posting p1
    ON p1.doc_id = p0.doc_id AND p1.pos = p0.pos + 1
  GROUP BY 1, 2
), btot AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS b FROM bg)
SELECT w0, w1, c_ab, ca.c AS ca, cb.c AS cb,
       FLOOR(LN((CAST(c_ab AS DOUBLE) / CAST(b AS DOUBLE))
                / ((CAST(ca.c AS DOUBLE) / CAST(t AS DOUBLE))
                   * (CAST(cb.c AS DOUBLE) / CAST(t AS DOUBLE)))) * 1e6 + 0.5) / 1e6 AS pmi
FROM bg
JOIN uni ca ON ca.term = bg.w0
JOIN uni cb ON cb.term = bg.w1
CROSS JOIN tot CROSS JOIN btot
WHERE c_ab >= 20
ORDER BY pmi DESC, w0, w1
LIMIT 30
""",
)
def pmi_collocations_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.pmi_collocations(load_table(spark, sf_dir, "documents"))


@register(
    "streaming_kmin_sketch",
    # k-partition-minima distinct sketch (stochastic averaging): MIN
    # per (set, bucket) is a valid incremental streaming aggregate and
    # the mergeable store a shard rollup would union; the drained
    # complete-mode table equals this batch build exactly
    """
WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
h AS (
  SELECT event_type,
         CAST(concat('0x', substr(md5('skmv:' || user_id), 1, 15)) AS UBIGINT)::BIGINT AS h
  FROM du
)
SELECT event_type, h % 64 AS bucket, COUNT(*) AS n_keys, MIN(h) AS min_h
FROM h GROUP BY 1, 2
ORDER BY event_type, bucket
""",
)
def streaming_kmin_sketch_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import jobs

    stream = jobs.stream_events(spark, sf_dir)
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("skmv:"), F.col("user_id").cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    sk = (
        stream.select("event_type", "user_id")
        .dropDuplicates(["event_type", "user_id"])
        .select("event_type", h.alias("h"))
        .groupBy("event_type", F.pmod(F.col("h"), F.lit(64)).alias("bucket"))
        .agg(F.count("*").alias("n_keys"), F.min("h").alias("min_h"))
    )
    return jobs.run_available_now(sk, "streaming_kmin_sketch")


@register(
    "pca_power_iteration",
    # 4 unrolled power-iteration rounds: exact bigint matvecs, ordered
    # double fold + IEEE sqrt for the normalizer, truncating integer
    # rescale — bit-identical to the Spark driver-composed rounds
    """
WITH vecs AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS x
  FROM embeddings
), v0 AS (
  SELECT list_transform(generate_series(1, 64), i -> CAST(1000 AS BIGINT)) AS v
), r1s AS (
  SELECT v.vec_id, v.x, list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(list_zip(v.x, p.v), p -> p[1] * p[2])), (x, y) -> x + y) AS s FROM vecs v, v0 p
), r1u AS (
  SELECT generate_subscripts(x, 1) AS d, unnest(x) AS xd, s FROM r1s
), r1a AS (
  SELECT list(u ORDER BY d) AS u
  FROM (SELECT d, SUM(xd * s) AS u FROM r1u GROUP BY d)
), r1n AS (
  SELECT u,
         CAST(FLOOR(SQRT(list_reduce(
           list_prepend(CAST(0 AS DOUBLE),
             list_transform(u, z -> CAST(z AS DOUBLE) * CAST(z AS DOUBLE))),
           (a, b) -> a + b))) AS BIGINT) AS nrm
  FROM r1a
), v1 AS (
  SELECT list_transform(u, z -> (z * 1000) // nrm) AS v FROM r1n
), r2s AS (
  SELECT v.vec_id, v.x, list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(list_zip(v.x, p.v), p -> p[1] * p[2])), (x, y) -> x + y) AS s FROM vecs v, v1 p
), r2u AS (
  SELECT generate_subscripts(x, 1) AS d, unnest(x) AS xd, s FROM r2s
), r2a AS (
  SELECT list(u ORDER BY d) AS u
  FROM (SELECT d, SUM(xd * s) AS u FROM r2u GROUP BY d)
), r2n AS (
  SELECT u,
         CAST(FLOOR(SQRT(list_reduce(
           list_prepend(CAST(0 AS DOUBLE),
             list_transform(u, z -> CAST(z AS DOUBLE) * CAST(z AS DOUBLE))),
           (a, b) -> a + b))) AS BIGINT) AS nrm
  FROM r2a
), v2 AS (
  SELECT list_transform(u, z -> (z * 1000) // nrm) AS v FROM r2n
), r3s AS (
  SELECT v.vec_id, v.x, list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(list_zip(v.x, p.v), p -> p[1] * p[2])), (x, y) -> x + y) AS s FROM vecs v, v2 p
), r3u AS (
  SELECT generate_subscripts(x, 1) AS d, unnest(x) AS xd, s FROM r3s
), r3a AS (
  SELECT list(u ORDER BY d) AS u
  FROM (SELECT d, SUM(xd * s) AS u FROM r3u GROUP BY d)
), r3n AS (
  SELECT u,
         CAST(FLOOR(SQRT(list_reduce(
           list_prepend(CAST(0 AS DOUBLE),
             list_transform(u, z -> CAST(z AS DOUBLE) * CAST(z AS DOUBLE))),
           (a, b) -> a + b))) AS BIGINT) AS nrm
  FROM r3a
), v3 AS (
  SELECT list_transform(u, z -> (z * 1000) // nrm) AS v FROM r3n
), r4s AS (
  SELECT v.vec_id, v.x, list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(list_zip(v.x, p.v), p -> p[1] * p[2])), (x, y) -> x + y) AS s FROM vecs v, v3 p
), r4u AS (
  SELECT generate_subscripts(x, 1) AS d, unnest(x) AS xd, s FROM r4s
), r4a AS (
  SELECT list(u ORDER BY d) AS u
  FROM (SELECT d, SUM(xd * s) AS u FROM r4u GROUP BY d)
), r4n AS (
  SELECT u,
         CAST(FLOOR(SQRT(list_reduce(
           list_prepend(CAST(0 AS DOUBLE),
             list_transform(u, z -> CAST(z AS DOUBLE) * CAST(z AS DOUBLE))),
           (a, b) -> a + b))) AS BIGINT) AS nrm
  FROM r4a
), v4 AS (
  SELECT list_transform(u, z -> (z * 1000) // nrm) AS v FROM r4n
)
SELECT CAST(generate_subscripts(v, 1) - 1 AS INT) AS d,
       CAST(unnest(v) AS BIGINT) AS v_milli,
       CAST(unnest(v) AS BIGINT) / 1000 AS loading
FROM v4 ORDER BY d
""",
)
def pca_power_iteration_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity

    return similarity.pca_power_top_component(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# ext: round-2 cohort — streaming run observability + incremental
# join-view maintenance.
# ---------------------------------------------------------------------------
@register(
    "streaming_obs_metrics",
    # run-level metrics accumulated across micro-batches must equal the
    # batch aggregates over the same data — batch-slicing-invariant by
    # construction (counts/sums add, max maxes)
    """
SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents,
       COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchases,
       CAST(MAX(event_id) AS BIGINT) AS max_event_id
FROM events
""",
)
def streaming_obs_metrics_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming observability via observe(): per-micro-batch metrics
    ride the stream's own processing (accumulators, zero extra scans —
    the streaming twin of obs_metrics), surface in each progress event,
    and the run-level rollup is the additive combine across batches.
    The noop sink isolates the cost: this is what a production job's
    metrics exporter sees, independent of the sink."""
    from ..streaming import jobs

    stream = jobs.stream_events(spark, sf_dir)
    observed = stream.observe(
        "run_metrics",
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
            "value_cents"
        ),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_purchases"),
        F.max("event_id").alias("max_event_id"),
    )
    # retain enough progress events for one-file-per-trigger draining of
    # many-part fixtures; restore the conf afterwards (session hygiene)
    prev = spark.conf.get("spark.sql.streaming.numRecentProgressUpdates", None)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "2000")
    try:
        q = jobs.drain(
            observed.writeStream.format("noop").queryName("streaming_obs_metrics")
        )
        n_events = value_cents = n_purchases = 0
        max_event_id = None
        for p in q.recentProgress:
            om = (p.get("observedMetrics") or {}).get("run_metrics")
            if not om:
                continue
            n_events += om["n_events"]
            value_cents += om["value_cents"] or 0
            n_purchases += om["n_purchases"]
            if om["max_event_id"] is not None:
                max_event_id = (
                    om["max_event_id"]
                    if max_event_id is None
                    else max(max_event_id, om["max_event_id"])
                )
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.numRecentProgressUpdates")
        else:
            spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", prev)
    return tiny_df(
        spark,
        [(n_events, value_cents, n_purchases, max_event_id)],
        "n_events BIGINT, value_cents BIGINT, n_purchases BIGINT, max_event_id BIGINT",
    )


@register(
    "incremental_join_merge",
    # oracle = the full recompute over base+delta on both sides; the
    # engine's four-leg delta-join merge must land on exactly this
    """
SELECT o.o_custkey,
       CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS revenue_cents,
       COUNT(*) AS n_items
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_custkey
ORDER BY o.o_custkey
""",
)
def incremental_join_merge_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN materialized view by the
    delta rule: with base snapshots A, B and deltas dA, dB,
    new_view = agg(A join B) ++ agg(dA join B) ++ agg(A join dB)
    ++ agg(dA join dB) — the join twin of incremental_agg_merge (which
    maintains a grouped aggregate). Splits: orders before/after
    1997-01-01 (the CDC arrival), lineitem by ship date — all four
    legs are non-empty, so the merge is exercised for real.

    Plan shape at 100 TB: the stored view is read, not recomputed (here
    the A-join-B leg stands in for it); each delta leg joins a SMALL
    delta side — broadcast — against the big snapshot, so maintenance
    cost is O(|delta| + view size), never a re-join of the snapshots;
    the final merge is a partial-agg union keyed like the view. Exact
    integer cents throughout."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    cutoff = "1997-01-01"
    a = orders.filter(F.col("o_orderdate") < cutoff)
    da = orders.filter(F.col("o_orderdate") >= cutoff)
    b = lineitem.filter(F.col("l_shipdate") < cutoff)
    db = lineitem.filter(F.col("l_shipdate") >= cutoff)
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")

    def leg(o, li):
        # delta sides are broadcast-able in a REAL CDC setting; the
        # synthetic split is ~half/half, so the hint is left to AQE
        # (which broadcasts when the delta actually is small)
        return (
            o.join(li, o.o_orderkey == li.l_orderkey)
            .groupBy("o_custkey")
            .agg(F.sum(cents).alias("revenue_cents"), F.count("*").alias("n_items"))
        )

    legs = [leg(a, b), leg(da, b), leg(a, db), leg(da, db)]
    merged = legs[0]
    for d in legs[1:]:
        merged = merged.unionByName(d)
    return (
        merged.groupBy("o_custkey")
        .agg(
            F.sum("revenue_cents").alias("revenue_cents"),
            F.sum("n_items").alias("n_items"),
        )
        .orderBy("o_custkey")
    )


@register(
    "temporal_reachability",
    # 3 unrolled earliest-arrival rounds; the time-respecting
    # constraint is the join residual t >= arrival
    """
WITH edges AS (
  SELECT user_id AS src, event_id % 500 AS dst,
         CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS t
  FROM events
), a0 AS (
  SELECT MIN(user_id) AS node, CAST(0 AS BIGINT) AS arrival FROM events
), a1 AS (
  SELECT node, MIN(arrival) AS arrival FROM (
    SELECT * FROM a0
    UNION ALL
    SELECT e.dst, e.t FROM a0 a JOIN edges e ON e.src = a.node AND e.t >= a.arrival
  ) GROUP BY node
), a2 AS (
  SELECT node, MIN(arrival) AS arrival FROM (
    SELECT * FROM a1
    UNION ALL
    SELECT e.dst, e.t FROM a1 a JOIN edges e ON e.src = a.node AND e.t >= a.arrival
  ) GROUP BY node
), a3 AS (
  SELECT node, MIN(arrival) AS arrival FROM (
    SELECT * FROM a2
    UNION ALL
    SELECT e.dst, e.t FROM a2 a JOIN edges e ON e.src = a.node AND e.t >= a.arrival
  ) GROUP BY node
)
SELECT node, arrival FROM a3 ORDER BY node
""",
)
def temporal_reachability_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.temporal_reachability(load_events(spark, sf_dir))


@register(
    "sequence_motifs",
    """
WITH seq AS (
  SELECT user_id, event_type AS e0,
         LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e1,
         LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2
  FROM events
)
SELECT e0 || '->' || e1 || '->' || e2 AS motif,
       COUNT(*) AS n,
       COUNT(DISTINCT user_id) AS n_users
FROM seq WHERE e2 IS NOT NULL
GROUP BY e0, e1, e2
HAVING COUNT(*) >= 5
ORDER BY n DESC, motif
""",
)
def sequence_motifs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.sequence_motifs(load_events(spark, sf_dir))


@register(
    "dataset_card",
    # flagship #4: the per-source datasheet — token/char mass, lang
    # mix, corpus-wide dup exposure, planted-PII incidence
    f"""
WITH per_doc AS (
  SELECT doc_id, source, lang,
         CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
         CAST(length(text) AS BIGINT) AS n_chars,
         md5({_NORM}) AS fp,
         CASE WHEN doc_id % 7 = 0 THEN
           CASE WHEN regexp_matches(
                  text || ' contact user' || doc_id || '@example.com or 555-'
                       || lpad((doc_id % 10000)::VARCHAR, 4, '0'),
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')
                OR regexp_matches(
                  text || ' contact user' || doc_id || '@example.com or 555-'
                       || lpad((doc_id % 10000)::VARCHAR, 4, '0'),
                  '\\b555-[0-9]{{4}}\\b')
           THEN 1 ELSE 0 END
         ELSE
           CASE WHEN regexp_matches(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')
                OR regexp_matches(text, '\\b555-[0-9]{{4}}\\b')
           THEN 1 ELSE 0 END
         END AS pii
  FROM documents
), census AS (
  SELECT fp, COUNT(*) AS fp_n FROM per_doc GROUP BY fp
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       COUNT(CASE WHEN lang = 'en' THEN 1 END) AS n_en,
       COUNT(CASE WHEN fp_n > 1 THEN 1 END) AS n_dup_docs,
       CAST(SUM(pii) AS BIGINT) AS n_pii_docs,
       FLOOR(CAST(SUM(n_tokens) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) * 1e6 + 0.5) / 1e6
         AS mean_doc_tokens
FROM per_doc JOIN census USING (fp)
GROUP BY source ORDER BY source
""",
)
def dataset_card_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.dataset_card(load_table(spark, sf_dir, "documents"))


@register(
    "cohort_retention",
    """
WITH d0 AS (SELECT CAST(MIN(ts) AS DATE) AS d0 FROM events),
act AS (
  SELECT DISTINCT user_id,
         datediff('day', d0.d0, CAST(ts AS DATE)) // 7 AS week
  FROM events, d0
), coh AS (
  SELECT user_id, MIN(week) AS cohort_week FROM act GROUP BY user_id
), sizes AS (
  SELECT cohort_week, COUNT(*) AS cohort_size FROM coh GROUP BY cohort_week
), cells AS (
  SELECT c.cohort_week, a.week - c.cohort_week AS week_offset,
         COUNT(DISTINCT a.user_id) AS n_active
  FROM act a JOIN coh c USING (user_id)
  WHERE a.week - c.cohort_week <= 8
  GROUP BY 1, 2
)
SELECT cohort_week, week_offset, n_active, cohort_size,
       FLOOR(CAST(n_active AS DOUBLE) / CAST(cohort_size AS DOUBLE) * 1e6 + 0.5) / 1e6
         AS retention
FROM cells JOIN sizes USING (cohort_week)
ORDER BY cohort_week, week_offset
""",
)
def cohort_retention_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.cohort_retention(load_events(spark, sf_dir))


@register(
    "forecast_backtest",
    """
WITH days AS (
  SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS x
  FROM events GROUP BY 1, 2
), paired AS (
  SELECT event_type, x,
         LAG(x, 7) OVER (PARTITION BY event_type ORDER BY d) AS pred
  FROM days
)
SELECT event_type, COUNT(*) AS n_days,
       CAST(SUM(ABS(x - pred)) AS BIGINT) AS abs_err_sum,
       FLOOR(CAST(SUM(CAST(FLOOR(CAST(ABS(x - pred) AS DOUBLE) / CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) + 0.5) / 1e6 AS mape
FROM paired WHERE pred IS NOT NULL AND x > 0
GROUP BY event_type ORDER BY event_type
""",
)
def forecast_backtest_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.forecast_backtest(load_events(spark, sf_dir))


@register(
    "ab_test_report",
    """
WITH pu AS (
  SELECT user_id, user_id % 2 AS variant,
         MAX(CASE WHEN event_type = 'purchase' AND value > 150 THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY 1, 2
), st AS (
  SELECT variant, COUNT(*) AS n, CAST(SUM(converted) AS BIGINT) AS k
  FROM pu GROUP BY variant
), j AS (
  SELECT a.n AS n0, a.k AS k0, b.n AS n1, b.k AS k1
  FROM st a, st b WHERE a.variant = 0 AND b.variant = 1
), zc AS (
  SELECT n0, k0, n1, k1,
         FLOOR(CAST(k0 AS DOUBLE) / CAST(n0 AS DOUBLE) * 1e6 + 0.5) / 1e6 AS p0,
         FLOOR(CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE) * 1e6 + 0.5) / 1e6 AS p1,
         FLOOR((CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                - CAST(k0 AS DOUBLE) / CAST(n0 AS DOUBLE))
               / SQRT(CAST(k0 + k1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)
                      * (1.0 - CAST(k0 + k1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
                      * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE)))
               * 1e6 + 0.5) / 1e6 AS z
  FROM j
)
SELECT n0, k0, n1, k1, p0, p1, z, ABS(z) > 1.96 AS significant FROM zc
""",
)
def ab_test_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.ab_test_report(load_events(spark, sf_dir))


@register(
    "pseudonymize_consistent",
    """
WITH ev AS (
  SELECT user_id AS uid,
         substr(md5('pseu:' || user_id), 1, 15) AS utok
  FROM events
), cust AS (
  SELECT o_custkey AS uid,
         substr(md5('pseu:' || o_custkey), 1, 15) AS utok
  FROM orders
), rawj AS (
  SELECT COUNT(*) AS raw_join_keys FROM
    (SELECT DISTINCT uid FROM ev) a JOIN (SELECT DISTINCT uid FROM cust) b USING (uid)
), tokj AS (
  SELECT COUNT(*) AS tok_join_keys FROM
    (SELECT DISTINCT utok FROM ev) a JOIN (SELECT DISTINCT utok FROM cust) b USING (utok)
), card AS (
  SELECT COUNT(DISTINCT uid) AS n_users, COUNT(DISTINCT utok) AS n_tokens FROM ev
)
SELECT n_users, n_tokens, raw_join_keys, tok_join_keys,
       n_users = n_tokens AS collision_free,
       raw_join_keys = tok_join_keys AS join_preserving
FROM card, rawj, tokj
""",
)
def pseudonymize_consistent_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.pseudonymize_consistent(
        load_events(spark, sf_dir), load_table(spark, sf_dir, "orders")
    )


@register(
    "streaming_ab_counts",
    # the A/B guardrail maintained ON the stream: per-variant distinct
    # users and distinct converters via watermark-free dropDuplicates
    # state + a counts-only complete-mode aggregate; drained == batch
    """
WITH tagged AS (
  SELECT DISTINCT user_id, user_id % 2 AS variant, 'all' AS tag FROM events
  UNION
  SELECT DISTINCT user_id, user_id % 2 AS variant, 'conv' AS tag
  FROM events WHERE event_type = 'purchase' AND value > 150
)
SELECT variant, tag, COUNT(*) AS n
FROM tagged GROUP BY variant, tag ORDER BY variant, tag
""",
)
def streaming_ab_counts_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import jobs

    stream = jobs.stream_events(spark, sf_dir)
    all_tag = stream.select(
        "user_id", (F.col("user_id") % 2).alias("variant"), F.lit("all").alias("tag")
    )
    conv_tag = (
        stream.filter((F.col("event_type") == "purchase") & (F.col("value") > 150))
        .select(
            "user_id",
            (F.col("user_id") % 2).alias("variant"),
            F.lit("conv").alias("tag"),
        )
    )
    counts = (
        all_tag.unionByName(conv_tag)
        .dropDuplicates(["user_id", "tag"])
        .groupBy("variant", "tag")
        .agg(F.count("*").alias("n"))
    )
    return jobs.run_available_now(counts, "streaming_ab_counts")


@register(
    "source_ablation_report",
    # BRUTE-FORCE oracle on purpose: each source's rest-statistics are
    # recomputed from scratch per source, proving the engine's
    # aggregate-algebra shortcut (including the dup-group dissolution
    # correction) exact
    f"""
WITH per_doc AS (
  SELECT source,
         CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
         md5({_NORM}) AS fp
  FROM documents
), srcs AS (SELECT DISTINCT source FROM per_doc),
g AS (SELECT COUNT(*) AS g_docs, SUM(n_tokens) AS g_tokens FROM per_doc)
SELECT s.source,
       x.n_docs_rest,
       FLOOR(CAST(x.tok_rest AS DOUBLE) / CAST(x.n_docs_rest AS DOUBLE) * 1e6 + 0.5) / 1e6
         AS mean_tokens_rest,
       FLOOR((CAST(x.tok_rest AS DOUBLE) / CAST(x.n_docs_rest AS DOUBLE)
              - CAST(g.g_tokens AS DOUBLE) / CAST(g.g_docs AS DOUBLE)) * 1e6 + 0.5) / 1e6
         AS delta_mean_tokens,
       d.dup_docs_rest
FROM srcs s
CROSS JOIN g
CROSS JOIN LATERAL (
  SELECT COUNT(*) AS n_docs_rest, CAST(SUM(n_tokens) AS BIGINT) AS tok_rest
  FROM per_doc p WHERE p.source <> s.source
) x
CROSS JOIN LATERAL (
  SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS dup_docs_rest FROM (
    SELECT fp, COUNT(*) AS c FROM per_doc p WHERE p.source <> s.source GROUP BY fp
  ) WHERE c >= 2
) d
ORDER BY s.source
""",
)
def source_ablation_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.source_ablation_report(load_table(spark, sf_dir, "documents"))


@register(
    "training_matrix_pit",
    """
WITH feat AS (
  SELECT event_id, user_id, event_type,
         COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior_clicks,
         COALESCE(SUM(CASE WHEN event_type = 'view' THEN 1 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior_views,
         COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior_purchases,
         COALESCE(SUM(CASE WHEN event_type = 'purchase'
                           THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT) END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior_purchase_cents,
         COALESCE(COUNT(*)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior_events
  FROM events
)
SELECT event_id, user_id,
       CAST(prior_clicks AS BIGINT) AS prior_clicks,
       CAST(prior_views AS BIGINT) AS prior_views,
       CAST(prior_purchases AS BIGINT) AS prior_purchases,
       CAST(prior_purchase_cents AS BIGINT) AS prior_purchase_cents,
       CAST(prior_events AS BIGINT) AS prior_events
FROM feat
WHERE event_type = 'purchase' AND event_id % 97 = 0
ORDER BY event_id
""",
)
def training_matrix_pit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.training_matrix_pit(load_events(spark, sf_dir))


@register(
    "target_encode_loo",
    """
WITH base AS (
  SELECT l_orderkey, l_linenumber, l_returnflag AS cat,
         CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
  FROM lineitem
), agg AS (
  SELECT cat, CAST(SUM(y) AS BIGINT) AS s, COUNT(*) AS n FROM base GROUP BY cat
)
SELECT l_orderkey, l_linenumber, cat, y,
       FLOOR(CAST(s - y AS DOUBLE) / CAST(n - 1 AS DOUBLE) / 100.0 * 1e6 + 0.5) / 1e6
         AS loo_mean
FROM base JOIN agg USING (cat)
WHERE l_orderkey % 199 = 0
ORDER BY l_orderkey, l_linenumber
""",
)
def target_encode_loo_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.target_encode_loo(load_table(spark, sf_dir, "lineitem"))


@register(
    "multimodal_video_decode",
    # formula-derived y4m clips: the oracle recomputes decoded header
    # dims, frame counts and exact luma-plane sums from the same
    # integer formulas the builder used
    """
WITH dims AS (
  SELECT doc_id,
         4 + 2 * (doc_id % 3) AS w,
         4 + 2 * (doc_id % 2) AS h,
         3 + doc_id % 4 AS nf
  FROM documents
), fj AS (
  SELECT doc_id, w, h, nf, f.f, j.j
  FROM dims
  CROSS JOIN LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS f) f
  CROSS JOIN LATERAL (SELECT unnest(generate_series(0, w * h - 1)) AS j) j
)
SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(nf AS INT) AS n_frames,
       CAST(SUM((doc_id * 11 + f * 17 + j * 5) % 256) AS BIGINT) AS luma_sum,
       CAST(SUM(CASE WHEN f % 2 = 0 THEN (doc_id * 11 + f * 17 + j * 5) % 256 ELSE 0 END) AS BIGINT)
         AS sampled_luma_sum
FROM fj GROUP BY doc_id, w, h, nf ORDER BY doc_id
""",
)
def multimodal_video_decode_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.synthetic_y4m_media(docs)
    return multimodal.video_decode_features(media).orderBy("doc_id")


@register(
    "source_python_stream",
    # the STREAMING Python DataSource must drain to exactly the batch
    # reader's parse: same shard files, same KPL deagg, same JSON parse
    """
SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
FROM events
""",
)
def source_python_stream_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-4 Python DataSource STREAMING reader: per-shard record
    counts are the offsets (the sequence-number checkpoint analogue),
    micro-batch partitions cover [committed, latest) per shard and read
    on executors, and an AvailableNow drain through KPL deagg + JSON
    parse must equal the batch reader bit for bit — completing the
    custom-source surface: batch reader, paged wire writer, streaming
    reader."""
    from ..operators.ingest import deagg_explode, json_parse
    from ..streaming import jobs

    shard_dir = _ensure_pyds_fixture(spark, sf_dir)
    stream = (
        spark.readStream.format("kinesis_backfill")
        .option("path", shard_dir)
        .load()
    )
    parsed = json_parse(deagg_explode(stream), schema="event_id BIGINT, k BIGINT")
    return jobs.run_available_now(
        parsed.select("event_id", "k"), "source_python_stream"
    )


@register(
    "join_dynamic_partition_pruning",
    # oracle = the plain join semantics; the ENGINE side must produce
    # this via a partitioned scan whose partitions are pruned at
    # RUNTIME by the dimension filter (dynamicpruning subquery —
    # pytest asserts the plan)
    """
WITH dim(event_type, category) AS (
  VALUES ('click','A'),('purchase','A'),('view','B'),('signup','B'),('error','B')
)
SELECT e.event_type, COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
FROM events e JOIN dim d ON d.event_type = e.event_type
WHERE d.category = 'A'
GROUP BY e.event_type ORDER BY e.event_type
""",
)
def join_dynamic_partition_pruning_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact side is STORED partitioned
    by event_type; the dimension filter (category = 'A') is only known
    at runtime, and Catalyst injects a dynamicpruning subquery into the
    fact scan's partition filters — at 100 TB this is the difference
    between scanning 2/5 of the table and all of it, with zero change
    to the query text. The static-pruning twin lives in
    tests/test_partition_pruning.py; this is the join-driven form."""
    from ..sources.raw import source_fingerprint

    part_dir = scratch(
        f"ksr_dpp/{sf_dir.strip('/').replace('/', '_')}"
        f"_{source_fingerprint(sf_dir)}"
    )
    if not os.path.isdir(part_dir):
        load_events(spark, sf_dir).write.partitionBy("event_type").mode(
            "overwrite"
        ).parquet(part_dir)
    fact = spark.read.parquet(part_dir)
    dim = tiny_df(
        spark,
        [
            ("click", "A"),
            ("purchase", "A"),
            ("view", "B"),
            ("signup", "B"),
            ("error", "B"),
        ],
        "event_type string, category string",
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    return (
        fact.join(F.broadcast(dim), "event_type")
        .filter(F.col("category") == "A")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum(cents).alias("value_cents"))
        .orderBy("event_type")
    )


@register(
    "join_runtime_bloom_filter",
    # oracle = the plain join; the engine must produce it through
    # Spark's runtime bloom-filter join rewrite (might_contain gate on
    # the probe side — the automatic form of bloom_semi_filter's
    # manual build; pytest asserts the plan)
    """
SELECT o.o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_totalprice > 350000
GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
""",
)
def join_runtime_bloom_filter_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join rewrite: the selective dimension
    filter (o_totalprice > 350000) is turned into a bloom filter built
    on the creation side and pushed into the fact scan as a
    might_contain gate — rows that cannot join are dropped BEFORE the
    shuffle. At 100 TB this is the shuffle-volume win of
    bloom_semi_filter with zero hand-written code. Local thresholds
    are lowered (and restored) so the rewrite fires at fixture scale;
    a real cluster's defaults fire on real sizes."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 350000
    )
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        joined = (
            li.join(orders.hint("merge"), li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"), F.sum(cents).alias("revenue_cents"))
            .orderBy("o_orderpriority")
        )
        # materialize the plan (and the result the driver will hash)
        # under the lowered thresholds
        joined = joined.localCheckpoint()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    return joined


@register(
    "funnel_negative",
    # purchases NOT click-attributed within the hour — the CEP
    # negation pattern (A not-preceded-by B within T), same
    # union + running-last machinery as the as-of joins
    """
WITH tagged AS (
  SELECT user_id, ts, 1 AS is_click, CAST(NULL AS TIMESTAMP) AS pts
  FROM events WHERE event_type = 'click'
  UNION ALL
  SELECT user_id, ts, 0 AS is_click, ts AS pts
  FROM events WHERE event_type = 'purchase'
), lastc AS (
  SELECT user_id, ts, is_click, pts,
         MAX(CASE WHEN is_click = 1 THEN ts END)
           OVER (PARTITION BY user_id ORDER BY ts, is_click DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click
  FROM tagged
)
SELECT strftime(CAST(pts AS DATE), '%Y-%m-%d') AS day,
       COUNT(*) AS n_purchases,
       COUNT(CASE WHEN last_click IS NOT NULL
                   AND last_click >= pts - INTERVAL 1 HOUR THEN 1 END) AS n_attributed,
       COUNT(CASE WHEN last_click IS NULL
                   OR last_click < pts - INTERVAL 1 HOUR THEN 1 END) AS n_organic
FROM lastc WHERE is_click = 0
GROUP BY 1 ORDER BY 1
""",
)
def funnel_negative_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-condition funnel (CEP negation): purchases NOT preceded
    by a click within one hour — the complement every attribution
    report needs, via the same one-shuffle union + running-last window
    primitive as join_asof (clicks sort before same-instant
    purchases). No theta join, no per-purchase probe."""
    events = load_events(spark, sf_dir)
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.lit(1).alias("is_click"),
        F.lit(None).cast("timestamp").alias("pts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(0).alias("is_click"), F.col("ts").alias("pts")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("is_click").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    lastc = clicks.unionByName(purchases).withColumn(
        "last_click",
        F.max(F.when(F.col("is_click") == 1, F.col("ts"))).over(w),
    )
    attributed = F.col("last_click").isNotNull() & (
        F.col("last_click") >= F.col("pts") - F.expr("INTERVAL 1 HOUR")
    )
    return (
        lastc.filter(F.col("is_click") == 0)
        .groupBy(F.date_format(F.to_date("pts"), "yyyy-MM-dd").alias("day"))
        .agg(
            F.count("*").alias("n_purchases"),
            F.count(F.when(attributed, 1)).alias("n_attributed"),
            F.count(F.when(~attributed, 1)).alias("n_organic"),
        )
        .orderBy("day")
    )


@register(
    "gdpr_erasure_audit",
    """
WITH req(user_id) AS (
  SELECT DISTINCT user_id FROM events WHERE user_id % 97 = 0
), ev AS (
  SELECT COUNT(*) AS ev_before,
         COUNT(CASE WHEN user_id % 97 <> 0 THEN 1 END) AS ev_after
  FROM events
), ords AS (
  SELECT COUNT(*) AS ord_before,
         COUNT(CASE WHEN o.o_custkey NOT IN (SELECT user_id FROM req) THEN 1 END) AS ord_after
  FROM orders o
), leftover AS (
  SELECT COUNT(*) AS remaining_refs FROM (
    SELECT user_id FROM events WHERE user_id % 97 <> 0
  ) e JOIN req USING (user_id)
)
SELECT (SELECT COUNT(*) FROM req) AS n_requests,
       ev_before, ev_after, ord_before, ord_after, remaining_refs
FROM ev, ords, leftover
""",
)
def gdpr_erasure_audit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure job + verification pass: given a deterministic
    request list (user_id % 97 = 0), apply the anti-join erase to every
    table referencing the subject key and AUDIT it — per-table before/
    after counts plus a must-be-zero remaining-references probe (the
    erased relation re-joined against the request list). The erase is
    a broadcast anti join per table; the audit adds counts-only
    aggregates. The governance family's write path next to
    pseudonymize_consistent's read path."""
    events = load_events(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    req = events.filter(F.col("user_id") % 97 == 0).select("user_id").distinct()
    ev_after_df = events.join(F.broadcast(req), "user_id", "left_anti")
    ord_after_df = orders.join(
        F.broadcast(req.select(F.col("user_id").alias("o_custkey"))),
        "o_custkey",
        "left_anti",
    )
    n_req = req.agg(F.count("*").alias("n_requests"))
    ev_counts = events.agg(F.count("*").alias("ev_before")).join(
        ev_after_df.agg(F.count("*").alias("ev_after"))
    )
    ord_counts = orders.agg(F.count("*").alias("ord_before")).join(
        ord_after_df.agg(F.count("*").alias("ord_after"))
    )
    leftover = ev_after_df.join(F.broadcast(req), "user_id").agg(
        F.count("*").alias("remaining_refs")
    )
    return (
        n_req.join(ev_counts).join(ord_counts).join(leftover)
    )


@register(
    "pipeline_from_spec",
    # the DSL compiles to ONE Catalyst plan; the oracle is the same
    # logic as plain SQL
    """
SELECT c.c_mktsegment, o.o_orderpriority,
       COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_totalprice > 100000
GROUP BY 1, 2
ORDER BY n DESC, c_mktsegment, o_orderpriority
LIMIT 20
""",
)
def pipeline_from_spec_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.pipeline import pipeline_from_spec

    tables = {
        "orders": load_table(spark, sf_dir, "orders"),
        "customer": load_table(spark, sf_dir, "customer"),
    }
    spec = {
        "source": "orders",
        "steps": [
            {"op": "filter", "expr": "o_totalprice > 100000"},
            {
                "op": "join",
                "table": "customer",
                "on": "o_custkey = c_custkey",
                "how": "inner",
                "broadcast": True,
            },
            {
                "op": "with_column",
                "name": "cents",
                "expr": "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)",
            },
            {
                "op": "group_agg",
                "keys": ["c_mktsegment", "o_orderpriority"],
                "aggs": [
                    {"fn": "count", "col": "*", "alias": "n"},
                    {"fn": "sum", "col": "cents", "alias": "total_cents"},
                ],
            },
            {"op": "order_by", "columns": ["n desc", "c_mktsegment", "o_orderpriority"]},
            {"op": "limit", "n": 20},
        ],
    }
    return pipeline_from_spec(spark, tables, spec)


@register(
    "surrogate_keys_dense",
    # dense global numbering WITHOUT a single-partition global sort:
    # value-derived buckets -> per-bucket counts -> tiny running-offset
    # window -> per-bucket parallel row_number + offset. Oracle = the
    # naive global row_number.
    """
SELECT event_id, sk FROM (
  SELECT event_id, ROW_NUMBER() OVER (ORDER BY event_id) AS sk FROM events
) WHERE event_id % 211 = 0
ORDER BY event_id
""",
)
def surrogate_keys_dense_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense surrogate-key assignment at scale: a global row_number
    needs a single-partition sort (the driver-melting plan); instead,
    value-derived buckets (event_id DIV 10000) give a deterministic
    coarse order, per-bucket counts feed a RUNNING OFFSET over the
    tiny bucket relation, and each bucket numbers its rows in
    PARALLEL (row_number partitioned by bucket) shifted by its offset.
    Two passes, no global sort, bit-identical to the naive form —
    which is the oracle. Output gated to a 1-in-211 sample; the keys
    reflect the full numbering."""
    events = load_events(spark, sf_dir)
    b = (F.col("event_id") / 10000).cast("long").alias("bucket")
    bucketed = events.select("event_id", b)
    counts = bucketed.groupBy("bucket").agg(F.count("*").alias("n"))
    woff = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.withColumn(
        "offset", F.coalesce(F.sum("n").over(woff), F.lit(0))
    )
    wlocal = Window.partitionBy("bucket").orderBy("event_id")
    return (
        bucketed.join(F.broadcast(offsets.select("bucket", "offset")), "bucket")
        .withColumn("sk", F.row_number().over(wlocal) + F.col("offset"))
        .filter(F.col("event_id") % 211 == 0)
        .select("event_id", "sk")
        .orderBy("event_id")
    )


@register(
    "backfill_stale_partitions",
    # oracle = the full day-partitioned aggregate; the engine must
    # reach it by recomputing ONLY the partitions whose checksums
    # diverge from a tampered snapshot
    """
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
       COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
GROUP BY 1 ORDER BY 1
""",
)
def backfill_stale_partitions_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent partial backfill: a prior snapshot of the
    day-partitioned aggregate has stale days (simulated
    deterministically: every 7th day's counts halved); per-day
    checksums of the CURRENT source vs the snapshot identify exactly
    the stale days, and ONLY those recompute — the orchestration
    pattern that turns a full nightly rebuild into an O(changed days)
    touch-up. The merged result must equal the full recompute (the
    oracle). The checksum diff is table_checksum's per-partition
    application."""
    events = load_events(spark, sf_dir)
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    fresh = events.groupBy(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
    ).agg(F.count("*").alias("n"), F.sum(cents).alias("value_cents"))
    # the "previous run": every 7th day is stale (halved counts)
    snapshot = fresh.withColumn(
        "stale", F.dayofmonth(F.to_date("day")) % 7 == 0
    ).select(
        "day",
        F.when(F.col("stale"), (F.col("n") / 2).cast("long"))
        .otherwise(F.col("n"))
        .alias("n"),
        F.when(F.col("stale"), (F.col("value_cents") / 2).cast("long"))
        .otherwise(F.col("value_cents"))
        .alias("value_cents"),
    )
    # checksum diff: which days disagree?
    chk = lambda df: df.select(  # noqa: E731
        "day",
        F.md5(
            F.concat_ws(":", F.col("n").cast("string"), F.col("value_cents"))
        ).alias("chk"),
    )
    stale_days = (
        chk(snapshot)
        .alias("s")
        .join(chk(fresh).alias("f"), "day")
        .filter(F.col("s.chk") != F.col("f.chk"))
        .select("day")
    )
    # recompute ONLY stale days from source, keep the rest from snapshot
    recomputed = fresh.join(F.broadcast(stale_days), "day", "left_semi")
    kept = snapshot.join(F.broadcast(stale_days), "day", "left_anti")
    return kept.unionByName(recomputed).orderBy("day")


@register(
    "nested_orders_roundtrip",
    # oracle = the flat join aggregate; the engine must reach it by
    # BUILDING the nested order document (array<struct> of items) and
    # analyzing it with higher-order functions — the document-model
    # round trip a lakehouse runs daily
    """
SELECT o.o_orderkey,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents,
       CAST(MAX(l.l_quantity) AS DOUBLE) AS max_qty
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderkey % 97 = 0
GROUP BY o.o_orderkey ORDER BY o.o_orderkey
""",
)
def nested_orders_roundtrip_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-model round trip: lineitems COLLECT into an
    array<struct> per order (the nested write shape an event-sourcing
    or API-export job produces), then the analytics run WITHOUT
    re-exploding — size(), aggregate() and a transform/array_max fold
    over the nested column, all codegen. One shuffle to build the
    document; zero to analyze it. The oracle is the flat join — the
    comparison proves the nested pipeline loses nothing."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 97 == 0
    )
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    nested = (
        li.join(F.broadcast(orders.select("o_orderkey")), li.l_orderkey == orders.o_orderkey)
        .select(
            "o_orderkey",
            F.struct(
                cents.alias("cents"), F.col("l_quantity").alias("qty")
            ).alias("item"),
        )
        .groupBy("o_orderkey")
        .agg(F.collect_list("item").alias("items"))
    )
    return nested.select(
        "o_orderkey",
        F.size("items").cast("long").alias("n_items"),
        F.aggregate(
            F.col("items"),
            F.lit(0).cast("long"),
            lambda acc, it: acc + it["cents"],
        ).alias("total_cents"),
        F.array_max(
            F.transform(F.col("items"), lambda it: it["qty"])
        ).cast("double").alias("max_qty"),
    ).orderBy("o_orderkey")


@register(
    "late_arrival_histogram",
    # lateness = how far behind the running event-time high-watermark
    # each record arrives (arrival order = event_id); the histogram is
    # the evidence a watermark delay is chosen FROM, not guessed
    """
WITH arr AS (
  -- the fixture is time-sorted, so arrival order is a deterministic
  -- md5 permutation of event_id (simulated network reordering)
  SELECT event_id, ts,
         MAX(ts) OVER (ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
  FROM events
), lat AS (
  SELECT CASE WHEN hwm IS NULL OR ts >= hwm THEN 0
              ELSE CAST(FLOOR(EPOCH(hwm)) AS BIGINT) - CAST(FLOOR(EPOCH(ts)) AS BIGINT)
         END AS late_s
  FROM arr
)
SELECT CAST(LEAST(late_s // 60, 10) AS BIGINT) AS late_minutes_bucket,
       COUNT(*) AS n
FROM lat GROUP BY 1 ORDER BY 1
""",
)
def late_arrival_histogram_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness audit: lateness of each record vs the running
    event-time high-watermark in ARRIVAL order (event_id), bucketed to
    minutes (capped at 10+) — the measurement that turns 'pick a
    watermark delay' from a guess into a percentile read-off. One
    window over arrival order; at 100 TB this runs per
    ingestion-partition, which is exactly how arrival order is defined
    there."""
    events = load_events(spark, sf_dir)
    # deterministic md5 arrival permutation: the fixture is time-sorted,
    # so lateness against raw event_id order would be identically zero
    w = Window.orderBy(
        F.md5(F.col("event_id").cast("string")), "event_id"
    ).rowsBetween(Window.unboundedPreceding, -1)
    hwm = F.max("ts").over(w)
    late_s = F.when(
        hwm.isNull() | (F.col("ts") >= hwm), F.lit(0).cast("long")
    ).otherwise(F.unix_timestamp(hwm) - F.unix_timestamp("ts"))
    return (
        events.select(late_s.alias("late_s"))
        .select(
            F.least(F.expr("late_s DIV 60"), F.lit(10).cast("long")).alias(
                "late_minutes_bucket"
            )
        )
        .groupBy("late_minutes_bucket")
        .agg(F.count("*").alias("n"))
        .orderBy("late_minutes_bucket")
    )


@register(
    "rolling_correlation",
    # 14-day trailing correlation between daily click counts and
    # purchase value; integer moments per frame, one fixed float
    # sequence, half-up 1e-6 (n-1 frames emit NULL-free zero rows
    # are filtered by n >= 2)
    """
WITH days AS (
  SELECT CAST(ts AS DATE) AS d,
         COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS x,
         CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                          THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT) END), 0) AS BIGINT) AS y
  FROM events GROUP BY 1
), m AS (
  SELECT d, x, y,
         COUNT(*) OVER w AS n,
         SUM(x) OVER w AS sx, SUM(y) OVER w AS sy,
         SUM(x * x) OVER w AS sxx, SUM(y * y) OVER w AS syy,
         SUM(x * y) OVER w AS sxy
  FROM days
  WINDOW w AS (ORDER BY d ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT strftime(d, '%Y-%m-%d') AS day, CAST(n AS BIGINT) AS n,
       FLOOR((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             * 1e6 + 0.5) / 1e6 AS corr
FROM m WHERE n >= 2
ORDER BY day
""",
)
def rolling_correlation_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window correlation between two derived daily series
    (click volume vs purchase value) — the co-movement diagnostic next
    to acf_daily (self-memory) and trend_lines (drift). All five
    moments come from ONE frame-bounded window pass over the
    day-census relation; the correlation is a fixed IEEE sequence over
    exact integers, so the full trajectory mirrors."""
    events = load_events(spark, sf_dir)
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    days = events.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("x"),
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "purchase", cents)), F.lit(0)
        ).alias("y"),
    )
    w = Window.orderBy("d").rowsBetween(-13, 0)
    m = days.select(
        "d",
        F.count("*").over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
    )
    num = F.col("n").cast("double") * F.col("sxy").cast("double") - F.col(
        "sx"
    ).cast("double") * F.col("sy").cast("double")
    den = F.sqrt(
        (
            F.col("n").cast("double") * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")
        )
        * (
            F.col("n").cast("double") * F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy").cast("double")
        )
    )
    return (
        m.filter(F.col("n") >= 2)
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "n",
            (F.floor(num / den * 1e6 + F.lit(0.5)) / F.lit(1e6)).alias("corr"),
        )
        .orderBy("day")
    )


@register(
    "rfm_segments",
    # RFM: recency (days since last activity), frequency (events),
    # monetary (purchase cents) per user; quintile scores via NTILE
    # over deterministic total orders; output = segment census
    """
WITH ref AS (SELECT CAST(MAX(ts) AS DATE) AS d1 FROM events),
per_user AS (
  SELECT user_id,
         datediff('day', CAST(MAX(ts) AS DATE), ref.d1) AS recency_days,
         COUNT(*) AS frequency,
         CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                          THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT) END), 0) AS BIGINT) AS monetary
  FROM events, ref GROUP BY user_id, ref.d1
), scored AS (
  SELECT user_id,
         NTILE(5) OVER (ORDER BY recency_days, user_id) AS r_score,
         NTILE(5) OVER (ORDER BY frequency DESC, user_id) AS f_score,
         NTILE(5) OVER (ORDER BY monetary DESC, user_id) AS m_score
  FROM per_user
)
SELECT r_score, f_score, m_score, COUNT(*) AS n_users
FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
""",
)
def rfm_segments_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary quintiles) —
    THE marketing-analytics workhorse. Per-user features are one
    partial-agg pass; quintile scores are NTILE windows over
    deterministic total orders (ties on user_id); the output is the
    125-cell segment census, never the user list. At 100 TB the exact
    NTILE over users is the one global sort — the documented
    alternative is feature_quantile_bins' sketch edges, same trade as
    there."""
    events = load_events(spark, sf_dir)
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    ref = events.agg(F.to_date(F.max("ts")).alias("d1"))
    per_user = (
        events.join(F.broadcast(ref))
        .groupBy("user_id", "d1")
        .agg(
            F.max(F.to_date("ts")).alias("last_d"),
            F.count("*").alias("frequency"),
            F.coalesce(
                F.sum(F.when(F.col("event_type") == "purchase", cents)), F.lit(0)
            ).alias("monetary"),
        )
        .select(
            "user_id",
            F.datediff("d1", "last_d").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    scored = per_user.select(
        F.ntile(5).over(Window.orderBy("recency_days", "user_id")).alias("r_score"),
        F.ntile(5)
        .over(Window.orderBy(F.desc("frequency"), "user_id"))
        .alias("f_score"),
        F.ntile(5)
        .over(Window.orderBy(F.desc("monetary"), "user_id"))
        .alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(F.count("*").alias("n_users"))
        .orderBy("r_score", "f_score", "m_score")
    )


@register(
    "kcore_bounded",
    # 3 unrolled peel rounds of the k-core decomposition (k=6) over
    # the undirected interaction graph; exact integer degrees
    """
WITH edges0 AS (
  SELECT DISTINCT LEAST(user_id, event_id % 500) AS a,
         GREATEST(user_id, event_id % 500) AS b
  FROM events WHERE user_id <> event_id % 500
), d0 AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT a AS node FROM edges0 UNION ALL SELECT b AS node FROM edges0
  ) GROUP BY node
), keep0 AS (SELECT node FROM d0 WHERE deg >= 6),
edges1 AS (
  SELECT e.a, e.b FROM edges0 e
  JOIN keep0 ka ON ka.node = e.a
  JOIN keep0 kb ON kb.node = e.b
), d1 AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT a AS node FROM edges1 UNION ALL SELECT b AS node FROM edges1
  ) GROUP BY node
), keep1 AS (SELECT node FROM d1 WHERE deg >= 6),
edges2 AS (
  SELECT e.a, e.b FROM edges1 e
  JOIN keep1 ka ON ka.node = e.a
  JOIN keep1 kb ON kb.node = e.b
), d2 AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT a AS node FROM edges2 UNION ALL SELECT b AS node FROM edges2
  ) GROUP BY node
)
SELECT node, CAST(deg AS BIGINT) AS deg FROM d2 WHERE deg >= 6 ORDER BY node
""",
)
def kcore_bounded_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core decomposition (k=6, 3 peel rounds): repeatedly
    drop nodes with degree < k and recount — the community-density
    filter (dense-subgraph extraction) completing the graph family's
    STRUCTURAL side (triangles count local density; k-core extracts
    the dense backbone). Each round is a degree census + two semi
    joins, shuffles carry the edge relation only; rounds compose
    lazily like Bellman-Ford's."""
    events = load_events(spark, sf_dir)
    k = 6
    edges = (
        events.select(
            F.least(F.col("user_id"), F.col("event_id") % 500).alias("a"),
            F.greatest(F.col("user_id"), F.col("event_id") % 500).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    for _ in range(3):
        deg = (
            edges.select(F.col("a").alias("node"))
            .unionByName(edges.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= k).select("node")
        edges = (
            edges.join(keep.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("node", "b"), "b", "left_semi")
            .select("a", "b")
            # each round's plan references edges ~4x (degree union +
            # two semi joins): truncate lineage or round N recomputes
            # round N-1 exponentially (measured 26s -> ~8s at sf0.01).
            # Lazy (round 13): materialization rides the final action's
            # bottom-up checkpoint chain, one fewer scheduled job/round
            .localCheckpoint(eager=False)
        )
    final_deg = (
        edges.select(F.col("a").alias("node"))
        .unionByName(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
        .filter(F.col("deg") >= k)
    )
    return final_deg.orderBy("node")


@register(
    "token_budget_allocation",
    # greedy budget fill: sources ranked by retention quality, running
    # token totals decide full / partial / excluded; the partial
    # source's take is exact integer arithmetic
    """
WITH src AS (
  SELECT source,
         CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS n_tokens,
         COUNT(*) AS n_docs,
         CAST(COUNT(CASE WHEN length(text) >= 100 THEN 1 END) AS BIGINT) * 1000000
           // COUNT(*) AS quality_ppm
  FROM documents GROUP BY source
), budget AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) // 2 AS b FROM src
), ranked AS (
  SELECT src.*, budget.b,
         COALESCE(SUM(n_tokens) OVER (ORDER BY quality_ppm DESC, source
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior_tokens
  FROM src, budget
)
SELECT source, n_tokens, CAST(quality_ppm AS BIGINT) AS quality_ppm,
       CASE WHEN prior_tokens + n_tokens <= b THEN 'full'
            WHEN prior_tokens < b THEN 'partial'
            ELSE 'excluded' END AS allocation,
       CAST(CASE WHEN prior_tokens + n_tokens <= b THEN n_tokens
            WHEN prior_tokens < b THEN b - prior_tokens
            ELSE 0 END AS BIGINT) AS tokens_taken
FROM ranked ORDER BY quality_ppm DESC, source
""",
)
def token_budget_allocation_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget allocation: fill a 50%-of-corpus training budget
    greedily by source quality (retention rate at a length gate) —
    full sources until the budget line, one partial source at the
    boundary, the rest excluded. The planning step between
    source_mixture_weights (how to flatten) and apply_mixture_weights
    (how to sample): THIS decides who gets in. All exact integers;
    the running-total window runs over the sources relation (tiny
    at any corpus scale)."""
    docs = load_table(spark, sf_dir, "documents")
    from ..operators.text import tokens

    src = docs.groupBy("source").agg(
        F.sum(F.size(tokens(F.col("text")))).cast("long").alias("n_tokens"),
        F.count("*").alias("n_docs"),
        F.count(F.when(F.length("text") >= 100, 1)).alias("q_cnt"),
    ).select(
        "source",
        "n_tokens",
        "n_docs",
        # exact integer ppm — float division could truncate one off
        F.expr("q_cnt * 1000000 DIV n_docs").alias("quality_ppm"),
    )
    budget = src.agg(F.expr("SUM(n_tokens) DIV 2").alias("b"))
    w = Window.orderBy(F.desc("quality_ppm"), "source").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = src.join(F.broadcast(budget)).withColumn(
        "prior_tokens", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    alloc = (
        F.when(
            F.col("prior_tokens") + F.col("n_tokens") <= F.col("b"), F.lit("full")
        )
        .when(F.col("prior_tokens") < F.col("b"), F.lit("partial"))
        .otherwise(F.lit("excluded"))
    )
    taken = (
        F.when(
            F.col("prior_tokens") + F.col("n_tokens") <= F.col("b"),
            F.col("n_tokens"),
        )
        .when(
            F.col("prior_tokens") < F.col("b"),
            F.col("b") - F.col("prior_tokens"),
        )
        .otherwise(F.lit(0))
    )
    return ranked.select(
        "source",
        "n_tokens",
        "quality_ppm",
        alloc.alias("allocation"),
        taken.cast("long").alias("tokens_taken"),
    ).orderBy(F.desc("quality_ppm"), "source")


@register(
    "mutual_information",
    # MI between event_type and the value-decade bucket: per-cell
    # terms quantized at 1e-9 then exact-summed (the chi2 convention);
    # the ratio inside ln is a fixed overflow-proof float sequence
    """
WITH cells AS (
  SELECT event_type AS r, CAST(FLOOR(value / 20) AS BIGINT) AS c, COUNT(*) AS o
  FROM events GROUP BY 1, 2
), rm AS (SELECT r, SUM(o) AS rm FROM cells GROUP BY r),
cm AS (SELECT c, SUM(o) AS cm FROM cells GROUP BY c),
n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
per AS (
  SELECT cells.r, cells.c, cells.o,
         CAST(FLOOR(
           (CAST(cells.o AS DOUBLE) / CAST(n.n AS DOUBLE))
           * LN((CAST(cells.o AS DOUBLE) / CAST(n.n AS DOUBLE))
                / ((CAST(rm.rm AS DOUBLE) / CAST(n.n AS DOUBLE))
                   * (CAST(cm.cm AS DOUBLE) / CAST(n.n AS DOUBLE))))
           * 1e9 + 0.5) AS BIGINT) AS term_u
  FROM cells JOIN rm USING (r) JOIN cm USING (c) CROSS JOIN n
)
SELECT COUNT(*) AS n_cells,
       (SELECT n FROM n) AS n,
       SUM(term_u) / 1e9 AS mi_nats
FROM per
""",
)
def mutual_information_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event_type and the value bucket —
    the dependence MEASURE next to chi2_independence's significance
    TEST (feature selection ranks by MI; chi2 gates by p-value).
    Same 35-ish-cell contingency plan: one partial-agg shuffle, tiny
    marginal broadcasts, per-cell quantized terms exact-summed."""
    events = load_events(spark, sf_dir)
    cells = events.groupBy(
        F.col("event_type").alias("r"),
        F.floor(F.col("value") / 20).cast("long").alias("c"),
    ).agg(F.count("*").alias("o"))
    rm = cells.groupBy("r").agg(F.sum("o").alias("rm"))
    cm = cells.groupBy("c").agg(F.sum("o").alias("cm"))
    n = cells.agg(F.sum("o").alias("n"))
    p = F.col("o").cast("double") / F.col("n").cast("double")
    pr = F.col("rm").cast("double") / F.col("n").cast("double")
    pc = F.col("cm").cast("double") / F.col("n").cast("double")
    term = p * F.log(p / (pr * pc))
    per = (
        cells.join(F.broadcast(rm), "r")
        .join(F.broadcast(cm), "c")
        .join(F.broadcast(n))
        .select(
            F.floor(term * 1e9 + F.lit(0.5)).cast("long").alias("term_u"),
            "n",
        )
    )
    return per.agg(
        F.count("*").alias("n_cells"),
        F.max("n").alias("n"),
        (F.sum("term_u") / F.lit(1e9)).alias("mi_nats"),
    )


@register(
    "benford_audit",
    # first-significant-digit census of value cents vs the Benford
    # expectation log10(1 + 1/d); expected counts quantized from exact
    # integer n, deviation is an exact integer numerator
    """
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS d
  FROM events WHERE value >= 0.01
), n AS (SELECT COUNT(*) AS n FROM digits),
obs AS (SELECT d, COUNT(*) AS o FROM digits GROUP BY d)
SELECT obs.d, obs.o,
       FLOOR(LOG10(1.0 + 1.0 / CAST(obs.d AS DOUBLE)) * CAST(n.n AS DOUBLE) * 1e6 + 0.5) / 1e6
         AS expected,
       FLOOR((CAST(obs.o AS DOUBLE)
              - LOG10(1.0 + 1.0 / CAST(obs.d AS DOUBLE)) * CAST(n.n AS DOUBLE))
             * 1e6 + 0.5) / 1e6 AS deviation
FROM obs CROSS JOIN n
ORDER BY obs.d
""",
)
def benford_audit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of the value column — the
    fraud/synthetic-data forensic (natural multiplicative quantities
    follow P(d) = log10(1+1/d); fabricated ones usually don't). One
    map-side digit extraction + a 9-cell census; the expected counts
    derive from the same exact n on both engines."""
    events = load_events(spark, sf_dir)
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    digits = events.filter(F.col("value") >= 0.01).select(
        F.substring(cents.cast("string"), 1, 1).cast("long").alias("d")
    )
    n = digits.agg(F.count("*").alias("n"))
    obs = digits.groupBy("d").agg(F.count("*").alias("o"))
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("d").cast("double")) * F.col(
        "n"
    ).cast("double")
    q = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return (
        obs.join(F.broadcast(n))
        .select(
            "d",
            "o",
            q(expected).alias("expected"),
            q(F.col("o").cast("double") - expected).alias("deviation"),
        )
        .orderBy("d")
    )


@register(
    "sql_parameterized",
    # the named-parameter SQL API: values bind as literals AFTER
    # parsing — the injection-safe front door (the reference
    # concatenates query params into its filter logic; this is the
    # engine-grade replacement)
    """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
WHERE event_type IN ('click', 'purchase') AND value >= 25.0
GROUP BY event_type ORDER BY event_type
""",
)
def sql_parameterized_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (Spark 4 named-parameter binding): user values
    arrive as PARAMETERS, not string concatenation, so a hostile
    value can never change the query shape — the safe version of the
    reference's param-to-filter plumbing (queryTools/index.js builds
    predicates from raw query params). Identical Catalyst plan to the
    inlined literals, proven by the oracle."""
    load_events(spark, sf_dir).createOrReplaceTempView("ksr_events_param")
    return spark.sql(
        """
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 AS value_cents
        FROM ksr_events_param
        WHERE event_type IN (:type_a, :type_b) AND value >= :min_value
        GROUP BY event_type ORDER BY event_type
        """,
        args={"type_a": "click", "type_b": "purchase", "min_value": 25.0},
    )


@register(
    "window_session_dynamic",
    # dynamic-gap sessions: each event extends its session by a
    # PER-ROW gap (purchases hold the session open 1h, others 30min).
    # Session semantics: event windows [ts, ts+gap) merge while they
    # overlap — equivalently a new session starts when ts >= running
    # max of previous events' (ts+gap). Exact epoch-second integers.
    """
WITH ev AS (
  SELECT user_id, ts,
         CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS t,
         CASE WHEN event_type = 'purchase' THEN 3600 ELSE 1800 END AS gap_s
  FROM events
), marked AS (
  SELECT user_id, ts, t, gap_s,
         CASE WHEN MAX(t + gap_s) OVER (PARTITION BY user_id ORDER BY t, ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              OR t >= MAX(t + gap_s) OVER (PARTITION BY user_id ORDER BY t, ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         THEN 1 ELSE 0 END AS is_start
  FROM ev
), sess AS (
  SELECT user_id, t, gap_s,
         SUM(is_start) OVER (PARTITION BY user_id ORDER BY t, ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked
)
SELECT user_id, CAST(sid AS BIGINT) AS session_id, COUNT(*) AS n_events,
       MIN(t) AS start_s, MAX(t + gap_s) AS end_s
FROM sess GROUP BY user_id, sid
ORDER BY user_id, session_id
""",
)
def window_session_dynamic_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap sessionization: the session timeout depends on the
    EVENT (purchases keep a session alive for an hour, everything else
    30 minutes) — Spark's session_window accepts a gap COLUMN for
    exactly this; here the same merge semantics (event windows
    [ts, ts+gap) merge while overlapping) are expressed as
    gaps-and-islands so the oracle is exact: a session breaks when an
    event starts at-or-after the running max of previous events'
    window ends. One user-keyed shuffle shared by both window passes;
    integer epoch seconds end to end."""
    events = load_events(spark, sf_dir)
    ev = events.select(
        "user_id",
        "ts",
        F.unix_timestamp("ts").alias("t"),
        F.when(F.col("event_type") == "purchase", 3600)
        .otherwise(1800)
        .alias("gap_s"),
    )
    wprev = (
        Window.partitionBy("user_id")
        .orderBy("t", "ts")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_end = F.max(F.col("t") + F.col("gap_s")).over(wprev)
    marked = ev.withColumn(
        "is_start",
        F.when(prev_end.isNull() | (F.col("t") >= prev_end), 1).otherwise(0),
    )
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("t", "ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sess = marked.withColumn("sid", F.sum("is_start").over(wrun))
    return (
        sess.groupBy("user_id", F.col("sid").alias("session_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.min("t").alias("start_s"),
            F.max(F.col("t") + F.col("gap_s")).alias("end_s"),
        )
        .orderBy("user_id", "session_id")
    )


@register(
    "window_session_dynamic_builtin",
    # Spark's BUILT-IN session_window with a per-row gap COLUMN must
    # land on exactly the hand-rolled merge rule's sessions — an
    # executable equivalence proof of the engine's dynamic-gap
    # semantics
    """
WITH ev AS (
  SELECT user_id, ts,
         CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS t,
         CASE WHEN event_type = 'purchase' THEN 3600 ELSE 1800 END AS gap_s
  FROM events
), marked AS (
  SELECT user_id, ts, t, gap_s,
         CASE WHEN MAX(t + gap_s) OVER (PARTITION BY user_id ORDER BY t, ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              OR t >= MAX(t + gap_s) OVER (PARTITION BY user_id ORDER BY t, ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         THEN 1 ELSE 0 END AS is_start
  FROM ev
), sess AS (
  SELECT user_id, t, gap_s,
         SUM(is_start) OVER (PARTITION BY user_id ORDER BY t, ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked
)
SELECT user_id, MIN(t) AS start_s, MAX(t + gap_s) AS end_s, COUNT(*) AS n_events
FROM sess GROUP BY user_id, sid
ORDER BY user_id, start_s
""",
)
def window_session_dynamic_builtin_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BUILT-IN form of window_session_dynamic: session_window with
    a gap-duration COLUMN. The oracle is the hand-rolled merge rule —
    so this query is an executable proof that Spark's dynamic-gap
    session semantics equal 'event windows [ts, ts+gap) merge while
    overlapping'. The streaming deployment changes groupBy to a
    watermarked stream with the SAME expression (the
    streaming_sessionize_native pattern)."""
    events = load_events(spark, sf_dir)
    gap = F.when(F.col("event_type") == "purchase", F.lit("1 hour")).otherwise(
        F.lit("30 minutes")
    )
    # truncate to whole seconds so the merge arithmetic is exactly the
    # oracle's floored-epoch integers (sub-second fractions could flip
    # a merge decision at a window boundary)
    events = events.withColumn("ts", F.timestamp_seconds(F.unix_timestamp("ts")))
    return (
        events.groupBy("user_id", F.session_window("ts", gap))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp("session_window.start").alias("start_s"),
            F.unix_timestamp("session_window.end").alias("end_s"),
            "n_events",
        )
        .orderBy("user_id", "start_s")
    )


@register(
    "quality_model_contributions",
    # same md5 weights, same integer-ratio features, contributions
    # around the corpus-mean baseline (linear-SHAP identity)
    f"""
WITH f AS (
  SELECT doc_id,
         CAST(FLOOR(len({_TOKS})::DOUBLE / 100.0 * 1e9 + 0.5) AS BIGINT) AS f0,
         CAST(FLOOR(len(list_filter({_TOKS}, t -> t IN ('the', 'a', 'of', 'and')))::DOUBLE
           / (len({_TOKS})::DOUBLE + 1.0) * 1e9 + 0.5) AS BIGINT) AS f1,
         CAST(FLOOR(length(text)::DOUBLE / (len({_TOKS})::DOUBLE + 1.0) * 1e9 + 0.5) AS BIGINT) AS f2,
         CAST(FLOOR((length(text) - length(replace(text, '.', '')))::DOUBLE
           / (length(text)::DOUBLE + 1.0) * 1e9 + 0.5) AS BIGINT) AS f3
  FROM documents
), wts AS (
  SELECT i.i AS i,
         2 * (CAST(concat('0x', substr(md5('qw:' || i.i), 1, 15)) AS UBIGINT)
              / 1152921504606846976.0) - 1 AS w
  FROM (SELECT UNNEST(range(5)) AS i) i
), m AS (
  SELECT CAST(SUM(f0) AS BIGINT) AS s0, CAST(SUM(f1) AS BIGINT) AS s1,
         CAST(SUM(f2) AS BIGINT) AS s2, CAST(SUM(f3) AS BIGINT) AS s3,
         COUNT(*) AS nd
  FROM f
), c AS (
  SELECT doc_id,
         (SELECT w FROM wts WHERE i = 0)
           * (CAST(f0 AS DOUBLE) / 1e9 - CAST(s0 AS DOUBLE) / CAST(nd AS DOUBLE) / 1e9) AS raw_c0,
         (SELECT w FROM wts WHERE i = 1)
           * (CAST(f1 AS DOUBLE) / 1e9 - CAST(s1 AS DOUBLE) / CAST(nd AS DOUBLE) / 1e9) AS raw_c1,
         (SELECT w FROM wts WHERE i = 2)
           * (CAST(f2 AS DOUBLE) / 1e9 - CAST(s2 AS DOUBLE) / CAST(nd AS DOUBLE) / 1e9) AS raw_c2,
         (SELECT w FROM wts WHERE i = 3)
           * (CAST(f3 AS DOUBLE) / 1e9 - CAST(s3 AS DOUBLE) / CAST(nd AS DOUBLE) / 1e9) AS raw_c3
  FROM f, m
)
SELECT doc_id,
       FLOOR(raw_c0 * 1e6 + 0.5) / 1e6 AS c0,
       FLOOR(raw_c1 * 1e6 + 0.5) / 1e6 AS c1,
       FLOOR(raw_c2 * 1e6 + 0.5) / 1e6 AS c2,
       FLOOR(raw_c3 * 1e6 + 0.5) / 1e6 AS c3,
       FLOOR((raw_c0 + raw_c1 + raw_c2 + raw_c3) * 1e6 + 0.5) / 1e6 AS total_contrib
FROM c WHERE doc_id % 29 = 0
ORDER BY doc_id
""",
)
def quality_model_contributions_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.quality_model_contributions(load_table(spark, sf_dir, "documents"))


@register(
    "log_parse_roundtrip",
    # the oracle computes the aggregates straight from the event
    # formulas; the ENGINE must reach them by formatting each event as
    # an Apache-combined-style log line (with a deterministic 1-in-53
    # corruption) and PARSING it back — the log-ingestion ETL proof
    """
WITH shaped AS (
  SELECT event_type,
         CASE WHEN event_id % 10 = 0 THEN 500
              WHEN event_id % 10 IN (1, 2) THEN 404
              ELSE 200 END AS status,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS bytes,
         event_id % 53 = 0 AS corrupted
  FROM events
)
SELECT event_type,
       CAST(CASE WHEN corrupted THEN NULL ELSE status END AS BIGINT) AS status,
       COUNT(*) AS n,
       CAST(COALESCE(SUM(CASE WHEN NOT corrupted THEN bytes END), 0) AS BIGINT) AS sum_bytes
FROM shaped
GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def log_parse_roundtrip_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-ingestion ETL: events render to Apache-combined-style text
    lines (every 53rd line deterministically truncated — the corrupt
    tail every real log feed has), then a codegen regexp parse
    recovers the structure; unparseable lines surface as NULL-status
    rows instead of vanishing (the json_parse_corrupt convention).
    Formatting and parsing are both map-side; the only shuffle is the
    final census. The oracle computes the same aggregates from the
    source formulas, so any parse drift breaks the comparison."""
    events = load_events(spark, sf_dir)
    status = (
        F.when(F.col("event_id") % 10 == 0, 500)
        .when((F.col("event_id") % 10).isin(1, 2), 404)
        .otherwise(200)
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    line = F.format_string(
        '10.%d.%d.%d - - [%s] "GET /api/%s?id=%d HTTP/1.1" %d %d',
        F.pmod(F.col("user_id"), F.lit(256)),
        F.pmod(F.col("event_id"), F.lit(256)),
        F.pmod(F.col("user_id") + F.col("event_id"), F.lit(256)),
        F.date_format("ts", "dd/MMM/yyyy:HH:mm:ss Z"),
        F.col("event_type"),
        F.col("event_id"),
        status,
        cents,
    )
    corrupted = F.col("event_id") % 53 == 0
    raw = events.select(
        F.when(corrupted, F.substring(line, 1, 20)).otherwise(line).alias("line")
    )
    pat = r'^[0-9.]+ - - \[[^\]]+\] "GET /api/([a-z]+)\?id=[0-9]+ HTTP/1\.1" ([0-9]{3}) ([0-9]+)$'
    parsed = raw.select(
        F.nullif(F.regexp_extract("line", pat, 1), F.lit("")).alias("p_type"),
        F.nullif(F.regexp_extract("line", pat, 2), F.lit("")).cast("long").alias(
            "status"
        ),
        F.nullif(F.regexp_extract("line", pat, 3), F.lit("")).cast("long").alias(
            "bytes"
        ),
    )
    # malformed lines lose their payload; the census keeps them under
    # their true type (re-derived from source — a real pipeline
    # quarantines the raw line alongside) with a NULL status
    ok = parsed.filter(F.col("status").isNotNull()).groupBy(
        F.col("p_type").alias("event_type"), "status"
    ).agg(F.count("*").alias("n"), F.sum("bytes").alias("sum_bytes"))
    bad = (
        events.filter(corrupted)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .select(
            "event_type",
            F.lit(None).cast("long").alias("status"),
            "n",
            F.lit(0).cast("long").alias("sum_bytes"),
        )
    )
    return ok.unionByName(bad).orderBy("event_type", "status")


@register(
    "bitmap_membership",
    # per-day 64-bit presence bitmaps of user buckets via BIT_OR, then
    # day-over-day set algebra with BIT_AND/bit_count — the
    # roaring-bitmap-index technique in its pure-SQL form
    """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(BIT_OR(CAST(1 AS BIGINT) << CAST(user_id % 63 AS INT)) AS BIGINT) AS bm
  FROM events GROUP BY 1
), paired AS (
  SELECT d, bm,
         LAG(bm) OVER (ORDER BY d) AS prev_bm
  FROM daily
)
SELECT strftime(d, '%Y-%m-%d') AS day,
       CAST(bit_count(bm) AS BIGINT) AS n_buckets,
       CAST(COALESCE(bit_count(bm & prev_bm), 0) AS BIGINT) AS overlap_prev,
       CAST(COALESCE(bit_count(bm | prev_bm), 0) AS BIGINT) AS union_prev
FROM paired ORDER BY day
""",
)
def bitmap_membership_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-index membership: each day's active user-bucket set packs
    into a 64-bit bitmap with BIT_OR (one long per day, not a set of
    ids), and day-over-day retention/churn becomes BITWISE algebra —
    bit_count(a & b) intersections with zero joins. This is the
    roaring-bitmap / bitmap-index technique every OLAP engine uses for
    high-cardinality membership, at its pure-SQL 64-bucket
    demonstration scale; production uses arrays of these words keyed
    by bucket-block. The shuffle carries one bigint per (day), ever."""
    events = load_events(spark, sf_dir)
    bm = F.bit_or(
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 63 AS INT))")
    )
    daily = events.groupBy(F.to_date("ts").alias("d")).agg(bm.alias("bm"))
    w = Window.orderBy("d")
    paired = daily.withColumn("prev_bm", F.lag("bm").over(w))
    return paired.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.bit_count("bm").cast("long").alias("n_buckets"),
        F.coalesce(
            F.bit_count(F.col("bm").bitwiseAND(F.col("prev_bm"))), F.lit(0)
        )
        .cast("long")
        .alias("overlap_prev"),
        F.coalesce(
            F.bit_count(F.col("bm").bitwiseOR(F.col("prev_bm"))), F.lit(0)
        )
        .cast("long")
        .alias("union_prev"),
    ).orderBy("day")


@register(
    "join_asof_nearest",
    # merge_asof(direction='nearest'): backward candidate = running
    # MAX of epoch-packed (t*1e7 + max-key-per-date), forward = the
    # symmetric running MIN of (t*1e7 + min-key-per-date) — packing
    # makes both passes plain MAX/MIN over bigints, so the trajectory
    # is bit-identical across engines. Same-instant orders belong to
    # the BACKWARD pass (gap 0 wins there anyway).
    """
WITH ords AS (
  SELECT o_custkey AS uid, CAST(o_orderdate AS TIMESTAMP) AS t,
         MAX(o_orderkey) AS bkey, MIN(o_orderkey) AS fkey
  FROM orders GROUP BY 1, 2
), u AS (
  SELECT user_id AS uid, ts AS t, 0 AS is_order, event_id,
         CAST(NULL AS BIGINT) AS bp, CAST(NULL AS BIGINT) AS fp
  FROM events
  UNION ALL
  SELECT uid, t, 1, NULL,
         CAST(FLOOR(EPOCH(t)) AS BIGINT) * 10000000 + bkey,
         CAST(FLOOR(EPOCH(t)) AS BIGINT) * 10000000 + fkey
  FROM ords
), m AS (
  SELECT uid, t, is_order, event_id,
         MAX(bp) OVER (PARTITION BY uid ORDER BY t, is_order DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS b_packed,
         MIN(fp) OVER (PARTITION BY uid ORDER BY t, is_order DESC
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS f_packed
  FROM u
), ev AS (
  SELECT event_id, uid, CAST(FLOOR(EPOCH(t)) AS BIGINT) AS te, b_packed, f_packed
  FROM m WHERE is_order = 0 AND event_id % 131 = 0
)
SELECT event_id, uid AS user_id,
       CAST(CASE
         WHEN b_packed IS NULL AND f_packed IS NULL THEN NULL
         WHEN f_packed IS NULL THEN b_packed % 10000000
         WHEN b_packed IS NULL THEN f_packed % 10000000
         WHEN te - b_packed // 10000000 <= f_packed // 10000000 - te
           THEN b_packed % 10000000
         ELSE f_packed % 10000000 END AS BIGINT) AS nearest_orderkey,
       CASE
         WHEN b_packed IS NULL AND f_packed IS NULL THEN 'none'
         WHEN f_packed IS NULL THEN 'backward'
         WHEN b_packed IS NULL THEN 'forward'
         WHEN te - b_packed // 10000000 <= f_packed // 10000000 - te
           THEN 'backward'
         ELSE 'forward' END AS direction,
       CAST(CASE
         WHEN b_packed IS NULL AND f_packed IS NULL THEN NULL
         WHEN f_packed IS NULL THEN te - b_packed // 10000000
         WHEN b_packed IS NULL THEN f_packed // 10000000 - te
         WHEN te - b_packed // 10000000 <= f_packed // 10000000 - te
           THEN te - b_packed // 10000000
         ELSE f_packed // 10000000 - te END AS BIGINT) AS gap_s
FROM ev ORDER BY event_id
""",
)
def join_asof_nearest_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join (pandas merge_asof
    direction='nearest'): each event matches its temporally CLOSEST
    order, looking both ways, ties to the past — completing the as-of
    family (backward / tolerance / nearest). Both directional passes
    ride ONE union + ONE shuffle-sort on the user key: candidates are
    epoch-packed bigints so 'latest before' is a running MAX and
    'earliest after' is a running MIN over mirrored frames — no
    second shuffle, no theta join, engine-exact by construction."""
    events = load_events(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    ords = orders.groupBy(
        F.col("o_custkey").alias("uid"),
        F.col("o_orderdate").cast("timestamp").alias("t"),
    ).agg(F.max("o_orderkey").alias("bkey"), F.min("o_orderkey").alias("fkey"))
    pack = lambda k: F.unix_timestamp("t") * F.lit(10000000) + F.col(k)  # noqa: E731
    left = events.select(
        F.col("user_id").alias("uid"),
        F.col("ts").alias("t"),
        F.lit(0).alias("is_order"),
        "event_id",
        F.lit(None).cast("long").alias("bp"),
        F.lit(None).cast("long").alias("fp"),
    )
    right = ords.select(
        "uid",
        "t",
        F.lit(1).alias("is_order"),
        F.lit(None).cast("long").alias("event_id"),
        pack("bkey").alias("bp"),
        pack("fkey").alias("fp"),
    )
    order_spec = [F.col("t"), F.col("is_order").desc()]
    wb = (
        Window.partitionBy("uid")
        .orderBy(*order_spec)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("uid")
        .orderBy(*order_spec)
        .rowsBetween(0, Window.unboundedFollowing)
    )
    m = left.unionByName(right).select(
        "uid",
        "t",
        "is_order",
        "event_id",
        F.max("bp").over(wb).alias("b_packed"),
        F.min("fp").over(wf).alias("f_packed"),
    )
    ev = m.filter((F.col("is_order") == 0) & (F.col("event_id") % 131 == 0)).select(
        "event_id",
        "uid",
        F.unix_timestamp("t").alias("te"),
        "b_packed",
        "f_packed",
    )
    bt = F.expr("b_packed DIV 10000000")
    ft = F.expr("f_packed DIV 10000000")
    use_b = F.col("f_packed").isNull() | (
        F.col("b_packed").isNotNull() & ((F.col("te") - bt) <= (ft - F.col("te")))
    )
    none = F.col("b_packed").isNull() & F.col("f_packed").isNull()
    return ev.select(
        "event_id",
        F.col("uid").alias("user_id"),
        F.when(none, F.lit(None).cast("long"))
        .when(use_b, F.expr("b_packed % 10000000"))
        .otherwise(F.expr("f_packed % 10000000"))
        .alias("nearest_orderkey"),
        F.when(none, "none")
        .when(use_b, "backward")
        .otherwise("forward")
        .alias("direction"),
        F.when(none, F.lit(None).cast("long"))
        .when(use_b, F.col("te") - bt)
        .otherwise(ft - F.col("te"))
        .alias("gap_s"),
    ).orderBy("event_id")


@register(
    "sequence_pattern_regex",
    # each user's timeline compresses to a type-initial string; the
    # behavioural pattern 'view, clicks*, purchase' is then ONE
    # codegen regex count — MATCH_RECOGNIZE-lite where the row
    # pattern literally IS a regex (both engines: leftmost,
    # non-overlapping)
    """
WITH seqs AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
  FROM events GROUP BY user_id
)
SELECT user_id, length(seq) AS seq_len,
       CAST(len(regexp_extract_all(seq, 'vc*p')) AS BIGINT) AS n_matches
FROM seqs WHERE user_id % 17 = 0
ORDER BY user_id
""",
)
def sequence_pattern_regex_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-pattern matching as a regex over the compressed timeline:
    each user's events collapse to a string of type initials (ordered
    by time), and 'view, then any clicks, then purchase' is ONE
    regexp count per user — the MATCH_RECOGNIZE workhorse shapes
    (funnels, A*B patterns) without a pattern-automaton engine. The
    sort happens INSIDE array_sort on (ts, event_id, initial) structs
    — map-side after the one groupBy shuffle; the regex is codegen.
    Timelines are user-bounded, so the string length is too (chunk by
    session for power users at 100 TB)."""
    events = load_events(spark, sf_dir)
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("ts").alias("t"),
                F.col("event_id").alias("e"),
                F.substring("event_type", 1, 1).alias("c"),
            )
        )
    )
    seqs = (
        events.groupBy("user_id")
        .agg(arr.alias("arr"))
        .select(
            "user_id",
            F.concat_ws("", F.transform("arr", lambda x: x["c"])).alias("seq"),
        )
    )
    return (
        seqs.filter(F.col("user_id") % 17 == 0)
        .select(
            "user_id",
            F.length("seq").cast("long").alias("seq_len"),
            F.regexp_count("seq", F.lit("vc*p")).cast("long").alias("n_matches"),
        )
        .orderBy("user_id")
    )


@register(
    "attribution_models",
    # multi-touch attribution in ONE pass: a 24h RANGE frame over the
    # epoch-ordered union gives first-touch (running MIN of packed
    # click ids), last-touch (MAX) and touch count (SUM) per purchase
    """
WITH u AS (
  SELECT user_id AS uid, CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS t,
         1 AS is_click,
         CAST(FLOOR(EPOCH(ts)) AS BIGINT) * 10000000 + event_id AS cp,
         CAST(NULL AS BIGINT) AS purchase_id
  FROM events WHERE event_type = 'click'
  UNION ALL
  SELECT user_id, CAST(FLOOR(EPOCH(ts)) AS BIGINT), 0,
         CAST(NULL AS BIGINT), event_id
  FROM events WHERE event_type = 'purchase'
), m AS (
  SELECT uid, t, purchase_id,
         MIN(cp) OVER w AS first_packed,
         MAX(cp) OVER w AS last_packed,
         SUM(is_click) OVER w AS n_touches
  FROM u
  WINDOW w AS (PARTITION BY uid ORDER BY t
               RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW)
)
SELECT purchase_id, uid AS user_id,
       CAST(first_packed % 10000000 AS BIGINT) AS first_touch_id,
       CAST(last_packed % 10000000 AS BIGINT) AS last_touch_id,
       CAST(n_touches AS BIGINT) AS n_touches
FROM m
WHERE purchase_id IS NOT NULL AND purchase_id % 61 = 0
ORDER BY purchase_id
""",
)
def attribution_models_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution (first-touch / last-touch / linear
    denominator) for every purchase against its 24h click lookback —
    the batch complement of the streaming attribution matrix (those
    join ONE click per conversion; marketing wants all three credit
    models). A value-based RANGE frame over the epoch-ordered union
    computes all three in one window pass: first = running MIN of
    epoch-packed click ids, last = MAX, count = SUM — no join at all.
    RANGE frames are peer-inclusive, so same-instant clicks count,
    deterministically on both engines."""
    events = load_events(spark, sf_dir)
    t = F.unix_timestamp("ts")
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("uid"),
        t.alias("t"),
        F.lit(1).alias("is_click"),
        (t * F.lit(10000000) + F.col("event_id")).alias("cp"),
        F.lit(None).cast("long").alias("purchase_id"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("uid"),
        t.alias("t"),
        F.lit(0).alias("is_click"),
        F.lit(None).cast("long").alias("cp"),
        F.col("event_id").alias("purchase_id"),
    )
    w = (
        Window.partitionBy("uid")
        .orderBy("t")
        .rangeBetween(-86400, 0)
    )
    m = clicks.unionByName(purchases).select(
        "uid",
        "purchase_id",
        F.min("cp").over(w).alias("first_packed"),
        F.max("cp").over(w).alias("last_packed"),
        F.sum("is_click").over(w).alias("n_touches"),
    )
    return (
        m.filter(F.col("purchase_id").isNotNull() & (F.col("purchase_id") % 61 == 0))
        .select(
            "purchase_id",
            F.col("uid").alias("user_id"),
            F.expr("first_packed % 10000000").alias("first_touch_id"),
            F.expr("last_packed % 10000000").alias("last_touch_id"),
            F.col("n_touches").cast("long").alias("n_touches"),
        )
        .orderBy("purchase_id")
    )


@register(
    "conversion_latency_histogram",
    # click -> purchase latency via the running-last window (the
    # attribution primitive), bucketed to minutes capped at 120+
    """
WITH tagged AS (
  SELECT user_id, ts, 1 AS is_click, CAST(NULL AS TIMESTAMP) AS pts
  FROM events WHERE event_type = 'click'
  UNION ALL
  SELECT user_id, ts, 0, ts FROM events WHERE event_type = 'purchase'
), lastc AS (
  SELECT user_id, is_click, pts,
         MAX(CASE WHEN is_click = 1 THEN ts END)
           OVER (PARTITION BY user_id ORDER BY ts, is_click DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click
  FROM tagged
)
SELECT CAST(LEAST((CAST(FLOOR(EPOCH(pts)) AS BIGINT)
                   - CAST(FLOOR(EPOCH(last_click)) AS BIGINT)) // 60, 120) AS BIGINT)
         AS latency_minutes,
       COUNT(*) AS n
FROM lastc
WHERE is_click = 0 AND last_click IS NOT NULL
GROUP BY 1 ORDER BY 1
""",
)
def conversion_latency_histogram_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: minutes between each purchase and
    its most recent prior click, histogram-bucketed (capped 120+) —
    the funnel family's latency read-out (funnel_counts says HOW MANY
    convert; this says HOW FAST, which is what the attribution
    lookback window should be sized from). Same one-shuffle
    union + running-last primitive as join_asof."""
    events = load_events(spark, sf_dir)
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.lit(1).alias("is_click"),
        F.lit(None).cast("timestamp").alias("pts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(0).alias("is_click"), F.col("ts").alias("pts")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("is_click").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    lastc = clicks.unionByName(purchases).withColumn(
        "last_click", F.max(F.when(F.col("is_click") == 1, F.col("ts"))).over(w)
    )
    lat = F.least(
        F.expr("(unix_timestamp(pts) - unix_timestamp(last_click)) DIV 60"),
        F.lit(120).cast("long"),
    )
    return (
        lastc.filter((F.col("is_click") == 0) & F.col("last_click").isNotNull())
        .groupBy(lat.alias("latency_minutes"))
        .agg(F.count("*").alias("n"))
        .orderBy("latency_minutes")
    )


@register(
    "quarantine_split",
    # contract enforcement: every row carries its full violation list
    # (not just the first), the census keys on the reason SET
    """
WITH checked AS (
  SELECT event_id,
         (event_type NOT IN ('click','view','purchase','signup','error')) AS bad_type,
         (value < 0 OR value > 10000) AS bad_value,
         (user_id IS NULL OR user_id < 0) AS bad_user,
         (event_id % 89 = 0) AS bad_injected
  FROM events
), reasons AS (
  SELECT event_id,
         concat(CASE WHEN bad_type THEN 'type;' ELSE '' END,
                CASE WHEN bad_value THEN 'value;' ELSE '' END,
                CASE WHEN bad_user THEN 'user;' ELSE '' END,
                CASE WHEN bad_injected THEN 'checksum;' ELSE '' END) AS reason_set
  FROM checked
)
SELECT CASE WHEN reason_set = '' THEN 'valid' ELSE reason_set END AS reasons,
       COUNT(*) AS n
FROM reasons GROUP BY 1 ORDER BY 1
""",
)
def quarantine_split_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-contract enforcement with a QUARANTINE: each row is
    checked against every contract rule (enum domain, value range,
    key validity, plus a deterministic injected 'checksum' failure so
    the quarantine path is exercised) and carries its FULL violation
    list — the split a production ingest runs before landing data
    (expectations_check reports corpus health; this routes rows).
    All rules are one codegen pass; the census keys on the reason
    combination."""
    events = load_events(spark, sf_dir)
    rules = [
        ("type;", ~F.col("event_type").isin("click", "view", "purchase", "signup", "error")),
        ("value;", (F.col("value") < 0) | (F.col("value") > 10000)),
        ("user;", F.col("user_id").isNull() | (F.col("user_id") < 0)),
        ("checksum;", F.col("event_id") % 89 == 0),
    ]
    reason = F.concat(
        *[F.when(cond, F.lit(tag)).otherwise(F.lit("")) for tag, cond in rules]
    )
    return (
        events.select(
            F.when(reason == "", F.lit("valid")).otherwise(reason).alias("reasons")
        )
        .groupBy("reasons")
        .agg(F.count("*").alias("n"))
        .orderBy("reasons")
    )


@register(
    "quantile_normalize",
    # batch-effect correction: each group's values map onto the GLOBAL
    # distribution through a 101-point discrete quantile grid (exact at
    # oracle scale per the GK degenerate-accuracy convention); grid
    # index is exact integer rank arithmetic
    """
WITH ranked AS (
  SELECT event_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS r,
         COUNT(*) OVER (PARTITION BY event_type) AS ns
  FROM events
), gl AS (
  SELECT value, ROW_NUMBER() OVER (ORDER BY value, event_id) AS gr,
         COUNT(*) OVER () AS n
  FROM events
), grid AS (
  SELECT t.g, gl.value AS gv
  FROM (SELECT i AS g, 1 + (i * ((SELECT COUNT(*) FROM events) - 1)) // 100 AS target
        FROM (SELECT unnest(generate_series(0, 100)) AS i)) t
  JOIN gl ON gl.gr = t.target
)
SELECT r.event_id, r.event_type, r.value,
       ROUND(grid.gv, 4) AS normalized
FROM ranked r
JOIN grid ON grid.g = CASE WHEN r.ns = 1 THEN 0
                           ELSE ((r.r - 1) * 100) // (r.ns - 1) END
WHERE r.event_id % 173 = 0
ORDER BY r.event_id
""",
)
def quantile_normalize_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization across groups (batch-effect correction:
    bioinformatics' cross-array fix, a feature-prep classic): each
    value is replaced by the GLOBAL distribution's value at its
    WITHIN-GROUP percent rank, so every group ends up with the same
    marginal distribution. Grid index is exact integer rank algebra;
    the 101-point global grid is one percentile_approx pass (exact at
    oracle scale, bounded-error at 100 TB — the feature_quantile_bins
    trade) broadcast to the rank join. Output gated 1-in-173."""
    events = load_events(spark, sf_dir)
    wrk = Window.partitionBy("event_type").orderBy("value", "event_id")
    wct = Window.partitionBy("event_type")
    ranked = events.select(
        "event_id",
        "event_type",
        "value",
        F.row_number().over(wrk).alias("r"),
        F.count("*").over(wct).alias("ns"),
    )
    # global order statistics WITHOUT a single-partition sort: the
    # value domain is cents-bounded, so a counting-sort rank works —
    # per-cent-bucket counts feed a running offset over the tiny
    # bucket relation, and each row's exact global rank is
    # offset + within-bucket row_number (all parallel). The 101 grid
    # targets are exact integer rank positions joined against that.
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    bucketed = events.select("event_id", "value", cents.alias("b"))
    counts = bucketed.groupBy("b").agg(F.count("*").alias("cn"))
    woff = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "off", F.coalesce(F.sum("cn").over(woff), F.lit(0))
    )
    wloc = Window.partitionBy("b").orderBy("value", "event_id")
    glob = (
        bucketed.join(F.broadcast(offsets.select("b", "off")), "b")
        .withColumn("gr", F.row_number().over(wloc) + F.col("off"))
    )
    n_total = events.agg(F.count("*").alias("n"))
    targets = (
        events.sparkSession.range(0, 101)
        .select(F.col("id").alias("g"))
        .join(F.broadcast(n_total))
        .select("g", F.expr("1 + (g * (n - 1)) DIV 100").alias("target"))
    )
    grid = glob.join(
        F.broadcast(targets), glob.gr == targets.target
    ).select("g", F.col("value").alias("gv"))
    gidx = F.when(F.col("ns") == 1, F.lit(0)).otherwise(
        F.expr("((r - 1) * 100) DIV (ns - 1)")
    )
    return (
        ranked.withColumn("g", gidx)
        .join(F.broadcast(grid), "g")
        .filter(F.col("event_id") % 173 == 0)
        .select(
            "event_id",
            "event_type",
            "value",
            F.round("gv", 4).alias("normalized"),
        )
        .orderBy("event_id")
    )


@register(
    "varint_delta_report",
    # storage-encoding audit: per day, bytes to store sorted event ids
    # raw (8B) vs delta+varint encoded — exact integer byte math via
    # CASE thresholds (the parquet DELTA_BINARY_PACKED intuition)
    """
WITH d AS (
  SELECT CAST(ts AS DATE) AS day, event_id,
         event_id - LAG(event_id) OVER (PARTITION BY CAST(ts AS DATE) ORDER BY event_id) AS delta
  FROM events
), sized AS (
  SELECT day,
         CASE WHEN delta IS NULL THEN 8
              WHEN delta < 128 THEN 1
              WHEN delta < 16384 THEN 2
              WHEN delta < 2097152 THEN 3
              WHEN delta < 268435456 THEN 4
              ELSE 8 END AS nb
  FROM d
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       COUNT(*) AS n_ids,
       COUNT(*) * 8 AS raw_bytes,
       CAST(SUM(nb) AS BIGINT) AS encoded_bytes,
       FLOOR(CAST(COUNT(*) * 8 AS DOUBLE) / CAST(SUM(nb) AS DOUBLE) * 1e6 + 0.5) / 1e6
         AS compression_ratio
FROM sized GROUP BY day ORDER BY day
""",
)
def varint_delta_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-encoding audit: how much smaller each day's sorted id
    column gets under delta + varint encoding (the
    DELTA_BINARY_PACKED / Kinesis sequence-number intuition) — exact
    integer byte accounting per id, one window + census. The report a
    storage engineer reads before picking column encodings; at 100 TB
    this is file-layout money."""
    events = load_events(spark, sf_dir)
    w = Window.partitionBy(F.to_date("ts")).orderBy("event_id")
    d = events.select(
        F.to_date("ts").alias("day"),
        (F.col("event_id") - F.lag("event_id").over(w)).alias("delta"),
    )
    nb = (
        F.when(F.col("delta").isNull(), 8)
        .when(F.col("delta") < 128, 1)
        .when(F.col("delta") < 16384, 2)
        .when(F.col("delta") < 2097152, 3)
        .when(F.col("delta") < 268435456, 4)
        .otherwise(8)
    )
    return (
        d.select(F.date_format("day", "yyyy-MM-dd").alias("day"), nb.alias("nb"))
        .groupBy("day")
        .agg(
            F.count("*").alias("n_ids"),
            (F.count("*") * 8).alias("raw_bytes"),
            F.sum("nb").cast("long").alias("encoded_bytes"),
            (
                F.floor(
                    (F.count("*") * 8).cast("double")
                    / F.sum("nb").cast("double")
                    * 1e6
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("compression_ratio"),
        )
        .orderBy("day")
    )


@register(
    "streaming_quarantine_counts",
    # the contract gate ON the stream: per-reason counts are additive
    # across micro-batches, so the drained complete-mode census equals
    # the batch quarantine_split exactly
    """
WITH checked AS (
  SELECT event_id,
         (event_type NOT IN ('click','view','purchase','signup','error')) AS bad_type,
         (value < 0 OR value > 10000) AS bad_value,
         (user_id IS NULL OR user_id < 0) AS bad_user,
         (event_id % 89 = 0) AS bad_injected
  FROM events
), reasons AS (
  SELECT event_id,
         concat(CASE WHEN bad_type THEN 'type;' ELSE '' END,
                CASE WHEN bad_value THEN 'value;' ELSE '' END,
                CASE WHEN bad_user THEN 'user;' ELSE '' END,
                CASE WHEN bad_injected THEN 'checksum;' ELSE '' END) AS reason_set
  FROM checked
)
SELECT CASE WHEN reason_set = '' THEN 'valid' ELSE reason_set END AS reasons,
       COUNT(*) AS n
FROM reasons GROUP BY 1 ORDER BY 1
""",
)
def streaming_quarantine_counts_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quarantine_split maintained ON the stream: the same one-pass
    contract rules gate each micro-batch and the per-reason census
    accumulates in complete mode — what the ingest job's dead-letter
    metrics exporter reports, slicing-invariant by additivity."""
    from ..streaming import jobs

    stream = jobs.stream_events(spark, sf_dir)
    rules = [
        ("type;", ~F.col("event_type").isin("click", "view", "purchase", "signup", "error")),
        ("value;", (F.col("value") < 0) | (F.col("value") > 10000)),
        ("user;", F.col("user_id").isNull() | (F.col("user_id") < 0)),
        ("checksum;", F.col("event_id") % 89 == 0),
    ]
    reason = F.concat(
        *[F.when(cond, F.lit(tag)).otherwise(F.lit("")) for tag, cond in rules]
    )
    counts = (
        stream.select(
            F.when(reason == "", F.lit("valid")).otherwise(reason).alias("reasons")
        )
        .groupBy("reasons")
        .agg(F.count("*").alias("n"))
    )
    return jobs.run_available_now(counts, "streaming_quarantine_counts")


@register(
    "multimodal_phash_dedup",
    # the oracle recomputes every perceptual hash from the pixel
    # FORMULAS (decode-free), then runs the same band-blocked hamming
    # join — so the engine's real decode+hash+block pipeline is fully
    # value-checked
    """
WITH dims AS (
  SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 3 AS h FROM documents
), cells AS (
  SELECT doc_id, yy.i * 8 + xx.i AS p,
         (((doc_id * 7 + 3 * (((yy.i * h) // 8) * w + ((xx.i * w) // 8)) + 0) % 256)
          + ((doc_id * 7 + 3 * (((yy.i * h) // 8) * w + ((xx.i * w) // 8)) + 1) % 256)
          + ((doc_id * 7 + 3 * (((yy.i * h) // 8) * w + ((xx.i * w) // 8)) + 2) % 256)) // 3 AS gray
  FROM dims
  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS i) yy
  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS i) xx
), tot AS (
  SELECT doc_id, p, gray, SUM(gray) OVER (PARTITION BY doc_id) AS total FROM cells
), ph AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN p < 63 AND gray * 64 > total THEN CAST(1 AS BIGINT) << p ELSE 0 END) AS BIGINT) AS phash
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
def multimodal_phash_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup detection over REAL decoded images: decode
    (actual PPM parsing on executors) -> integer grayscale -> 8x8
    sign-safe 63-bit average-hash -> 4-band (16-bit) blocked hamming join (complete for hamming
    <= 3 by pigeonhole) -> pairs at distance <= 2 — the multimodal
    member of the near-dup family (simhash for text, phash for
    pixels), with the same banded-blocking scale shape as MinHash LSH.
    The shuffle carries 16-bit hashes, never pixels."""
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.synthetic_ppm_media(docs)
    return _phash_dedup_report(multimodal.image_phash(media))


def _phash_dedup_report(ph: DataFrame) -> DataFrame:
    """Shared banded-hamming phash dedup report (PPM and JPEG legs).
    Collapses to DISTINCT hashes FIRST (the dedup_minhash_canonical
    lesson: replicated corpora make doc-level pair emission quadratic
    — the first draft measured 367s at 20x docs; hash-level pairs
    with group weights are linear in distinct hashes)."""
    # the hash census sits above the IMAGE DECODE: without a checkpoint
    # the banded self-join below re-plans and re-executes the whole
    # decode + hash pass once per side
    groups = ph.groupBy("phash").agg(F.count("*").alias("sz")).localCheckpoint(
        eager=False
    )
    bands = groups.select(
        "phash",
        "sz",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("band"),
    ).withColumn("key", F.expr("(phash >> (band * 16)) & 65535")
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.phash") < F.col("b.phash")),
        )
        .select(
            F.col("a.phash").alias("ap"),
            F.col("b.phash").alias("bp"),
            F.col("a.sz").alias("sa"),
            F.col("b.sz").alias("sb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("ap").bitwiseXOR(F.col("bp")))
    stats = groups.agg(
        F.sum("sz").alias("n_images"),
        F.count("*").alias("n_distinct_hashes"),
        (F.sum("sz") - F.count("*")).alias("exact_dup_images"),
    )
    return cand.agg(
        F.count(F.when(hamming <= 2, 1)).alias("n_near_hash_pairs"),
        F.coalesce(
            F.sum(F.when(hamming <= 2, F.col("sa") * F.col("sb"))), F.lit(0)
        )
        .cast("long")
        .alias("near_dup_mass"),
    ).join(F.broadcast(stats)).select(
        "n_images",
        "n_distinct_hashes",
        "exact_dup_images",
        "n_near_hash_pairs",
        "near_dup_mass",
    )


@register(
    "tfidf_cosine_pairs",
    # sparse cosine similarity join over the df-pruned tf-idf space:
    # weights quantized to exact milli-units, dot products exact
    # bigints via the inverted-index join, norms via IEEE sqrt of
    # exact sums — one float division per pair
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
), nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
w AS (
  SELECT tf.doc_id, tf.term,
         CAST(FLOOR(tf.tf * LN(CAST(nd.n AS DOUBLE) / CAST(df.df AS DOUBLE)) * 1000 + 0.5) AS BIGINT) AS wu
  FROM tf JOIN df USING (term) CROSS JOIN nd
  WHERE df.df BETWEEN 2 AND 50
), norms AS (
  SELECT doc_id, CAST(FLOOR(SQRT(CAST(SUM(wu * wu) AS DOUBLE))) AS BIGINT) AS nu
  FROM w GROUP BY doc_id
), dots AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(SUM(a.wu * b.wu) AS BIGINT) AS dot_u
  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT a_id, b_id,
       FLOOR(CAST(dot_u AS DOUBLE) / (CAST(na.nu AS DOUBLE) * CAST(nb.nu AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS cosine
FROM dots
JOIN norms na ON na.doc_id = a_id
JOIN norms nb ON nb.doc_id = b_id
WHERE CAST(dot_u AS DOUBLE) / (CAST(na.nu AS DOUBLE) * CAST(nb.nu AS DOUBLE)) >= 0.5
ORDER BY a_id, b_id
""",
)
def tfidf_cosine_pairs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse cosine similarity join over tf-idf vectors — the
    SPARSE-vector member of the similarity family
    (dedup_embedding_cosine is the dense side, dedup_ngram_jaccard the
    set side; this weights shared terms by informativeness). The
    inverted-index join touches only shared terms, and the df window
    [2, 50] is the scale lever: singleton terms can't pair, stop-terms
    (the quadratic fan-out) are pruned — the standard
    similarity-join-with-df-cutoff design. Exact integer milli-weights
    end to end; one float division per surviving pair."""
    docs = load_table(spark, sf_dir, "documents")
    normalized = F.regexp_replace(F.lower(F.trim(F.col("text"))), "[^a-z0-9 ]", "")
    toks = docs.select(
        "doc_id", F.explode(F.split(normalized, " ")).alias("term")
    ).filter(F.col("term") != "")
    # tf feeds the df census AND the weight join; the weight relation w
    # feeds the norm census and both sides of the shared-term self-join:
    # checkpoints run the corpus explode + each census once
    tf = toks.groupBy("doc_id", "term").agg(
        F.count("*").alias("tf")
    ).localCheckpoint(eager=False)
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    nd = docs.agg(F.count_distinct("doc_id").alias("n"))
    w = (
        tf.join(F.broadcast(df), "term")
        .filter((F.col("df") >= 2) & (F.col("df") <= 50))
        .join(F.broadcast(nd))
        .select(
            "doc_id",
            "term",
            F.floor(
                F.col("tf")
                * F.log(F.col("n").cast("double") / F.col("df").cast("double"))
                * 1000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("wu"),
        )
        .localCheckpoint(eager=False)
    )
    norms = w.groupBy("doc_id").agg(
        F.floor(F.sqrt(F.sum(F.col("wu") * F.col("wu")).cast("double")))
        .cast("long")
        .alias("nu")
    )
    a = w.alias("a")
    b = w.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .agg(F.sum(F.col("a.wu") * F.col("b.wu")).alias("dot_u"))
    )
    cos = F.col("dot_u").cast("double") / (
        F.col("na.nu").cast("double") * F.col("nb.nu").cast("double")
    )
    return (
        dots.join(norms.alias("na"), F.col("a_id") == F.col("na.doc_id"))
        .join(norms.alias("nb"), F.col("b_id") == F.col("nb.doc_id"))
        .filter(cos >= 0.5)
        .select(
            "a_id",
            "b_id",
            (F.floor(cos * 1e6 + F.lit(0.5)) / F.lit(1e6)).alias("cosine"),
        )
        .orderBy("a_id", "b_id")
    )


@register(
    "item_item_recs",
    # "bought X also bought Y": basket co-occurrence ranked by lift,
    # top-3 per item — map-side pair generation from collect_set
    # arrays (the assoc_rules shape) + a per-item TakeOrdered window
    """
WITH baskets AS (
  SELECT DISTINCT l_orderkey AS o, p_brand AS item
  FROM lineitem JOIN part ON l_partkey = p_partkey
), n AS (SELECT COUNT(DISTINCT o) AS n FROM baskets),
ic AS (SELECT item, COUNT(*) AS cnt FROM baskets GROUP BY item),
pairs AS (
  SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS cooc
  FROM baskets a JOIN baskets b ON a.o = b.o AND a.item <> b.item
  GROUP BY 1, 2
), scored AS (
  SELECT item_a, item_b, cooc,
         FLOOR(CAST(cooc * n.n AS DOUBLE) / CAST(ca.cnt * cb.cnt AS DOUBLE) * 1e6 + 0.5) / 1e6 AS lift
  FROM pairs
  JOIN ic ca ON ca.item = pairs.item_a
  JOIN ic cb ON cb.item = pairs.item_b
  CROSS JOIN n
  WHERE cooc >= 10
)
SELECT item_a, item_b, cooc, lift, rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY item_a ORDER BY lift DESC, item_b) AS rnk
  FROM scored
) WHERE rnk <= 3
ORDER BY item_a, rnk
""",
)
def item_item_recs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item recommendations ('customers who bought X also bought
    Y'): directed basket co-occurrence ranked by lift, top-3 per item
    — the retail serving table assoc_rules' rule mining feeds. Pairs
    are emitted MAP-SIDE from per-basket sorted arrays (both
    directions of each unordered pair), the census is partial-agg'd,
    and the per-item ranking is a WindowGroupLimit over the pair
    relation — never baskets."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    # basket arrays feed three consumers (basket count, item census,
    # pair emission): checkpoint so the lineitem join + collect_set
    # shuffle runs once, not three times
    arrs = (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("item"))
        .groupBy("o")
        .agg(F.sort_array(F.collect_set("item")).alias("items"))
        .localCheckpoint(eager=False)
    )
    n = arrs.select(F.count("*").alias("n"))
    item_counts = (
        arrs.select(F.explode("items").alias("item"))
        .groupBy("item")
        .agg(F.count("*").alias("cnt"))
    )
    pair_structs = F.explode(
        F.flatten(
            F.transform(
                F.col("items"),
                lambda x: F.transform(
                    F.filter(F.col("items"), lambda y: y != x),
                    lambda y: F.struct(x.alias("item_a"), y.alias("item_b")),
                ),
            )
        )
    )
    pairs = (
        arrs.select(pair_structs.alias("p"))
        .select("p.item_a", "p.item_b")
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("cooc"))
        .filter(F.col("cooc") >= 10)
    )
    ca = item_counts.select(F.col("item").alias("item_a"), F.col("cnt").alias("ca"))
    cb = item_counts.select(F.col("item").alias("item_b"), F.col("cnt").alias("cb"))
    lift = (
        F.floor(
            (F.col("cooc") * F.col("n")).cast("double")
            / (F.col("ca") * F.col("cb")).cast("double")
            * 1e6
            + F.lit(0.5)
        )
        / F.lit(1e6)
    )
    w = Window.partitionBy("item_a").orderBy(F.desc("lift"), "item_b")
    return (
        pairs.join(F.broadcast(ca), "item_a")
        .join(F.broadcast(cb), "item_b")
        .join(F.broadcast(n))
        .select("item_a", "item_b", "cooc", lift.alias("lift"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .orderBy("item_a", "rnk")
    )


@register(
    "tiered_billing_report",
    # tiered usage pricing per tenant: exact integer unit accounting
    # through three price bands — micro-cents arithmetic, no floats
    # until the final display division
    """
WITH usage AS (
  SELECT user_id % 50 AS tenant, COUNT(*) AS units FROM events GROUP BY 1
), tiers AS (
  SELECT tenant, units,
         LEAST(units, 100) AS t1_units,
         LEAST(GREATEST(units - 100, 0), 400) AS t2_units,
         GREATEST(units - 500, 0) AS t3_units
  FROM usage
)
SELECT tenant, CAST(units AS BIGINT) AS units,
       CAST(t1_units * 500 + t2_units * 300 + t3_units * 100 AS BIGINT) AS microcents,
       FLOOR(CAST(t1_units * 500 + t2_units * 300 + t3_units * 100 AS DOUBLE) / 1e6 * 1e4 + 0.5) / 1e4
         AS dollars
FROM tiers ORDER BY tenant
""",
)
def tiered_billing_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Usage metering with tiered pricing: per-tenant event units
    through three price bands (first 100 at 500 micro-cents, next 400
    at 300, the rest at 100) — the billing aggregation every
    usage-based product runs nightly, exact integer micro-cents until
    the display conversion. One partial-agg shuffle bounded by
    tenants."""
    events = load_events(spark, sf_dir)
    usage = events.groupBy((F.col("user_id") % 50).alias("tenant")).agg(
        F.count("*").alias("units")
    )
    t1 = F.least(F.col("units"), F.lit(100))
    t2 = F.least(F.greatest(F.col("units") - 100, F.lit(0)), F.lit(400))
    t3 = F.greatest(F.col("units") - 500, F.lit(0))
    micro = t1 * 500 + t2 * 300 + t3 * 100
    return usage.select(
        "tenant",
        "units",
        micro.cast("long").alias("microcents"),
        (
            F.floor(micro.cast("double") / 1e6 * 1e4 + F.lit(0.5)) / F.lit(1e4)
        ).alias("dollars"),
    ).orderBy("tenant")


@register(
    "uptime_report",
    # availability from the event stream itself: per-type gaps over 30
    # minutes are outages; exact epoch-second accounting
    """
WITH g AS (
  SELECT event_type,
         CAST(FLOOR(EPOCH(ts)) AS BIGINT)
           - CAST(FLOOR(EPOCH(LAG(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id))) AS BIGINT)
           AS gap_s
  FROM events
), span AS (
  SELECT event_type,
         CAST(FLOOR(EPOCH(MAX(ts))) AS BIGINT) - CAST(FLOOR(EPOCH(MIN(ts))) AS BIGINT) AS span_s
  FROM events GROUP BY event_type
)
SELECT g.event_type,
       COUNT(CASE WHEN gap_s > 1800 THEN 1 END) AS n_outages,
       CAST(COALESCE(SUM(CASE WHEN gap_s > 1800 THEN gap_s END), 0) AS BIGINT) AS downtime_s,
       MAX(span.span_s) AS span_s,
       FLOOR((1.0 - CAST(COALESCE(SUM(CASE WHEN gap_s > 1800 THEN gap_s END), 0) AS DOUBLE)
                    / CAST(MAX(span.span_s) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS availability
FROM g JOIN span USING (event_type)
GROUP BY g.event_type
ORDER BY g.event_type
""",
)
def uptime_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Availability accounting from the stream itself: a silent gap
    longer than 30 minutes in a source's events IS an outage (there is
    no better signal at the data layer), so per-type downtime and the
    availability ratio fall out of one LAG window + census — the SRE
    report next to late_arrival_histogram (that sizes watermarks, this
    pages people). Exact epoch seconds; one float division for the
    ratio."""
    events = load_events(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    g = events.select(
        "event_type",
        (
            F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
        ).alias("gap_s"),
    )
    span = events.groupBy("event_type").agg(
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))).alias(
            "span_s"
        )
    )
    down = F.coalesce(
        F.sum(F.when(F.col("gap_s") > 1800, F.col("gap_s"))), F.lit(0)
    )
    return (
        g.join(span, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.when(F.col("gap_s") > 1800, 1)).alias("n_outages"),
            down.cast("long").alias("downtime_s"),
            F.max("span_s").alias("span_s"),
            (
                F.floor(
                    (
                        F.lit(1.0)
                        - down.cast("double") / F.max("span_s").cast("double")
                    )
                    * 1e6
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("availability"),
        )
        .orderBy("event_type")
    )


@register(
    "stock_ledger_dips",
    # signed-quantity running ledger per part: R-flag lines consume,
    # others restock; exact integers, one window pass; the report
    # flags parts whose balance ever dipped below zero
    """
WITH ledger AS (
  SELECT l_partkey,
         CASE WHEN l_returnflag = 'R' THEN -CAST(l_quantity AS BIGINT)
              ELSE CAST(l_quantity AS BIGINT) END AS delta,
         l_shipdate, l_orderkey, l_linenumber
  FROM lineitem
), run AS (
  SELECT l_partkey,
         SUM(delta) OVER (PARTITION BY l_partkey
           ORDER BY l_shipdate, l_orderkey, l_linenumber
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bal
  FROM ledger
)
SELECT l_partkey,
       CAST(MIN(bal) AS BIGINT) AS min_balance,
       CAST(MAX(bal) AS BIGINT) AS max_balance,
       CAST(SUM(CASE WHEN bal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative_points,
       MIN(bal) < 0 AS ever_negative
FROM run
WHERE l_partkey % 97 = 0
GROUP BY l_partkey
ORDER BY l_partkey
""",
)
def stock_ledger_dips_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stock-ledger semantics: per-part signed running balance
    (returns consume, shipments restock) with dip detection — the
    inventory/accounting ledger pass (running balances + covenant
    checks) that generalizes window_running_total to business rules.
    One part-keyed window over a deterministic (date, order, line)
    total order; exact integer quantities. Output gated to a 1-in-97
    part sample after the window."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    delta = F.when(
        F.col("l_returnflag") == "R", -F.col("l_quantity").cast("long")
    ).otherwise(F.col("l_quantity").cast("long"))
    w = (
        Window.partitionBy("l_partkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = lineitem.select(
        "l_partkey", F.sum(delta).over(w).alias("bal")
    )
    return (
        run.filter(F.col("l_partkey") % 97 == 0)
        .groupBy("l_partkey")
        .agg(
            F.min("bal").alias("min_balance"),
            F.max("bal").alias("max_balance"),
            F.sum(F.when(F.col("bal") < 0, 1).otherwise(0))
            .cast("long")
            .alias("n_negative_points"),
            (F.min("bal") < 0).alias("ever_negative"),
        )
        .orderBy("l_partkey")
    )


@register(
    "cycle_time_report",
    # process mining lite: order-to-last-shipment cycle days per
    # priority with discrete quartiles (exact integer day counts)
    """
WITH cycles AS (
  SELECT o.o_orderpriority AS priority,
         datediff('day', CAST(o.o_orderdate AS DATE), CAST(MAX(l.l_shipdate) AS DATE)) AS cycle_days
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate
)
SELECT priority, COUNT(*) AS n_orders,
       CAST(MIN(cycle_days) AS BIGINT) AS min_days,
       CAST(quantile_disc(cycle_days, 0.5) AS BIGINT) AS median_days,
       CAST(quantile_disc(cycle_days, 0.95) AS BIGINT) AS p95_days,
       CAST(MAX(cycle_days) AS BIGINT) AS max_days
FROM cycles GROUP BY priority ORDER BY priority
""",
)
def cycle_time_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Process-mining cycle times: order placement to LAST shipment,
    summarized per priority with discrete order statistics — the
    operational SLA readout (are urgent orders actually faster?).
    One join + per-order aggregate + a priority-bounded percentile
    pass; exact integer days (percentile_approx is exact at oracle
    scale per the GK degenerate-accuracy convention)."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    cycles = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .groupBy("o_orderkey", "o_orderpriority", "o_orderdate")
        .agg(F.max("l_shipdate").alias("last_ship"))
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.datediff(F.to_date("last_ship"), F.to_date("o_orderdate")).alias(
                "cycle_days"
            ),
        )
    )
    return (
        cycles.groupBy("priority")
        .agg(
            F.count("*").alias("n_orders"),
            F.min("cycle_days").cast("long").alias("min_days"),
            F.percentile_approx("cycle_days", 0.5, 100000)
            .cast("long")
            .alias("median_days"),
            F.percentile_approx("cycle_days", 0.95, 100000)
            .cast("long")
            .alias("p95_days"),
            F.max("cycle_days").cast("long").alias("max_days"),
        )
        .orderBy("priority")
    )


@register(
    "trimmed_mean_report",
    # 5%-trimmed mean per type: exact integer rank gates from one
    # window pass, exact cent sums inside the kept band
    """
WITH ranked AS (
  SELECT event_type,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS r,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n,
       COUNT(*) AS n_kept,
       FLOOR(CAST(SUM(cents) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 100.0 * 1e6 + 0.5) / 1e6
         AS trimmed_mean
FROM ranked
WHERE r > n * 5 // 100 AND r <= n - n * 5 // 100
GROUP BY event_type ORDER BY event_type
""",
)
def trimmed_mean_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-trimmed mean per group — the robust-statistics companion to
    anomaly_mad (MAD rejects outliers for DETECTION; trimming rejects
    them for ESTIMATION). Exact integer rank gates (r in
    (5%n, n-5%n]) from one per-type window pass, exact cent sums
    inside the kept band, one float division."""
    events = load_events(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wc = Window.partitionBy("event_type")
    ranked = events.select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        F.row_number().over(w).alias("r"),
        F.count("*").over(wc).alias("n"),
    )
    lo = F.expr("n * 5 DIV 100")
    return (
        ranked.filter((F.col("r") > lo) & (F.col("r") <= F.col("n") - lo))
        .groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            F.count("*").alias("n_kept"),
            (
                F.floor(
                    F.sum("cents").cast("double")
                    / F.count("*").cast("double")
                    / F.lit(100.0)
                    * 1e6
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("trimmed_mean"),
        )
        .orderBy("event_type")
    )


@register(
    "weekday_seasonality_report",
    # STL-lite: day-of-week means via n-scaled exact integers, and the
    # share of daily-count variance the weekday pattern explains —
    # exact bigint numerators, one float division
    """
WITH days AS (
  SELECT CAST(ts AS DATE) AS d, dayofweek(ts) + 1 AS dow, COUNT(*) AS x
  FROM events GROUP BY 1, 2
), tot AS (SELECT COUNT(*) AS nd, CAST(SUM(x) AS BIGINT) AS s FROM days),
dowm AS (
  SELECT dow, COUNT(*) AS ndw, CAST(SUM(x) AS BIGINT) AS sw FROM days GROUP BY dow
)
SELECT d2.dow,
       CAST(d2.ndw AS BIGINT) AS n_days,
       FLOOR(CAST(d2.sw AS DOUBLE) / CAST(d2.ndw AS DOUBLE) * 1e6 + 0.5) / 1e6 AS mean_events,
       FLOOR((CAST(d2.sw AS DOUBLE) / CAST(d2.ndw AS DOUBLE)
              - CAST(t.s AS DOUBLE) / CAST(t.nd AS DOUBLE)) * 1e6 + 0.5) / 1e6
         AS seasonal_component
FROM dowm d2 CROSS JOIN tot t
ORDER BY d2.dow
""",
)
def weekday_seasonality_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday seasonality decomposition (STL-lite): per day-of-week
    mean daily volume and its deviation from the overall daily mean —
    the seasonal component acf_daily diagnoses and forecast_backtest
    exploits, made explicit. Day-census relations bound everything;
    the means are single float divisions of exact integer sums."""
    events = load_events(spark, sf_dir)
    days = events.groupBy(
        F.to_date("ts").alias("d"), F.dayofweek("ts").alias("dow")
    ).agg(F.count("*").alias("x"))
    tot = days.agg(F.count("*").alias("nd"), F.sum("x").alias("s"))
    dowm = days.groupBy("dow").agg(
        F.count("*").alias("ndw"), F.sum("x").alias("sw")
    )
    mean_w = F.col("sw").cast("double") / F.col("ndw").cast("double")
    mean_all = F.col("s").cast("double") / F.col("nd").cast("double")
    q = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return (
        dowm.join(F.broadcast(tot))
        .select(
            "dow",
            F.col("ndw").alias("n_days"),
            q(mean_w).alias("mean_events"),
            q(mean_w - mean_all).alias("seasonal_component"),
        )
        .orderBy("dow")
    )


@register(
    "abandoned_carts",
    # FORWARD CEP negation: clicks with no purchase in the next 24h —
    # next-purchase via running MIN over the mirrored frame, ties and
    # same-instant purchases credited (purchase sorts before the click
    # at equal t via is_click ASC in the forward frame)
    """
WITH u AS (
  SELECT user_id AS uid, ts, CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS t,
         1 AS is_click, event_id AS click_id, CAST(NULL AS BIGINT) AS pt
  FROM events WHERE event_type = 'click'
  UNION ALL
  SELECT user_id, ts, CAST(FLOOR(EPOCH(ts)) AS BIGINT),
         0, CAST(NULL AS BIGINT), CAST(FLOOR(EPOCH(ts)) AS BIGINT)
  FROM events WHERE event_type = 'purchase'
), m AS (
  SELECT uid, t, is_click, click_id,
         MIN(pt) OVER (PARTITION BY uid ORDER BY t, is_click
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_pt
  FROM u
)
SELECT strftime(CAST(to_timestamp(t) AS DATE), '%Y-%m-%d') AS day,
       COUNT(*) AS n_clicks,
       COUNT(CASE WHEN next_pt IS NULL OR next_pt - t > 86400 THEN 1 END) AS n_abandoned,
       COUNT(CASE WHEN next_pt IS NOT NULL AND next_pt - t <= 86400 THEN 1 END) AS n_converted
FROM m WHERE is_click = 1
GROUP BY 1 ORDER BY 1
""",
)
def abandoned_carts_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Abandoned-cart detection — the FORWARD CEP negation (clicks
    with no purchase in the following 24h; funnel_negative is the
    backward mirror): next-purchase time rides a running MIN over the
    mirrored window frame on the same one-shuffle union, so no
    per-click probe join exists. Same-instant purchases count as
    conversions (purchase sorts before the click at equal t)."""
    events = load_events(spark, sf_dir)
    t = F.unix_timestamp("ts")
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("uid"), t.alias("t"),
        F.lit(1).alias("is_click"), F.col("event_id").alias("click_id"),
        F.lit(None).cast("long").alias("pt"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("uid"), t.alias("t"),
        F.lit(0).alias("is_click"), F.lit(None).cast("long").alias("click_id"),
        t.alias("pt"),
    )
    w = (
        Window.partitionBy("uid")
        .orderBy("t", "is_click")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    m = clicks.unionByName(purchases).select(
        "t", "is_click", F.min("pt").over(w).alias("next_pt")
    )
    abandoned = F.col("next_pt").isNull() | (F.col("next_pt") - F.col("t") > 86400)
    return (
        m.filter(F.col("is_click") == 1)
        .groupBy(
            F.date_format(F.to_date(F.timestamp_seconds("t")), "yyyy-MM-dd").alias(
                "day"
            )
        )
        .agg(
            F.count("*").alias("n_clicks"),
            F.count(F.when(abandoned, 1)).alias("n_abandoned"),
            F.count(F.when(~abandoned, 1)).alias("n_converted"),
        )
        .orderBy("day")
    )


@register(
    "diversity_index_report",
    # vocabulary diversity per source: Simpson's index from EXACT
    # integer pair counts (sum n_i(n_i-1) over N(N-1)) + Shannon
    # entropy with per-term quantized contributions exact-summed
    """
WITH toks AS (
  SELECT source, t.term
  FROM documents,
       LATERAL UNNEST(string_split(regexp_replace(lower(trim(text)), '[^a-z0-9 ]', '', 'g'), ' ')) AS t(term)
  WHERE t.term <> ''
), tc AS (
  SELECT source, term, COUNT(*) AS c FROM toks GROUP BY source, term
), st AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS n_terms,
         CAST(SUM(c * (c - 1)) AS BIGINT) AS pair_mass
  FROM tc GROUP BY source
), sh AS (
  SELECT tc.source,
         CAST(SUM(CAST(FLOOR(-(CAST(c AS DOUBLE) / CAST(st.n AS DOUBLE))
                 * LN(CAST(c AS DOUBLE) / CAST(st.n AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS sh_u
  FROM tc JOIN st USING (source)
  GROUP BY tc.source
)
SELECT st.source, st.n AS n_tokens, CAST(st.n_terms AS BIGINT) AS n_terms,
       FLOOR(CAST(st.pair_mass AS DOUBLE) / CAST(st.n * (st.n - 1) AS DOUBLE) * 1e6 + 0.5) / 1e6
         AS simpson,
       sh.sh_u / 1e9 AS shannon_nats
FROM st JOIN sh USING (source)
ORDER BY st.source
""",
)
def diversity_index_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary diversity per source — Simpson's concentration index
    (the probability two random tokens coincide: EXACT integer pair
    mass over N(N-1)) and Shannon entropy (per-term contributions
    quantized at 1e-9 then exact-summed) — ecology's diversity metrics
    applied to corpus health: template-heavy sources score
    concentrated, organic ones diverse. Censuses are
    vocabulary-bounded."""
    docs = load_table(spark, sf_dir, "documents")
    normalized = F.regexp_replace(F.lower(F.trim(F.col("text"))), "[^a-z0-9 ]", "")
    toks = docs.select(
        "source", F.explode(F.split(normalized, " ")).alias("term")
    ).filter(F.col("term") != "")
    tc = toks.groupBy("source", "term").agg(F.count("*").alias("c"))
    st = tc.groupBy("source").agg(
        F.sum("c").alias("n"),
        F.count("*").alias("n_terms"),
        F.sum(F.col("c") * (F.col("c") - 1)).alias("pair_mass"),
    )
    p = F.col("c").cast("double") / F.col("n").cast("double")
    sh = (
        tc.join(st.select("source", "n"), "source")
        .select(
            "source",
            F.floor(-p * F.log(p) * 1e9 + F.lit(0.5)).cast("long").alias("u"),
        )
        .groupBy("source")
        .agg(F.sum("u").alias("sh_u"))
    )
    return (
        st.join(sh, "source")
        .select(
            "source",
            F.col("n").alias("n_tokens"),
            F.col("n_terms").cast("long").alias("n_terms"),
            (
                F.floor(
                    F.col("pair_mass").cast("double")
                    / (F.col("n") * (F.col("n") - 1)).cast("double")
                    * 1e6
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("simpson"),
            (F.col("sh_u") / F.lit(1e9)).alias("shannon_nats"),
        )
        .orderBy("source")
    )


@register(
    "price_elasticity_report",
    # per-brand OLS of quantity against unit price (cents): exact
    # integer moments combined in HUGEINT/DECIMAL(38,0), one float
    # division — the trend_lines kernel pointed at econometrics
    """
WITH base AS (
  SELECT p.p_brand AS brand,
         CAST(FLOOR(l.l_extendedprice / l.l_quantity * 100 + 0.5) AS BIGINT) AS price_c,
         CAST(l.l_quantity AS BIGINT) AS qty
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
), m AS (
  SELECT brand, COUNT(*) AS n, SUM(price_c) AS sx, SUM(qty) AS sy,
         SUM(price_c * price_c) AS sxx, SUM(price_c * qty) AS sxy
  FROM base GROUP BY brand
)
SELECT brand, CAST(n AS BIGINT) AS n,
       FLOOR(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
             / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
             * 1e9 + 0.5) / 1e9 AS qty_per_cent
FROM m ORDER BY brand
""",
)
def price_elasticity_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-vs-unit-price slope per brand (the demand-curve
    first look): the trend_lines one-pass exact-moment kernel pointed
    at econometrics — unit price quantized to exact cents, all five
    moments in one partial-agg pass, DECIMAL(38,0) combination, one
    float division at 1e-9 precision."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    base = lineitem.join(
        F.broadcast(part), lineitem.l_partkey == part.p_partkey
    ).select(
        F.col("p_brand").alias("brand"),
        F.floor(
            F.col("l_extendedprice") / F.col("l_quantity") * 100 + F.lit(0.5)
        )
        .cast("long")
        .alias("price_c"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    m = base.groupBy("brand").agg(
        F.count("*").alias("n"),
        F.sum("price_c").alias("sx"),
        F.sum("qty").alias("sy"),
        F.sum(F.col("price_c") * F.col("price_c")).alias("sxx"),
        F.sum(F.col("price_c") * F.col("qty")).alias("sxy"),
    )
    dec = "decimal(38,0)"
    num = F.col("n").cast(dec) * F.col("sxy").cast(dec) - F.col("sx").cast(
        dec
    ) * F.col("sy").cast(dec)
    den = F.col("n").cast(dec) * F.col("sxx").cast(dec) - F.col("sx").cast(
        dec
    ) * F.col("sx").cast(dec)
    return m.select(
        "brand",
        "n",
        (
            F.floor(num.cast("double") / den.cast("double") * 1e9 + F.lit(0.5))
            / F.lit(1e9)
        ).alias("qty_per_cent"),
    ).orderBy("brand")


@register(
    "text_readability",
    # Flesch-style readability from codegen counts: words, sentences
    # (periods + 1), syllable proxy (vowel groups) — the fixed float
    # formula quantized half-up; output gated 1-in-29
    """
WITH f AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS words,
         CAST(length(text) - length(replace(text, '.', '')) + 1 AS BIGINT) AS sentences,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS syllables
  FROM documents
)
SELECT doc_id, words, sentences, syllables,
       FLOOR((206.835
              - 1.015 * (CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE))
              - 84.6 * (CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE)))
             * 1e4 + 0.5) / 1e4 AS flesch
FROM f WHERE doc_id % 29 = 0
ORDER BY doc_id
""",
)
def text_readability_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease scoring: words, sentences (period count +
    1) and a vowel-group syllable proxy, all codegen counts, folded
    through the classic formula in one fixed float sequence — the
    readability gate some curation pipelines run next to
    text_quality's ratio features. Map-only; zero shuffle before the
    sample gate."""
    docs = load_table(spark, sf_dir, "documents")
    from ..operators.text import tokens

    words = F.size(tokens(F.col("text"))).cast("long")
    sentences = (
        F.length("text") - F.length(F.expr("replace(text, '.', '')")) + 1
    ).cast("long")
    syllables = F.size(
        F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")
    ).cast("long")
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (F.col("words").cast("double") / F.col("sentences").cast("double"))
        - F.lit(84.6) * (F.col("syllables").cast("double") / F.col("words").cast("double"))
    )
    return (
        docs.select(
            "doc_id",
            words.alias("words"),
            sentences.alias("sentences"),
            syllables.alias("syllables"),
        )
        .filter(F.col("doc_id") % 29 == 0)
        .select(
            "doc_id",
            "words",
            "sentences",
            "syllables",
            (F.floor(flesch * 1e4 + F.lit(0.5)) / F.lit(1e4)).alias("flesch"),
        )
        .orderBy("doc_id")
    )


@register(
    "degree_distribution_report",
    # degree census + log-log OLS slope (the power-law exponent
    # estimate): quantized logs as exact micro-integers, the
    # trend_lines moment combination — the graph family's descriptive
    # statistics
    """
WITH edges AS (
  SELECT DISTINCT user_id AS src, event_id % 500 AS dst FROM events
), deg AS (
  SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY src
), hist AS (
  SELECT d, COUNT(*) AS cnt FROM deg GROUP BY d
), logs AS (
  SELECT d, cnt,
         CAST(FLOOR(LN(CAST(d AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS lx,
         CAST(FLOOR(LN(CAST(cnt AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS ly
  FROM hist WHERE d >= 1
), m AS (
  SELECT COUNT(*) AS n, SUM(lx) AS sx, SUM(ly) AS sy,
         SUM(lx * lx) AS sxx, SUM(lx * ly) AS sxy
  FROM logs
)
SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
       (SELECT CAST(SUM(cnt * d) AS BIGINT) FROM hist) AS n_edges,
       (SELECT COUNT(*) FROM hist) AS n_distinct_degrees,
       (SELECT MAX(d) FROM hist) AS max_degree,
       FLOOR(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
             / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
             * 1e6 + 0.5) / 1e6 AS loglog_slope
FROM m
""",
)
def degree_distribution_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution characterization of the interaction graph:
    the degree census plus a log-log OLS slope — the power-law
    exponent read-off that tells you whether the graph is scale-free
    (and therefore whether skew salting and degree-ordered wedge caps
    are load-bearing; graph_triangles assumes exactly this). Logs are
    quantized to exact micro-integers so the moment algebra and
    slope are engine-stable; census shuffles bound by the degree
    domain."""
    events = load_events(spark, sf_dir)
    edges = (
        events.select(
            F.col("user_id").alias("src"), (F.col("event_id") % 500).alias("dst")
        )
        .distinct()
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    hist = deg.groupBy("d").agg(F.count("*").alias("cnt"))
    logs = hist.select(
        "d",
        "cnt",
        F.floor(F.log(F.col("d").cast("double")) * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("lx"),
        F.floor(F.log(F.col("cnt").cast("double")) * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("ly"),
    )
    m = logs.agg(
        F.count("*").alias("n"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
    )
    dec = "decimal(38,0)"
    num = F.col("n").cast(dec) * F.col("sxy").cast(dec) - F.col("sx").cast(
        dec
    ) * F.col("sy").cast(dec)
    den = F.col("n").cast(dec) * F.col("sxx").cast(dec) - F.col("sx").cast(
        dec
    ) * F.col("sx").cast(dec)
    stats = deg.agg(F.count("*").alias("n_nodes")).join(
        hist.agg(
            F.sum(F.col("cnt") * F.col("d")).alias("n_edges"),
            F.count("*").alias("n_distinct_degrees"),
            F.max("d").alias("max_degree"),
        )
    )
    return (
        m.join(F.broadcast(stats))
        .select(
            "n_nodes",
            F.col("n_edges").cast("long").alias("n_edges"),
            "n_distinct_degrees",
            "max_degree",
            (
                F.floor(num.cast("double") / den.cast("double") * 1e6 + F.lit(0.5))
                / F.lit(1e6)
            ).alias("loglog_slope"),
        )
    )


@register(
    "rolling_median",
    # 7-day rolling median of daily counts per type: the frame's
    # values collect into a (<=7)-element array and the discrete lower
    # median is one sort+index — exact integers, no approx sketch
    """
WITH days AS (
  SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS x
  FROM events GROUP BY 1, 2
), r AS (
  SELECT event_type, d, x,
         list(x) OVER (PARTITION BY event_type ORDER BY d
                       ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS frame
  FROM days
)
SELECT event_type, strftime(d, '%Y-%m-%d') AS day, CAST(x AS BIGINT) AS x,
       CAST(list_sort(frame)[(len(frame) + 1) // 2] AS BIGINT) AS rolling_median,
       CAST(len(frame) AS BIGINT) AS frame_n
FROM r ORDER BY event_type, day
""",
)
def rolling_median_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day median of daily volume per type — the ROBUST
    rolling statistic (rolling means chase spikes; operations
    dashboards want the median). No median window function exists in
    either engine, so the frame materializes as a bounded (<=7)
    array and the discrete lower median is a codegen sort+index —
    exact integers, and the pattern generalizes to any small-frame
    order statistic. Day-census-bounded everything."""
    events = load_events(spark, sf_dir)
    days = events.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count("*").alias("x"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-6, 0)
    )
    r = days.withColumn("frame", F.collect_list("x").over(w))
    med = F.element_at(
        F.array_sort("frame"), ((F.size("frame") + 1) / 2).cast("int")
    )
    return r.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("x").cast("long").alias("x"),
        med.cast("long").alias("rolling_median"),
        F.size("frame").cast("long").alias("frame_n"),
    ).orderBy("event_type", "day")


@register(
    "cohort_conversion_report",
    # conversion (ever makes a high-value purchase) by signup-week
    # cohort — the retention matrix's outcome-rate sibling
    """
WITH d0 AS (SELECT CAST(MIN(ts) AS DATE) AS d0 FROM events),
firsts AS (
  SELECT user_id,
         MIN(datediff('day', d0.d0, CAST(ts AS DATE)) // 7) AS cohort_week,
         MAX(CASE WHEN event_type = 'purchase' AND value > 150 THEN 1 ELSE 0 END) AS converted
  FROM events, d0 GROUP BY user_id
)
SELECT cohort_week, COUNT(*) AS n_users,
       CAST(SUM(converted) AS BIGINT) AS n_converted,
       FLOOR(CAST(SUM(converted) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) * 1e6 + 0.5) / 1e6
         AS conversion_rate
FROM firsts GROUP BY cohort_week ORDER BY cohort_week
""",
)
def cohort_conversion_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion by acquisition cohort: did users who arrived in week
    N ever convert (the ab_test_report metric) — cohort_retention says
    who COMES BACK, this says who PAYS, the second axis every growth
    team reads. One per-user aggregate carrying both the first-seen
    week MIN and the conversion MAX; cohort-bounded census."""
    events = load_events(spark, sf_dir)
    d0 = events.agg(F.to_date(F.min("ts")).alias("d0"))
    firsts = (
        events.join(F.broadcast(d0))
        .groupBy("user_id")
        .agg(
            F.min(
                F.expr("datediff(to_date(ts), d0) DIV 7")
            ).alias("cohort_week"),
            F.max(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("value") > 150), 1
                ).otherwise(0)
            ).alias("converted"),
        )
    )
    return (
        firsts.groupBy("cohort_week")
        .agg(
            F.count("*").alias("n_users"),
            F.sum("converted").cast("long").alias("n_converted"),
            (
                F.floor(
                    F.sum("converted").cast("double")
                    / F.count("*").cast("double")
                    * 1e6
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("conversion_rate"),
        )
        .orderBy("cohort_week")
    )


@register(
    "partition_gini_report",
    # Gini coefficient of per-key row counts — skew as ONE number,
    # exact integer numerator over sorted sizes
    """
WITH sizes AS (
  SELECT user_id % 32 AS pkey, COUNT(*) AS sz FROM events GROUP BY 1
), ranked AS (
  SELECT sz, ROW_NUMBER() OVER (ORDER BY sz, pkey) AS i, COUNT(*) OVER () AS n,
         SUM(sz) OVER () AS total
  FROM sizes
)
SELECT CAST(MAX(n) AS BIGINT) AS n_partitions,
       CAST(MAX(total) AS BIGINT) AS n_rows,
       CAST(MIN(sz) AS BIGINT) AS min_rows,
       CAST(MAX(sz) AS BIGINT) AS max_rows,
       FLOOR(CAST(SUM((2 * i - n - 1) * sz) AS DOUBLE)
             / CAST(MAX(n) * MAX(total) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS gini
FROM ranked
""",
)
def partition_gini_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-balance Gini: per-shuffle-key row counts summarized
    as the Gini coefficient (0 = perfectly balanced, ->1 = one key
    holds everything) — skew_profile lists heavy hitters, this is the
    single number an autoscaler or alert thresholds on. Exact integer
    numerator over the (tiny) sorted size relation."""
    events = load_events(spark, sf_dir)
    sizes = events.groupBy((F.col("user_id") % 32).alias("pkey")).agg(
        F.count("*").alias("sz")
    )
    w = Window.orderBy("sz", "pkey")
    wall = Window.partitionBy()
    ranked = sizes.select(
        "sz",
        F.row_number().over(w).alias("i"),
        F.count("*").over(wall).alias("n"),
        F.sum("sz").over(wall).alias("total"),
    )
    return ranked.agg(
        F.max("n").cast("long").alias("n_partitions"),
        F.max("total").cast("long").alias("n_rows"),
        F.min("sz").cast("long").alias("min_rows"),
        F.max("sz").cast("long").alias("max_rows"),
        (
            F.floor(
                F.sum(
                    (2 * F.col("i") - F.col("n") - 1) * F.col("sz")
                ).cast("double")
                / (F.max("n") * F.max("total")).cast("double")
                * 1e6
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("gini"),
    )


