"""Registry slice: mechanical round-6 split of the original single-file
registry.py (22.4k LoC) into family modules — see registry/__init__.py.
Slice order is preserved; oracle-builder helpers that read ORACLES at
import time rely on it."""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403
from ..operators import tiny_df
from ._shared import _FLAT_COLS, _nested_events  # noqa: F401
from .r2_stats_streams import _TOKS_CTE  # noqa: F401
from .r1_parity_ext import _TOKS  # noqa: F401

# ---------------------------------------------------------------------------
# ext (round 3): model-eval curve, survival analysis, winnowing dedup,
# t-closeness, BH-FDR, CUPED, LATERAL top-k — evaluation/stats surface a
# training-data pipeline runs around its gates. Reference has no analytics
# surface; extension mandated by the north star.
# ---------------------------------------------------------------------------
@register(
    "pr_curve_points",
    # same quality-model CTE as model_eval_auc; descending prefix sums
    # over the quantized-logit census; keep rows where the 5%-recall
    # bucket (ceil(recall*20)) first changes under lv-descending order
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
         COUNT(*) AS c,
         COUNT(CASE WHEN is_pos THEN 1 END) AS p
  FROM z GROUP BY 1
), cum AS (
  SELECT lv,
         SUM(c) OVER (ORDER BY lv DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_pred,
         SUM(p) OVER (ORDER BY lv DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
         SUM(p) OVER () AS pos_total
  FROM census
), pts AS (
  SELECT lv, n_pred, tp, pos_total,
         CEIL(tp / pos_total * 20) AS b,
         LAG(CEIL(tp / pos_total * 20)) OVER (ORDER BY lv DESC) AS pb
  FROM cum
)
SELECT lv / 1e4 AS threshold,
       CAST(n_pred AS BIGINT) AS n_pred,
       CAST(tp AS BIGINT) AS tp,
       FLOOR(tp / n_pred * 1e6 + 0.5) / 1e6 AS "precision",
       FLOOR(tp / pos_total * 1e6 + 0.5) / 1e6 AS recall
FROM pts WHERE pb IS NULL OR b <> pb
ORDER BY threshold DESC
""",
)
def pr_curve_points_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.pr_curve_points(load_table(spark, sf_dir, "documents"))


@register(
    "kaplan_meier_survival",
    # exact-hour census; at-risk prefix sums over the <=73-cell census;
    # survival = fixed left-to-right fold of per-time IEEE factors
    """
WITH per_user AS (
  SELECT user_id, MIN(ts) AS t0,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
  FROM events GROUP BY 1
), subj AS (
  SELECT CASE WHEN tp IS NOT NULL AND dh <= 72 THEN dh ELSE 72 END AS t,
         CASE WHEN tp IS NOT NULL AND dh <= 72 THEN 1 ELSE 0 END AS event
  FROM (SELECT tp, (epoch_us(tp) - epoch_us(t0)) // 3600000000 AS dh
        FROM per_user)
), census AS (
  SELECT t, COUNT(*) AS n_at, SUM(event) AS d_events FROM subj GROUP BY t
), risk AS (
  SELECT t, d_events, n_at - d_events AS n_censored,
         SUM(n_at) OVER ()
           - COALESCE(SUM(n_at) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk,
         ROW_NUMBER() OVER (ORDER BY t) AS rn
  FROM census
), packed AS (
  SELECT list(CAST(n_risk - d_events AS DOUBLE) / n_risk ORDER BY t) AS fs
  FROM risk
)
SELECT t, CAST(n_risk AS BIGINT) AS n_risk,
       CAST(d_events AS BIGINT) AS d_events,
       CAST(n_censored AS BIGINT) AS n_censored,
       FLOOR(list_reduce(fs[1:rn], (a, x) -> a * x) * 1e6 + 0.5) / 1e6
         AS survival
FROM risk, packed ORDER BY t
""",
)
def kaplan_meier_survival_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.kaplan_meier_survival(load_events(spark, sf_dir))


@register(
    "winnowing_fingerprints",
    # md5-15-hex gram hashes; rightmost-min window selection via
    # list_position over the reversed window; df-capped postings join;
    # canonical = CONNECTED-COMPONENT minimum over the >=5-shared
    # partner graph (recursive walk mirrors dedup_components)
    """
WITH ws AS (
  SELECT doc_id,
         list_filter(string_split(regexp_replace(lower(trim(text)),
           '[^a-z0-9 ]', '', 'g'), ' '), t -> t <> '') AS ws
  FROM documents
), hs AS (
  SELECT doc_id,
         list_transform(range(1, len(ws) - 2), i ->
           CAST(concat('0x', substr(md5(array_to_string(ws[i:i+3], ' ')), 1, 15))
                AS BIGINT)) AS hs
  FROM ws WHERE len(ws) >= 7
), fps AS (
  SELECT DISTINCT doc_id, f.sel AS sel, f.val AS val
  FROM (
    SELECT doc_id,
           UNNEST(list_transform(range(1, len(hs) - 2), j -> struct_pack(
             sel := j + 4 - list_position(list_reverse(hs[j:j+3]),
                                          list_aggregate(hs[j:j+3], 'min')),
             val := list_aggregate(hs[j:j+3], 'min')))) AS f
    FROM hs)
), n_fp AS (
  SELECT doc_id, COUNT(*) AS n_fingerprints FROM fps GROUP BY 1
), postings AS (
  SELECT DISTINCT doc_id, val FROM fps
), rare AS (
  SELECT val FROM postings GROUP BY val HAVING COUNT(*) <= 50
), pruned AS (
  SELECT p.doc_id, p.val FROM postings p JOIN rare USING (val)
), pairs AS (
  SELECT a.doc_id AS doc_id, b.doc_id AS partner, COUNT(*) AS shared
  FROM pruned a JOIN pruned b ON a.val = b.val AND a.doc_id <> b.doc_id
  GROUP BY 1, 2 HAVING COUNT(*) >= 5
), reach AS (
  WITH RECURSIVE walk(src, dst) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT w.src, p.partner FROM walk w JOIN pairs p ON w.dst = p.doc_id
  )
  SELECT src, MIN(dst) AS component_id FROM walk GROUP BY src
)
SELECT d.doc_id,
       CAST(COALESCE(n.n_fingerprints, 0) AS BIGINT) AS n_fingerprints,
       COALESCE(r.component_id, d.doc_id) AS canonical_id
FROM documents d
LEFT JOIN n_fp n USING (doc_id)
LEFT JOIN reach r ON r.src = d.doc_id
ORDER BY doc_id
""",
)
def winnowing_fingerprints_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup

    return dedup.winnowing_fingerprints(load_table(spark, sf_dir, "documents"))


@register(
    "t_closeness_report",
    # full (group x sensitive-domain) grid so absent cells contribute
    # |0 - ns*ng|; deviations are exact bigints, one final IEEE division
    """
WITH cells AS (
  SELECT event_type, user_id % 20 AS cohort,
         CAST(FLOOR(value) AS BIGINT) % 8 AS s, COUNT(*) AS n
  FROM events GROUP BY 1, 2, 3
), gm AS (
  SELECT event_type, cohort, SUM(n) AS ng FROM cells GROUP BY 1, 2
), sm AS (
  SELECT s, SUM(n) AS ns FROM cells GROUP BY 1
), tot AS (
  SELECT SUM(n) AS nn FROM cells
), terms AS (
  SELECT g.event_type, g.cohort, g.ng, t.nn,
         ABS(COALESCE(c.n, 0) * t.nn - s.ns * g.ng) AS dev
  FROM gm g CROSS JOIN sm s CROSS JOIN tot t
  LEFT JOIN cells c
    ON c.event_type = g.event_type AND c.cohort = g.cohort AND c.s = s.s
), grp AS (
  SELECT event_type, cohort, MAX(ng) AS n, MAX(nn) AS nn, SUM(dev) AS dev_u
  FROM terms GROUP BY 1, 2
)
SELECT event_type, CAST(cohort AS BIGINT) AS cohort, CAST(n AS BIGINT) AS n,
       FLOOR(dev_u / (2.0 * n * nn) * 1e6 + 0.5) / 1e6 AS tvd,
       dev_u / (2.0 * n * nn) > 0.2 AS breach
FROM grp ORDER BY event_type, cohort
""",
)
def t_closeness_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian, ICDE 2007 —
    public method) with total-variation distance: for each
    quasi-identifier class (event_type x user cohort), how far the
    class's sensitive-attribute distribution (bucketed value) sits
    from the global distribution — the release gate that catches what
    k-anonymity (class SIZE) and l-diversity (class CARDINALITY) miss:
    a large, diverse class can still leak by being skewed.

    Determinism: TVD sums |n_gs*N - n_s*N_g| as exact bigints over the
    FULL group x sensitive-domain grid (absent cells contribute
    |0 - n_s*N_g|); one IEEE division at the end.

    Plan shape: one partial-agg shuffle to the (group, s) census; the
    grid, margins, and TVD algebra run on census-bounded relations
    (|groups| x |s-domain| cells), never rows. Linear at 100 TB."""
    events = load_events(spark, sf_dir)
    cells = events.groupBy(
        "event_type",
        F.pmod(F.col("user_id"), F.lit(20)).alias("cohort"),
        F.pmod(F.floor(F.col("value")).cast("long"), F.lit(8)).alias("s"),
    ).agg(F.count("*").alias("n"))
    gm = cells.groupBy("event_type", "cohort").agg(F.sum("n").alias("ng"))
    sm = cells.groupBy("s").agg(F.sum("n").alias("ns"))
    tot = cells.agg(F.sum("n").alias("nn"))
    grid = gm.join(F.broadcast(sm)).join(F.broadcast(tot))
    terms = grid.join(
        cells, ["event_type", "cohort", "s"], "left"
    ).select(
        "event_type",
        "cohort",
        "ng",
        "nn",
        F.abs(
            F.coalesce(F.col("n"), F.lit(0)) * F.col("nn")
            - F.col("ns") * F.col("ng")
        ).alias("dev"),
    )
    grp = terms.groupBy("event_type", "cohort").agg(
        F.max("ng").alias("n"), F.max("nn").alias("nn"), F.sum("dev").alias("dev_u")
    )
    tvd_raw = F.col("dev_u") / (F.lit(2.0) * F.col("n") * F.col("nn"))
    return grp.select(
        "event_type",
        F.col("cohort").cast("long").alias("cohort"),
        F.col("n").cast("long").alias("n"),
        (F.floor(tvd_raw * 1e6 + F.lit(0.5)) / 1e6).alias("tvd"),
        (tvd_raw > 0.2).alias("breach"),
    ).orderBy("event_type", "cohort")


@register(
    "fdr_bh_correction",
    # Welch z from exact centi-unit integer moments; surrogate
    # two-sided p = 1 - |z|/sqrt(z^2+1) (rational, engine-stable — no
    # erf in either engine's stable subset); BH step-up at alpha=0.1
    """
WITH m AS (
  SELECT event_type,
         COUNT(CASE WHEN event_id % 2 = 0 THEN 1 END) AS na,
         SUM(CASE WHEN event_id % 2 = 0 THEN vu ELSE 0 END) AS sa,
         SUM(CASE WHEN event_id % 2 = 0 THEN vu * vu ELSE 0 END) AS qa,
         COUNT(CASE WHEN event_id % 2 <> 0 THEN 1 END) AS nb,
         SUM(CASE WHEN event_id % 2 <> 0 THEN vu ELSE 0 END) AS sb,
         SUM(CASE WHEN event_id % 2 <> 0 THEN vu * vu ELSE 0 END) AS qb
  FROM (SELECT event_type, event_id,
               CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vu FROM events)
  GROUP BY 1
), z AS (
  SELECT event_type,
         (sa / CAST(na AS DOUBLE) - sb / CAST(nb AS DOUBLE))
         / sqrt((qa - sa / CAST(na AS DOUBLE) * sa) / (na - 1) / na
              + (qb - sb / CAST(nb AS DOUBLE) * sb) / (nb - 1) / nb) AS zval
  FROM m
), p AS (
  SELECT event_type, zval,
         1.0 - ABS(zval) / sqrt(zval * zval + 1.0) AS pv
  FROM z
), ranked AS (
  SELECT event_type, zval, pv,
         ROW_NUMBER() OVER (ORDER BY pv, event_type) AS r,
         COUNT(*) OVER () AS m
  FROM p
), ks AS (
  SELECT COALESCE(MAX(CASE WHEN pv <= r * 0.1 / m THEN r END), 0) AS kstar
  FROM ranked
)
SELECT event_type,
       FLOOR(zval * 1e4 + 0.5) / 1e4 AS z,
       FLOOR(pv * 1e6 + 0.5) / 1e6 AS p_surrogate,
       CAST(r AS BIGINT) AS rank,
       r <= (SELECT kstar FROM ks) AS rejected
FROM ranked ORDER BY rank
""",
)
def fdr_bh_correction_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR step-up correction (Benjamini & Hochberg
    1995 — public method) across the per-event-type A/B mean tests: the
    multiple-testing guard an experimentation pipeline applies before
    declaring winners across many metrics. Welch z-statistics come
    from exact centi-unit integer moments; the two-sided p-value uses
    the rational surrogate CDF p = 1 - |z|/sqrt(z^2+1) (monotone in
    |z|; documented stand-in — neither engine has erf in the
    bit-stable subset, and BH consumes only the p ORDERING and
    threshold comparisons, both preserved). Step-up: reject ranks
    <= k* = max{r : p_(r) <= r*alpha/m} at alpha = 0.1.

    Determinism: integer moments are exact; z/p are fixed IEEE
    sequences (sqrt is correctly rounded per IEEE-754); the step-up
    scan runs on the metric census (|event_type| rows).

    Plan shape: ONE partial-agg shuffle to per-metric moments; the BH
    order statistics run on the bounded metric relation. At 100 TB the
    shuffle carries m metric rows, never events."""
    events = load_events(spark, sf_dir)
    vu = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    a = F.col("event_id") % 2 == 0
    m = events.select("event_type", a.alias("is_a"), vu.alias("vu")).groupBy(
        "event_type"
    ).agg(
        F.count(F.when(F.col("is_a"), 1)).alias("na"),
        F.sum(F.when(F.col("is_a"), F.col("vu")).otherwise(0)).alias("sa"),
        F.sum(F.when(F.col("is_a"), F.col("vu") * F.col("vu")).otherwise(0)).alias(
            "qa"
        ),
        F.count(F.when(~F.col("is_a"), 1)).alias("nb"),
        F.sum(F.when(~F.col("is_a"), F.col("vu")).otherwise(0)).alias("sb"),
        F.sum(F.when(~F.col("is_a"), F.col("vu") * F.col("vu")).otherwise(0)).alias(
            "qb"
        ),
    )
    na_d = F.col("na").cast("double")
    nb_d = F.col("nb").cast("double")
    zval = (F.col("sa") / na_d - F.col("sb") / nb_d) / F.sqrt(
        (F.col("qa") - F.col("sa") / na_d * F.col("sa"))
        / (F.col("na") - 1)
        / F.col("na")
        + (F.col("qb") - F.col("sb") / nb_d * F.col("sb"))
        / (F.col("nb") - 1)
        / F.col("nb")
    )
    z = m.select("event_type", zval.alias("zval"))
    pv = F.lit(1.0) - F.abs(F.col("zval")) / F.sqrt(
        F.col("zval") * F.col("zval") + F.lit(1.0)
    )
    p = z.select("event_type", "zval", pv.alias("pv"))
    wr = Window.orderBy("pv", "event_type")
    ranked = p.select(
        "event_type",
        "zval",
        "pv",
        F.row_number().over(wr).alias("r"),
        F.count("*").over(Window.partitionBy()).alias("m"),
    )
    ranked = ranked.withColumn(
        "kstar",
        F.coalesce(
            F.max(
                F.when(
                    F.col("pv") <= F.col("r") * 0.1 / F.col("m"), F.col("r")
                )
            ).over(Window.partitionBy()),
            F.lit(0),
        ),
    )
    return ranked.select(
        "event_type",
        (F.floor(F.col("zval") * 1e4 + F.lit(0.5)) / 1e4).alias("z"),
        (F.floor(F.col("pv") * 1e6 + F.lit(0.5)) / 1e6).alias("p_surrogate"),
        F.col("r").cast("long").alias("rank"),
        (F.col("r") <= F.col("kstar")).alias("rejected"),
    ).orderBy("rank")


@register(
    "cuped_adjustment",
    # exact centi-unit integer moments (bigint-safe through sf0.1;
    # the sf1+ path is DECIMAL(38) sums — same algebra); theta/xbar
    # are a broadcast one-row model; arm means adjust algebraically
    # (mean(yadj) = ybar_arm - theta*(xbar_arm - xbar)) so no
    # order-nondeterministic double sums exist anywhere
    """
WITH per_user AS (
  SELECT user_id, user_id % 2 AS arm,
         SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN vu ELSE 0 END) AS x,
         SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN vu ELSE 0 END) AS y
  FROM (SELECT user_id, ts,
               CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vu FROM events)
  GROUP BY 1
), g AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
  FROM per_user
), model AS (
  SELECT CAST(n * sxy - sx * sy AS DOUBLE)
           / CAST(n * sxx - sx * sx AS DOUBLE) AS theta,
         CAST(sx AS DOUBLE) / n AS xbar,
         CAST(n * sxy - sx * sy AS DOUBLE)
           * CAST(n * sxy - sx * sy AS DOUBLE)
           / CAST(n * sxx - sx * sx AS DOUBLE)
           / CAST(n * syy - sy * sy AS DOUBLE) AS var_reduction
  FROM g
), arms AS (
  SELECT arm, COUNT(*) AS n_users, SUM(x) AS sxa, SUM(y) AS sya
  FROM per_user GROUP BY arm
)
SELECT CAST(a.arm AS BIGINT) AS arm, CAST(a.n_users AS BIGINT) AS n_users,
       FLOOR(CAST(a.sya AS DOUBLE) / a.n_users / 100.0 * 1e6 + 0.5) / 1e6
         AS mean_y,
       FLOOR((CAST(a.sya AS DOUBLE) / a.n_users
              - m.theta * (CAST(a.sxa AS DOUBLE) / a.n_users - m.xbar))
             / 100.0 * 1e6 + 0.5) / 1e6 AS mean_y_cuped,
       FLOOR(m.theta * 1e6 + 0.5) / 1e6 AS theta,
       FLOOR(m.var_reduction * 1e6 + 0.5) / 1e6 AS var_reduction
FROM arms a CROSS JOIN model m ORDER BY arm
""",
)
def cuped_adjustment_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM 2013
    — public method) for the A/B report: per user, Y = post-cutoff
    spend and the covariate X = PRE-cutoff spend; theta = cov(X,Y)/
    var(X) fitted on the pooled population; each arm's adjusted mean
    is ybar_arm - theta*(xbar_arm - xbar). var_reduction is the
    achieved corr(X,Y)^2 = cov^2/(varX*varY).

    Determinism: ALL sums are exact centi-unit bigints (Spark's
    double-sum is accumulation-order-nondeterministic, so the per-user
    adjusted values are never summed as floats — the arm-mean
    adjustment is applied ALGEBRAICALLY from integer arm sums);
    theta/xbar/var_reduction are fixed IEEE sequences on a one-row
    relation.

    Plan shape: one shuffle on user_id (the per-subject table), one
    partial-agg pass each for the global-moment row and the 2-row arm
    relation; the model row broadcasts. At 100 TB: linear, two
    map-combine shuffles, no window over rows."""
    events = load_events(spark, sf_dir)
    cutoff = F.lit("2024-01-16").cast("timestamp")
    vu = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    per_user = events.select(
        "user_id", "ts", vu.alias("vu")
    ).groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cutoff, F.col("vu")).otherwise(0)).alias("x"),
        F.sum(F.when(F.col("ts") >= cutoff, F.col("vu")).otherwise(0)).alias("y"),
    ).withColumn("arm", F.pmod(F.col("user_id"), F.lit(2)))
    g = per_user.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    cov = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    varx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vary = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    model = g.select(
        (cov / varx).alias("theta"),
        (F.col("sx").cast("double") / F.col("n")).alias("xbar"),
        (cov * cov / varx / vary).alias("var_reduction"),
    )
    arms = per_user.groupBy("arm").agg(
        F.count("*").alias("n_users"),
        F.sum("x").alias("sxa"),
        F.sum("y").alias("sya"),
    )
    out = arms.join(F.broadcast(model))
    mean_y_raw = F.col("sya").cast("double") / F.col("n_users")
    mean_x_raw = F.col("sxa").cast("double") / F.col("n_users")
    return out.select(
        F.col("arm").cast("long").alias("arm"),
        F.col("n_users").cast("long").alias("n_users"),
        (F.floor(mean_y_raw / 100.0 * 1e6 + F.lit(0.5)) / 1e6).alias("mean_y"),
        (
            F.floor(
                (mean_y_raw - F.col("theta") * (mean_x_raw - F.col("xbar")))
                / 100.0
                * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("mean_y_cuped"),
        (F.floor(F.col("theta") * 1e6 + F.lit(0.5)) / 1e6).alias("theta"),
        (F.floor(F.col("var_reduction") * 1e6 + F.lit(0.5)) / 1e6).alias(
            "var_reduction"
        ),
    ).orderBy("arm")


@register(
    "join_lateral_topk",
    # DuckDB's lateral is the comma form; same correlation, same
    # (o_totalprice DESC, o_orderkey) tie-break, LIMIT 3
    """
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c, LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) t
ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey
""",
)
def join_lateral_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT — the SQL
    top-N-per-group surface (every-customer top-3 orders by price).
    Spark 4 DECORRELATES this (DecorrelateInnerQuery): the plan is a
    rank-window over a single orders shuffle keyed on o_custkey, not
    N per-customer probes — the declarative form and the hand-written
    window top-k (top_k_per_group_agg) converge to the same physical
    shape, which is the point of registering the SQL spelling.

    Plan shape at 100 TB: one shuffle of orders on custkey feeding the
    rank filter, then the join back to customer — no per-row
    subquery execution, no driver loop."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer c JOIN LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) t
        ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey
        """
    )


@register(
    "holt_linear_smoothing",
    # recursive CTE replays the identical IEEE recurrence per type:
    # l' = 0.5*y + 0.5*(l+b); b' = 0.3*(l'-l) + 0.7*b (expressions
    # repeated verbatim so the float sequences match bit-for-bit)
    """
WITH RECURSIVE census AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS DOUBLE) AS y,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY CAST(ts AS DATE)) AS rn
  FROM events GROUP BY 1, 2
), h AS (
  SELECT event_type, day, y, rn, y AS l, CAST(0.0 AS DOUBLE) AS b
  FROM census WHERE rn = 1
  UNION ALL
  SELECT c.event_type, c.day, c.y, c.rn,
         0.5 * c.y + 0.5 * (h.l + h.b) AS l,
         0.3 * ((0.5 * c.y + 0.5 * (h.l + h.b)) - h.l) + 0.7 * h.b AS b
  FROM h JOIN census c
    ON c.event_type = h.event_type AND c.rn = h.rn + 1
)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day, CAST(y AS BIGINT) AS y,
       FLOOR(l * 1e6 + 0.5) / 1e6 AS level,
       FLOOR(b * 1e6 + 0.5) / 1e6 AS trend,
       FLOOR(COALESCE(LAG(l) OVER w + LAG(b) OVER w, y) * 1e6 + 0.5) / 1e6
         AS fitted
FROM h
WINDOW w AS (PARTITION BY event_type ORDER BY day)
ORDER BY event_type, day
""",
)
def holt_linear_smoothing_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear (double-exponential) smoothing per event-type
    daily series — level + trend recursion (alpha=0.5, beta=0.3), the
    classic short-horizon forecaster a metrics pipeline fits next to
    the seasonal decomposition. fitted(t) is the one-step-ahead
    forecast l(t-1) + b(t-1).

    The recurrence is inherently sequential, so it runs WHERE the data
    is small: events aggregate to a (type, day) census (one partial-agg
    shuffle, |types| x |days| cells); each type's series packs into a
    sorted array (broadcast) and row t's state is a left fold over its
    prefix — O(days^2) folds on a <=31-element array, zero Python. At
    100 TB the corpus-size term is the census shuffle; the fold cost
    is unchanged.

    Determinism: the fold is a fixed IEEE sequence (mirrored verbatim
    in the oracle's recursive CTE); counts are exact; outputs floored
    at 1e-6."""
    events = load_events(spark, sf_dir)
    census = events.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("double").alias("y"))
    wrn = Window.partitionBy("event_type").orderBy("day")
    census = census.withColumn("rn", F.row_number().over(wrn))
    packed = census.groupBy("event_type").agg(
        F.expr("sort_array(collect_list(struct(rn, y)))").alias("ys")
    )
    folded = census.join(F.broadcast(packed), "event_type").withColumn(
        "st",
        F.expr(
            """
            aggregate(
              slice(ys, 2, rn - 1),
              named_struct('l', element_at(ys, 1).y, 'b', CAST(0.0 AS DOUBLE)),
              (a, e) -> named_struct(
                'l', 0.5 * e.y + 0.5 * (a.l + a.b),
                'b', 0.3 * ((0.5 * e.y + 0.5 * (a.l + a.b)) - a.l) + 0.7 * a.b))
            """
        ),
    )
    wl = Window.partitionBy("event_type").orderBy("day")
    fitted = F.coalesce(
        F.lag("st.l").over(wl) + F.lag("st.b").over(wl), F.col("y")
    )
    return folded.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("y").cast("long").alias("y"),
        (F.floor(F.col("st.l") * 1e6 + F.lit(0.5)) / 1e6).alias("level"),
        (F.floor(F.col("st.b") * 1e6 + F.lit(0.5)) / 1e6).alias("trend"),
        (F.floor(fitted * 1e6 + F.lit(0.5)) / 1e6).alias("fitted"),
    ).orderBy("event_type", "day")


@register(
    "mann_kendall_trend",
    # S from the i<j pair census; tie-corrected variance in exact
    # 18ths; z's three-way branch on integer S
    """
WITH census AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS y
  FROM events GROUP BY 1, 2
), s AS (
  SELECT a.event_type,
         SUM(CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END) AS s
  FROM census a JOIN census b
    ON a.event_type = b.event_type AND a.day < b.day
  GROUP BY 1
), n AS (
  SELECT event_type, COUNT(*) AS n FROM census GROUP BY 1
), ties AS (
  SELECT event_type, SUM(t * (t - 1) * (2 * t + 5)) AS tie18
  FROM (SELECT event_type, y, COUNT(*) AS t FROM census GROUP BY 1, 2)
  GROUP BY 1
), v AS (
  SELECT n.event_type, n.n, s.s,
         n.n * (n.n - 1) * (2 * n.n + 5) - COALESCE(t.tie18, 0) AS var18
  FROM n JOIN s USING (event_type) LEFT JOIN ties t USING (event_type)
)
SELECT event_type, CAST(n AS BIGINT) AS n_days, CAST(s AS BIGINT) AS s,
       CAST(var18 AS BIGINT) AS var18,
       FLOOR(CASE WHEN s > 0 THEN (s - 1) / sqrt(var18 / 18.0)
                  WHEN s < 0 THEN (s + 1) / sqrt(var18 / 18.0)
                  ELSE 0.0 END * 1e4 + 0.5) / 1e4 AS z,
       CASE WHEN s > 0 AND (s - 1) / sqrt(var18 / 18.0) > 1.96
              THEN 'increasing'
            WHEN s < 0 AND (s + 1) / sqrt(var18 / 18.0) < -1.96
              THEN 'decreasing'
            ELSE 'none' END AS trend
FROM v ORDER BY event_type
""",
)
def mann_kendall_trend_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test (Mann 1945, Kendall 1975 — public
    method) per event-type daily series: S = sum over day pairs i<j of
    sign(y_j - y_i), tie-corrected variance var(S) = [n(n-1)(2n+5) -
    sum_t t(t-1)(2t+5)]/18, z with the +-1 continuity correction —
    the distribution-free 'is this metric trending?' monitor that
    complements theil_sen_trend's slope ESTIMATE with a significance
    CALL.

    Determinism: S, var18 are exact integers from the census pair
    join; z is one IEEE division over a correctly-rounded sqrt.

    Plan shape: one partial-agg shuffle to the (type, day) census;
    the pair join, tie census, and variance run over |types| x |days|
    cells (<=155 rows) — the self-join is census-bounded exactly like
    theil_sen_trend. Linear at 100 TB."""
    events = load_events(spark, sf_dir)
    census = events.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").alias("y"))
    a, b = census.alias("a"), census.alias("b")
    s = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.day") < F.col("b.day")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(
                F.when(F.col("b.y") > F.col("a.y"), 1)
                .when(F.col("b.y") < F.col("a.y"), -1)
                .otherwise(0)
            ).alias("s")
        )
    )
    n = census.groupBy("event_type").agg(F.count("*").alias("n"))
    ties = (
        census.groupBy("event_type", "y")
        .agg(F.count("*").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tie18")
        )
    )
    v = (
        n.join(s, "event_type")
        .join(ties, "event_type", "left")
        .select(
            "event_type",
            "n",
            "s",
            (
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                - F.coalesce(F.col("tie18"), F.lit(0))
            ).alias("var18"),
        )
    )
    denom = F.sqrt(F.col("var18") / 18.0)
    zraw = (
        F.when(F.col("s") > 0, (F.col("s") - 1) / denom)
        .when(F.col("s") < 0, (F.col("s") + 1) / denom)
        .otherwise(F.lit(0.0))
    )
    return v.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        F.col("s").cast("long").alias("s"),
        F.col("var18").cast("long").alias("var18"),
        (F.floor(zraw * 1e4 + F.lit(0.5)) / 1e4).alias("z"),
        F.when((F.col("s") > 0) & ((F.col("s") - 1) / denom > 1.96), "increasing")
        .when((F.col("s") < 0) & ((F.col("s") + 1) / denom < -1.96), "decreasing")
        .otherwise("none")
        .alias("trend"),
    ).orderBy("event_type")


@register(
    "functional_dependency_audit",
    # five candidate FDs, each a (lhs -> count distinct rhs) census;
    # a key-side FD (n_name -> n_regionkey) anchors the 'holds' case
    """
WITH checks AS (
  SELECT 'part: p_name -> p_brand' AS fd, p_name AS k,
         COUNT(DISTINCT p_brand) AS nrhs FROM part GROUP BY 2
  UNION ALL
  SELECT 'part: p_brand -> p_size', p_brand,
         COUNT(DISTINCT p_size) FROM part GROUP BY 2
  UNION ALL
  SELECT 'orders: o_custkey -> o_orderpriority', CAST(o_custkey AS VARCHAR),
         COUNT(DISTINCT o_orderpriority) FROM orders GROUP BY 2
  UNION ALL
  SELECT 'lineitem: l_orderkey -> l_returnflag', CAST(l_orderkey AS VARCHAR),
         COUNT(DISTINCT l_returnflag) FROM lineitem GROUP BY 2
  UNION ALL
  SELECT 'nation: n_name -> n_regionkey', n_name,
         COUNT(DISTINCT n_regionkey) FROM nation GROUP BY 2
)
SELECT fd, CAST(COUNT(*) AS BIGINT) AS n_keys,
       COUNT(CASE WHEN nrhs > 1 THEN 1 END) AS n_violating_keys,
       CAST(MAX(nrhs) AS BIGINT) AS max_rhs_per_key,
       MAX(nrhs) = 1 AS holds
FROM checks GROUP BY fd ORDER BY fd
""",
)
def functional_dependency_audit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery/audit: for each candidate FD
    lhs -> rhs, count determinant values whose dependent is not unique
    — the data-profiling primitive behind schema inference, key
    detection, and denormalization safety checks (does this column
    RIDE on that one?).

    Plan shape: each FD is one partial-agg shuffle keyed on its lhs
    (count-distinct rhs per key), reduced to a single summary row
    map-side; the union is 5 rows. Per-FD cost is one exchange at any
    scale; FDs over different tables scan independently (column-pruned
    to exactly lhs+rhs)."""

    def check(df: DataFrame, fd: str, lhs: str, rhs: str) -> DataFrame:
        per_key = df.groupBy(lhs).agg(F.countDistinct(rhs).alias("nrhs"))
        return per_key.agg(
            F.lit(fd).alias("fd"),
            F.count("*").cast("long").alias("n_keys"),
            F.count(F.when(F.col("nrhs") > 1, 1)).alias("n_violating_keys"),
            F.max("nrhs").cast("long").alias("max_rhs_per_key"),
            (F.max("nrhs") == 1).alias("holds"),
        )

    part = load_table(spark, sf_dir, "part")
    out = (
        check(part, "part: p_name -> p_brand", "p_name", "p_brand")
        .unionAll(check(part, "part: p_brand -> p_size", "p_brand", "p_size"))
        .unionAll(
            check(
                load_table(spark, sf_dir, "orders"),
                "orders: o_custkey -> o_orderpriority",
                "o_custkey",
                "o_orderpriority",
            )
        )
        .unionAll(
            check(
                load_table(spark, sf_dir, "lineitem"),
                "lineitem: l_orderkey -> l_returnflag",
                "l_orderkey",
                "l_returnflag",
            )
        )
        .unionAll(
            check(
                load_table(spark, sf_dir, "nation"),
                "nation: n_name -> n_regionkey",
                "n_name",
                "n_regionkey",
            )
        )
    )
    return out.orderBy("fd")


@register(
    "referential_integrity_audit",
    # one anti-join per FK edge; parent key sets are dimension-sized
    # (broadcast) except orders<-lineitem which is the big-big case
    """
WITH edges AS (
  SELECT 'lineitem.l_orderkey -> orders' AS fk,
         (SELECT COUNT(*) FROM lineitem) AS n_child,
         (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
            (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
           AS n_orphans
  UNION ALL
  SELECT 'lineitem.l_partkey -> part',
         (SELECT COUNT(*) FROM lineitem),
         (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
            (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
  UNION ALL
  SELECT 'lineitem.l_suppkey -> supplier',
         (SELECT COUNT(*) FROM lineitem),
         (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
            (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
  UNION ALL
  SELECT 'orders.o_custkey -> customer',
         (SELECT COUNT(*) FROM orders),
         (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
            (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
  UNION ALL
  SELECT 'customer.c_nationkey -> nation',
         (SELECT COUNT(*) FROM customer),
         (SELECT COUNT(*) FROM customer c WHERE NOT EXISTS
            (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
  UNION ALL
  SELECT 'supplier.s_nationkey -> nation',
         (SELECT COUNT(*) FROM supplier),
         (SELECT COUNT(*) FROM supplier s WHERE NOT EXISTS
            (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey))
  UNION ALL
  SELECT 'nation.n_regionkey -> region',
         (SELECT COUNT(*) FROM nation),
         (SELECT COUNT(*) FROM nation n WHERE NOT EXISTS
            (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey))
)
SELECT fk, CAST(n_child AS BIGINT) AS n_child,
       CAST(n_orphans AS BIGINT) AS n_orphans,
       FLOOR(n_orphans * 1e6 / n_child + 0.5) / 1e4 AS orphan_pct
FROM edges ORDER BY fk
""",
)
def referential_integrity_audit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity sweep over the star schema's seven FK
    edges: per edge, child row count + orphan count (children whose
    FK misses every parent key) via LEFT ANTI join — the load-time
    contract check a warehouse runs before exposing a snapshot
    (expectations_check covers single-table rules; this is the
    CROSS-table contract).

    Plan shape: dimension-parent edges anti-join against a BROADCAST
    parent key set; the lineitem->orders edge is the genuine big-big
    anti (one shuffle pair on orderkey). Counts reduce map-side; the
    output is 7 rows. orphan_pct is an exact scaled-integer ratio."""

    def edge(child: DataFrame, fk: str, ck: str, parent: DataFrame, pk: str,
             broadcast_parent: bool = True) -> DataFrame:
        keys = parent.select(pk).distinct()
        if broadcast_parent:
            keys = F.broadcast(keys)
        orphans = child.join(keys, child[ck] == keys[pk], "left_anti")
        return child.agg(F.count("*").alias("n_child")).crossJoin(
            orphans.agg(F.count("*").alias("n_orphans"))
        ).select(
            F.lit(fk).alias("fk"),
            F.col("n_child").cast("long").alias("n_child"),
            F.col("n_orphans").cast("long").alias("n_orphans"),
            (
                F.floor(F.col("n_orphans") * 1e6 / F.col("n_child") + F.lit(0.5))
                / 1e4
            ).alias("orphan_pct"),
        )

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    out = (
        edge(li, "lineitem.l_orderkey -> orders", "l_orderkey", orders,
             "o_orderkey", broadcast_parent=False)
        .unionAll(edge(li, "lineitem.l_partkey -> part", "l_partkey",
                       load_table(spark, sf_dir, "part"), "p_partkey"))
        .unionAll(edge(li, "lineitem.l_suppkey -> supplier", "l_suppkey",
                       supp, "s_suppkey"))
        .unionAll(edge(orders, "orders.o_custkey -> customer", "o_custkey",
                       cust, "c_custkey", broadcast_parent=False))
        .unionAll(edge(cust, "customer.c_nationkey -> nation", "c_nationkey",
                       nat, "n_nationkey"))
        .unionAll(edge(supp, "supplier.s_nationkey -> nation", "s_nationkey",
                       nat, "n_nationkey"))
        .unionAll(edge(nat, "nation.n_regionkey -> region", "n_regionkey",
                       load_table(spark, sf_dir, "region"), "r_regionkey"))
    )
    return out.orderBy("fk")


@register(
    "embedding_drift_report",
    # cohort centroids ride the embedding_centroids convention
    # (ROUND(AVG,4) -> exact scaled ints); distances are integer
    # algebra + correctly-rounded sqrt
    """
WITH cent AS (
  SELECT label, vec_id % 2 AS cohort, i AS pos,
         CAST(ROUND(ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 4) * 1e4)
              AS BIGINT) AS iu
  FROM embeddings, generate_series(1, 64) t(i)
  GROUP BY 1, 2, 3
), sizes AS (
  SELECT label,
         COUNT(DISTINCT CASE WHEN vec_id % 2 = 0 THEN vec_id END) AS n_a,
         COUNT(DISTINCT CASE WHEN vec_id % 2 <> 0 THEN vec_id END) AS n_b
  FROM embeddings GROUP BY 1
), paired AS (
  SELECT a.label,
         SUM((a.iu - b.iu) * (a.iu - b.iu)) AS l2,
         SUM(a.iu * b.iu) AS dot,
         SUM(a.iu * a.iu) AS na2,
         SUM(b.iu * b.iu) AS nb2
  FROM cent a JOIN cent b ON a.label = b.label AND a.pos = b.pos
  WHERE a.cohort = 0 AND b.cohort = 1
  GROUP BY 1
)
SELECT p.label, CAST(s.n_a AS BIGINT) AS n_a, CAST(s.n_b AS BIGINT) AS n_b,
       FLOOR(sqrt(l2) / 1e4 * 1e6 + 0.5) / 1e6 AS l2_shift,
       FLOOR(dot / sqrt(na2) / sqrt(nb2) * 1e6 + 0.5) / 1e6 AS cos_centroids
FROM paired p JOIN sizes s ON p.label = s.label
ORDER BY p.label
""",
)
def embedding_drift_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift monitor: split each label's vectors into two
    cohorts (vec_id parity stands in for the before/after snapshot),
    compute both cohort centroids, and report the centroid L2 shift
    and cosine similarity — the check a feature-store pipeline runs
    when a new encoder version lands (centroids moving = downstream
    ANN indexes and thresholds need re-tuning).

    Determinism: centroids take the embedding_centroids convention
    (ROUND(AVG, 4)) then quantize to exact 1e-4 ints, so all distance
    algebra is integer sums + one correctly-rounded sqrt per term.

    Plan shape: posexplode + partial-agg shuffle bounded by
    |labels| x 2 x dim cells (the label_centroids shape — shuffle
    carries partial sums, never vectors); the pairing join and the
    report run on that census. Linear at 100 TB."""
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label",
        F.pmod(F.col("vec_id"), F.lit(2)).alias("cohort"),
        F.posexplode(F.transform("embedding", lambda v: v.cast("double"))).alias(
            "pos0", "x"
        ),
    )
    cent = (
        exploded.groupBy("label", "cohort", (F.col("pos0") + 1).alias("pos"))
        .agg(
            F.round(F.round(F.avg("x"), 4) * 1e4)
            .cast("long")
            .alias("iu")
        )
    )
    sizes = emb.groupBy("label").agg(
        F.countDistinct(
            F.when(F.pmod(F.col("vec_id"), F.lit(2)) == 0, F.col("vec_id"))
        ).alias("n_a"),
        F.countDistinct(
            F.when(F.pmod(F.col("vec_id"), F.lit(2)) != 0, F.col("vec_id"))
        ).alias("n_b"),
    )
    a = cent.filter(F.col("cohort") == 0).select(
        "label", "pos", F.col("iu").alias("ia")
    )
    b = cent.filter(F.col("cohort") == 1).select(
        "label", "pos", F.col("iu").alias("ib")
    )
    paired = (
        a.join(b, ["label", "pos"])
        .groupBy("label")
        .agg(
            F.sum((F.col("ia") - F.col("ib")) * (F.col("ia") - F.col("ib"))).alias(
                "l2"
            ),
            F.sum(F.col("ia") * F.col("ib")).alias("dot"),
            F.sum(F.col("ia") * F.col("ia")).alias("na2"),
            F.sum(F.col("ib") * F.col("ib")).alias("nb2"),
        )
    )
    return (
        paired.join(sizes, "label")
        .select(
            "label",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            (
                F.floor(F.sqrt(F.col("l2")) / 1e4 * 1e6 + F.lit(0.5)) / 1e6
            ).alias("l2_shift"),
            (
                F.floor(
                    F.col("dot")
                    / F.sqrt(F.col("na2"))
                    / F.sqrt(F.col("nb2"))
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("cos_centroids"),
        )
        .orderBy("label")
    )


@register(
    "streaming_topk_windowed",
    # batch mirror of the watermarked windowed counts + per-window
    # rank(3) with the (n_events DESC, event_type) tie-break
    """
WITH counts AS (
  SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
           AS window_start,
         event_type, COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT window_start,
       CAST(ROW_NUMBER() OVER (PARTITION BY window_start
                               ORDER BY n_events DESC, event_type) AS INT)
         AS rank,
       event_type, n_events
FROM counts
QUALIFY rank <= 3
ORDER BY window_start, rank
""",
)
def streaming_topk_windowed_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-window top-k: the watermarked tumbling-window
    count stream drained with Trigger.AvailableNow, then ranked to the
    top-3 event types per hour — the 'trending now' board. The rank
    runs OVER THE MATERIALIZED WINDOW AGGREGATE (complete-mode output
    is |windows| x |types| rows), not the stream: per-window state in
    flight stays the watermark-bounded count state, and the top-k is a
    census-sized window pass per drain — the production shape is this
    exact rank in the foreachBatch sink."""
    from ..streaming import jobs

    stream = jobs.stream_events(spark, sf_dir)
    mat = jobs.run_available_now(
        jobs.windowed_counts(stream), "streaming_topk_windowed"
    )
    w = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), "event_type"
    )
    return (
        mat.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .select("window_start", "rank", "event_type", "n_events")
        .orderBy("window_start", "rank")
    )


@register(
    "isotonic_calibration",
    # same quality-model CTE; minimax identity over the bin census:
    # iso(t) = max_{i<=t} min_{j>=t} wavg(i..j), each wavg ONE division
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
  SELECT CAST(FLOOR(CAST(FLOOR(z * 1e4 + 0.5) AS BIGINT) / 250.0) AS BIGINT)
           AS bin,
         COUNT(*) AS n,
         COUNT(CASE WHEN is_pos THEN 1 END) AS n_pos
  FROM z GROUP BY 1
), pre AS (
  SELECT bin, n, n_pos,
         ROW_NUMBER() OVER (ORDER BY bin) AS rn,
         SUM(n) OVER (ORDER BY bin
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
         SUM(n_pos) OVER (ORDER BY bin
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp
  FROM census
), inner_min AS (
  SELECT t.bin, t.n, t.n_pos, t.rn AS t_rn, i.rn AS i_rn,
         MIN(CAST(j.cp - (i.cp - i.n_pos) AS DOUBLE)
             / CAST(j.cn - (i.cn - i.n) AS DOUBLE)) AS mn
  FROM pre t
  JOIN pre i ON i.rn <= t.rn
  JOIN pre j ON j.rn >= t.rn
  GROUP BY 1, 2, 3, 4, 5
)
SELECT bin, CAST(n AS BIGINT) AS n, CAST(n_pos AS BIGINT) AS n_pos,
       FLOOR(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) * 1e6 + 0.5) / 1e6
         AS pos_rate,
       FLOOR(MAX(mn) * 1e6 + 0.5) / 1e6 AS iso_fit
FROM inner_min GROUP BY bin, n, n_pos ORDER BY bin
""",
)
def isotonic_calibration_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.isotonic_calibration(load_table(spark, sf_dir, "documents"))


@register(
    "logrank_test",
    # oracle computes per-arm at-risk sets by direct census-scale
    # counting (values identical to the engine's LOCF construction);
    # O/E/V terms quantize at 1e-9 before summation on both engines
    """
WITH per_user AS (
  SELECT user_id, MIN(ts) AS t0,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
  FROM events GROUP BY 1
), subj AS (
  SELECT user_id % 2 AS arm,
         CASE WHEN tp IS NOT NULL AND dh <= 72 THEN dh ELSE 72 END AS t,
         CASE WHEN tp IS NOT NULL AND dh <= 72 THEN 1 ELSE 0 END AS event
  FROM (SELECT user_id, tp,
               (epoch_us(tp) - epoch_us(t0)) // 3600000000 AS dh
        FROM per_user)
), times AS (
  SELECT DISTINCT t FROM subj
), cells AS (
  SELECT ti.t,
         (SELECT COALESCE(SUM(s.event), 0) FROM subj s
          WHERE s.arm = 0 AND s.t = ti.t) AS d0,
         (SELECT COALESCE(SUM(s.event), 0) FROM subj s
          WHERE s.arm = 1 AND s.t = ti.t) AS d1,
         (SELECT COUNT(*) FROM subj s
          WHERE s.arm = 0 AND s.t >= ti.t) AS n0,
         (SELECT COUNT(*) FROM subj s
          WHERE s.arm = 1 AND s.t >= ti.t) AS n1
  FROM times ti
), terms AS (
  SELECT d0,
         CAST(FLOOR(CAST(d AS DOUBLE) * frac0 * 1e9 + 0.5) AS BIGINT) AS e0q,
         CAST(FLOOR(CAST(d AS DOUBLE) * frac0 * (1.0 - frac0)
                    * CAST(n - d AS DOUBLE) / CAST(n - 1 AS DOUBLE)
                    * 1e9 + 0.5) AS BIGINT) AS vq
  FROM (SELECT d0, d1, d0 + d1 AS d, n0 + n1 AS n,
               CAST(n0 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE) AS frac0
        FROM cells)
  WHERE d > 0 AND n > 1
), agg AS (
  SELECT COUNT(*) AS n_times, SUM(d0) AS o0, SUM(e0q) AS se0, SUM(vq) AS sv
  FROM terms
)
SELECT CAST(n_times AS BIGINT) AS n_times, CAST(o0 AS BIGINT) AS o0,
       FLOOR(se0 / 1e9 * 1e6 + 0.5) / 1e6 AS e0,
       FLOOR((CAST(o0 AS DOUBLE) - se0 / 1e9) * (CAST(o0 AS DOUBLE) - se0 / 1e9)
             / (sv / 1e9) * 1e4 + 0.5) / 1e4 AS chi2,
       (CAST(o0 AS DOUBLE) - se0 / 1e9) * (CAST(o0 AS DOUBLE) - se0 / 1e9)
         / (sv / 1e9) > 3.841 AS significant
FROM agg
""",
)
def logrank_test_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.logrank_test(load_events(spark, sf_dir))


@register(
    "jackknife_ratio_ci",
    # delete-one-bucket ratio estimates quantized at 1e-4 BEFORE the
    # variance sum (exact ints end-to-end); se/CI are fixed IEEE
    """
WITH b AS (
  SELECT user_id % 32 AS g,
         SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS s,
         COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS c
  FROM events GROUP BY 1
), tot AS (
  SELECT COUNT(*) AS gn, SUM(s) AS st, SUM(c) AS ct FROM b
), rq AS (
  SELECT CAST(FLOOR(CAST(tot.st - b.s AS DOUBLE)
                    / CAST(tot.ct - b.c AS DOUBLE) * 1e4 + 0.5) AS BIGINT) AS r
  FROM b CROSS JOIN tot
), dev AS (
  SELECT SUM((t.gn * rq.r - s.srq) * (t.gn * rq.r - s.srq)) AS sumdev2
  FROM rq CROSS JOIN (SELECT SUM(r) AS srq FROM rq) s CROSS JOIN tot t
), fin AS (
  SELECT t.gn, CAST(t.st AS DOUBLE) / t.ct AS r_c,
         sqrt((t.gn - 1.0) / t.gn * CAST(d.sumdev2 AS DOUBLE)) / t.gn / 1e4
           AS se_c
  FROM tot t CROSS JOIN dev d
)
SELECT CAST(gn AS BIGINT) AS n_buckets,
       FLOOR(r_c / 100.0 * 1e6 + 0.5) / 1e6 AS ratio,
       FLOOR(se_c / 100.0 * 1e6 + 0.5) / 1e6 AS jk_se,
       FLOOR((r_c - 1.96 * se_c) / 100.0 * 1e6 + 0.5) / 1e6 AS ci_lo,
       FLOOR((r_c + 1.96 * se_c) / 100.0 * 1e6 + 0.5) / 1e6 AS ci_hi
FROM fin
""",
)
def jackknife_ratio_ci_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-group jackknife CI (Quenouille/Tukey — public
    method) for a RATIO metric (purchase revenue per click), the
    estimator A/B platforms use because a ratio of sums has no simple
    closed-form variance: split users into 32 hash buckets, recompute
    the ratio with each bucket deleted, and take the jackknife
    variance of the 32 leave-one-out estimates.

    Determinism: bucket sums are exact centi-ints; each leave-one-out
    ratio quantizes at 1e-4 BEFORE the variance accumulation, so the
    deviation sum is exact integer algebra (a float sum over buckets
    would be order-nondeterministic); se/CI are fixed IEEE sequences.

    Plan shape: one partial-agg shuffle to 32 bucket rows; everything
    after is census algebra. The bucket count is the scale knob — at
    100 TB you'd use 256 buckets, still census-sized."""
    events = load_events(spark, sf_dir)
    vu = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    b = events.groupBy(F.pmod(F.col("user_id"), F.lit(32)).alias("g")).agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", vu).otherwise(0)
        ).alias("s"),
        F.count(F.when(F.col("event_type") == "click", 1)).alias("c"),
    )
    tot = b.agg(
        F.count("*").alias("gn"), F.sum("s").alias("st"), F.sum("c").alias("ct")
    )
    rq = b.join(F.broadcast(tot)).select(
        F.floor(
            (F.col("st") - F.col("s")).cast("double")
            / (F.col("ct") - F.col("c")).cast("double")
            * 1e4
            + F.lit(0.5)
        )
        .cast("long")
        .alias("r"),
        "gn",
    )
    srq = rq.agg(F.sum("r").alias("srq"))
    dev = (
        rq.join(F.broadcast(srq))
        .select(
            ((F.col("gn") * F.col("r") - F.col("srq"))
             * (F.col("gn") * F.col("r") - F.col("srq"))).alias("d2")
        )
        .agg(F.sum("d2").alias("sumdev2"))
    )
    fin = tot.join(F.broadcast(dev)).select(
        "gn",
        (F.col("st").cast("double") / F.col("ct")).alias("r_c"),
        (
            F.sqrt(
                (F.col("gn") - F.lit(1.0))
                / F.col("gn")
                * F.col("sumdev2").cast("double")
            )
            / F.col("gn")
            / F.lit(1e4)
        ).alias("se_c"),
    )
    q = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return fin.select(
        F.col("gn").cast("long").alias("n_buckets"),
        q(F.col("r_c") / 100.0).alias("ratio"),
        q(F.col("se_c") / 100.0).alias("jk_se"),
        q((F.col("r_c") - 1.96 * F.col("se_c")) / 100.0).alias("ci_lo"),
        q((F.col("r_c") + 1.96 * F.col("se_c")) / 100.0).alias("ci_hi"),
    )


@register(
    "spearman_daily",
    # midranks doubled to stay integral (2mr = 2*min_rank + ties - 1);
    # Spearman = Pearson over exact midrank moments
    """
WITH census AS (
  SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS x,
         SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS y
  FROM orders GROUP BY 1
), ranked AS (
  SELECT 2 * RANK() OVER (ORDER BY x) + COUNT(*) OVER (PARTITION BY x) - 1
           AS a,
         2 * RANK() OVER (ORDER BY y) + COUNT(*) OVER (PARTITION BY y) - 1
           AS b
  FROM census
), m AS (
  SELECT COUNT(*) AS n, SUM(a) AS sa, SUM(b) AS sb, SUM(a * b) AS sab,
         SUM(a * a) AS saa, SUM(b * b) AS sbb
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_days,
       FLOOR(CAST(n * sab - sa * sb AS DOUBLE)
             / sqrt(CAST(n * saa - sa * sa AS DOUBLE))
             / sqrt(CAST(n * sbb - sb * sb AS DOUBLE)) * 1e6 + 0.5) / 1e6
         AS rho
FROM m
""",
)
def spearman_daily_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between daily order count and daily
    revenue — the robust monotone-association twin of agg_correlation's
    Pearson (rank-based, so outlier days can't dominate). Midranks are
    kept as exact integers by DOUBLING (2mr = 2*min_rank + ties - 1),
    so all correlation moments are exact and the only float ops are
    the final division over two correctly-rounded sqrts.

    Plan shape: one partial-agg shuffle to the day census (~30 cells);
    ranks and moments run on the census. Linear at 100 TB."""
    orders = load_table(spark, sf_dir, "orders")
    census = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.count("*").alias("x"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("y"),
    )
    ranked = census.select(
        (
            2 * F.rank().over(Window.orderBy("x"))
            + F.count("*").over(Window.partitionBy("x"))
            - 1
        ).alias("a"),
        (
            2 * F.rank().over(Window.orderBy("y"))
            + F.count("*").over(Window.partitionBy("y"))
            - 1
        ).alias("b"),
    )
    m = ranked.agg(
        F.count("*").alias("n"),
        F.sum("a").alias("sa"),
        F.sum("b").alias("sb"),
        F.sum(F.col("a") * F.col("b")).alias("sab"),
        F.sum(F.col("a") * F.col("a")).alias("saa"),
        F.sum(F.col("b") * F.col("b")).alias("sbb"),
    )
    rho = (
        (F.col("n") * F.col("sab") - F.col("sa") * F.col("sb")).cast("double")
        / F.sqrt((F.col("n") * F.col("saa") - F.col("sa") * F.col("sa")).cast("double"))
        / F.sqrt((F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb")).cast("double"))
    )
    return m.select(
        F.col("n").cast("long").alias("n_days"),
        (F.floor(rho * 1e6 + F.lit(0.5)) / 1e6).alias("rho"),
    )


@register(
    "mrr_recall_eval",
    # binary relevance = contains ALL query terms; first-rank/hits
    # over the bm25 top-10 (same CTE as ndcg_eval's relevance census)
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
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY su DESC, doc_id) AS rank
  FROM agg QUALIFY rank <= 10
), qsize AS (
  SELECT query_id, COUNT(*) AS n_terms FROM q GROUP BY 1
), fullrel AS (
  SELECT r.query_id, r.doc_id
  FROM (SELECT q.query_id, t.doc_id, COUNT(*) AS rel
        FROM (SELECT DISTINCT doc_id, term FROM toks) t JOIN q USING (term)
        GROUP BY 1, 2) r
  JOIN qsize USING (query_id)
  WHERE r.rel = qsize.n_terms
), nrel AS (
  SELECT query_id, COUNT(*) AS n_relevant FROM fullrel GROUP BY 1
), hits AS (
  SELECT r.query_id, MIN(r.rank) AS first_rank, COUNT(*) AS n_hits
  FROM ranked r JOIN fullrel f
    ON r.query_id = f.query_id AND r.doc_id = f.doc_id
  GROUP BY 1
)
SELECT n.query_id, CAST(n.n_relevant AS BIGINT) AS n_relevant,
       CAST(COALESCE(h.first_rank, 0) AS BIGINT) AS first_rank,
       FLOOR(CASE WHEN h.first_rank IS NOT NULL THEN 1.0 / h.first_rank
                  ELSE 0.0 END * 1e6 + 0.5) / 1e6 AS mrr,
       FLOOR(CAST(COALESCE(h.n_hits, 0) AS DOUBLE)
             / CAST(n.n_relevant AS DOUBLE) * 1e6 + 0.5) / 1e6 AS recall_at_k
FROM nrel n LEFT JOIN hits h ON n.query_id = h.query_id
ORDER BY n.query_id
""",
)
def mrr_recall_eval_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.mrr_recall_eval(load_table(spark, sf_dir, "documents"))


@register(
    "welch_ttest",
    # exact centi-int moments per arm; every downstream float op is
    # the SAME fixed IEEE expression tree on both engines
    """
WITH st AS (
  SELECT user_id % 2 AS arm, COUNT(*) AS n,
         SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS s1,
         SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
             * CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS s2
  FROM events WHERE event_type = 'purchase' GROUP BY 1
), j AS (
  SELECT a.n AS n0, a.s1 AS a1, a.s2 AS a2, b.n AS n1, b.s1 AS b1, b.s2 AS b2
  FROM st a, st b WHERE a.arm = 0 AND b.arm = 1
), c AS (
  SELECT n0, n1,
         CAST(a1 AS DOUBLE) / n0 AS m0, CAST(b1 AS DOUBLE) / n1 AS m1,
         (CAST(a2 AS DOUBLE) - CAST(a1 AS DOUBLE) * a1 / n0) / (n0 - 1) AS v0,
         (CAST(b2 AS DOUBLE) - CAST(b1 AS DOUBLE) * b1 / n1) / (n1 - 1) AS v1
  FROM j
), t AS (
  SELECT n0, n1, m0, m1,
         (m1 - m0) / SQRT(v0 / n0 + v1 / n1) AS tstat,
         (v0 / n0 + v1 / n1) * (v0 / n0 + v1 / n1)
           / ((v0 / n0) * (v0 / n0) / (n0 - 1)
              + (v1 / n1) * (v1 / n1) / (n1 - 1)) AS dof
  FROM c
)
SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
       FLOOR(m0 / 100.0 * 1e4 + 0.5) / 1e4 AS mean0,
       FLOOR(m1 / 100.0 * 1e4 + 0.5) / 1e4 AS mean1,
       FLOOR(tstat * 1e4 + 0.5) / 1e4 AS t_stat,
       FLOOR(dof * 1e2 + 0.5) / 1e2 AS welch_df,
       ABS(tstat) > 1.96 AS significant
FROM t
""",
)
def welch_ttest_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test (Welch 1947 — public method)
    comparing mean purchase value between the user-parity arms — the
    continuous-metric complement of ab_test_report's conversion z-test
    (revenue metrics have unequal variances across arms; Student's
    pooled test would be wrong).

    Determinism: per-arm (n, sum, sum-of-squares) are exact centi-int
    moments; mean/variance/t/Welch-Satterthwaite df are a fixed IEEE
    expression tree evaluated identically on both engines.

    Plan shape: ONE partial-agg shuffle to 2 arm rows; the test itself
    is one-row algebra. Linear at 100 TB, no scale knob needed."""
    events = load_events(spark, sf_dir)
    vu = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    st = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(F.pmod(F.col("user_id"), F.lit(2)).alias("arm"))
        .agg(
            F.count("*").alias("n"),
            F.sum(vu).alias("s1"),
            F.sum(vu * vu).alias("s2"),
        )
    )
    a = st.filter(F.col("arm") == 0).select(
        F.col("n").alias("n0"), F.col("s1").alias("a1"), F.col("s2").alias("a2")
    )
    b = st.filter(F.col("arm") == 1).select(
        F.col("n").alias("n1"), F.col("s1").alias("b1"), F.col("s2").alias("b2")
    )
    j = a.join(F.broadcast(b))
    m0 = F.col("a1").cast("double") / F.col("n0")
    m1 = F.col("b1").cast("double") / F.col("n1")
    v0 = (
        F.col("a2").cast("double") - F.col("a1").cast("double") * F.col("a1") / F.col("n0")
    ) / (F.col("n0") - 1)
    v1 = (
        F.col("b2").cast("double") - F.col("b1").cast("double") * F.col("b1") / F.col("n1")
    ) / (F.col("n1") - 1)
    c = j.select("n0", "n1", m0.alias("m0"), m1.alias("m1"), v0.alias("v0"), v1.alias("v1"))
    tstat = (F.col("m1") - F.col("m0")) / F.sqrt(
        F.col("v0") / F.col("n0") + F.col("v1") / F.col("n1")
    )
    dof = (
        (F.col("v0") / F.col("n0") + F.col("v1") / F.col("n1"))
        * (F.col("v0") / F.col("n0") + F.col("v1") / F.col("n1"))
    ) / (
        (F.col("v0") / F.col("n0")) * (F.col("v0") / F.col("n0")) / (F.col("n0") - 1)
        + (F.col("v1") / F.col("n1")) * (F.col("v1") / F.col("n1")) / (F.col("n1") - 1)
    )
    t = c.select("n0", "n1", "m0", "m1", tstat.alias("tstat"), dof.alias("dof"))
    return t.select(
        F.col("n0").cast("long").alias("n0"),
        F.col("n1").cast("long").alias("n1"),
        (F.floor(F.col("m0") / 100.0 * 1e4 + F.lit(0.5)) / 1e4).alias("mean0"),
        (F.floor(F.col("m1") / 100.0 * 1e4 + F.lit(0.5)) / 1e4).alias("mean1"),
        (F.floor(F.col("tstat") * 1e4 + F.lit(0.5)) / 1e4).alias("t_stat"),
        (F.floor(F.col("dof") * 1e2 + F.lit(0.5)) / 1e2).alias("welch_df"),
        (F.abs(F.col("tstat")) > 1.96).alias("significant"),
    )


@register(
    "kendall_tau_daily",
    # concordant/discordant pair counts over the day census; the pair
    # relation is census^2/2 — bounded by distinct days, never by rows
    """
WITH census AS (
  SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS x,
         SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS y
  FROM orders GROUP BY 1
), p AS (
  SELECT a.x AS ax, a.y AS ay, b.x AS bx, b.y AS by_
  FROM census a JOIN census b ON a.day < b.day
), cnt AS (
  SELECT COUNT(*) AS n0,
         SUM(CASE WHEN (ax - bx) * (ay - by_) > 0 THEN 1 ELSE 0 END) AS c,
         SUM(CASE WHEN (ax - bx) * (ay - by_) < 0 THEN 1 ELSE 0 END) AS d,
         SUM(CASE WHEN ax = bx THEN 1 ELSE 0 END) AS tx,
         SUM(CASE WHEN ay = by_ THEN 1 ELSE 0 END) AS ty
  FROM p
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM census) AS n_days,
       CAST(c AS BIGINT) AS concordant, CAST(d AS BIGINT) AS discordant,
       FLOOR(CAST(c - d AS DOUBLE) / SQRT(CAST(n0 - tx AS DOUBLE))
             / SQRT(CAST(n0 - ty AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS tau_b
FROM cnt
""",
)
def kendall_tau_daily_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b (Kendall 1938 — public method) between daily order
    count and daily revenue — the pair-based monotone-association
    measure beside spearman_daily's rank-based rho (tau has a direct
    probabilistic reading: P(concordant) - P(discordant)).

    Determinism: all pair classifications and tie counts are exact
    integer comparisons on the centi-int census; tau_b is one fixed
    IEEE sequence over two correctly-rounded sqrts.

    Plan shape: one partial-agg shuffle to the ~2.4k-cell day census;
    the i<j pair relation (~2.9M cells) is a broadcast theta join over
    the CENSUS — its size depends on distinct days, not on fact rows,
    so it is flat at 100 TB."""
    orders = load_table(spark, sf_dir, "orders")
    census = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.count("*").alias("x"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("y"),
    )
    a = census.select(F.col("day").alias("ad"), F.col("x").alias("ax"), F.col("y").alias("ay"))
    b = census.select(F.col("day").alias("bd"), F.col("x").alias("bx"), F.col("y").alias("by_"))
    p = a.join(F.broadcast(b), F.col("ad") < F.col("bd"))
    cnt = p.agg(
        F.count("*").alias("n0"),
        F.sum(
            F.when((F.col("ax") - F.col("bx")) * (F.col("ay") - F.col("by_")) > 0, 1).otherwise(0)
        ).alias("c"),
        F.sum(
            F.when((F.col("ax") - F.col("bx")) * (F.col("ay") - F.col("by_")) < 0, 1).otherwise(0)
        ).alias("d"),
        F.sum(F.when(F.col("ax") == F.col("bx"), 1).otherwise(0)).alias("tx"),
        F.sum(F.when(F.col("ay") == F.col("by_"), 1).otherwise(0)).alias("ty"),
    )
    nd = census.agg(F.count("*").cast("long").alias("n_days"))
    tau = (
        (F.col("c") - F.col("d")).cast("double")
        / F.sqrt((F.col("n0") - F.col("tx")).cast("double"))
        / F.sqrt((F.col("n0") - F.col("ty")).cast("double"))
    )
    return cnt.join(F.broadcast(nd)).select(
        "n_days",
        F.col("c").cast("long").alias("concordant"),
        F.col("d").cast("long").alias("discordant"),
        (F.floor(tau * 1e6 + F.lit(0.5)) / 1e6).alias("tau_b"),
    )


@register(
    "srm_check",
    # sample-ratio-mismatch guardrail: distinct users per arm vs the
    # designed 50/50 split, 1-df chi-square
    """
WITH pu AS (SELECT DISTINCT user_id, user_id % 2 AS arm FROM events),
st AS (SELECT arm, COUNT(*) AS n FROM pu GROUP BY 1),
j AS (
  SELECT a.n AS n0, b.n AS n1 FROM st a, st b WHERE a.arm = 0 AND b.arm = 1
), c AS (
  SELECT n0, n1, CAST(n0 + n1 AS DOUBLE) / 2.0 AS e FROM j
)
SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
       FLOOR(((n0 - e) * (n0 - e) / e + (n1 - e) * (n1 - e) / e) * 1e4 + 0.5)
         / 1e4 AS chi2,
       ((n0 - e) * (n0 - e) / e + (n1 - e) * (n1 - e) / e) > 3.841
         AS srm_detected
FROM c
""",
)
def srm_check_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check (Fabijan et al. 2019 — public
    method): the A/B platform guardrail that fires BEFORE any metric is
    read — if the observed user split deviates from the designed 50/50
    beyond chi-square noise, the assignment pipeline is broken and
    ab_test_report / welch_ttest / cuped_adjustment results are invalid.

    Plan shape: one distinct-user shuffle, then 2-row algebra.
    Determinism: counts are exact; chi2 is one fixed IEEE sequence."""
    events = load_events(spark, sf_dir)
    pu = events.select(
        "user_id", F.pmod(F.col("user_id"), F.lit(2)).alias("arm")
    ).distinct()
    st = pu.groupBy("arm").agg(F.count("*").alias("n"))
    a = st.filter(F.col("arm") == 0).select(F.col("n").alias("n0"))
    b = st.filter(F.col("arm") == 1).select(F.col("n").alias("n1"))
    c = a.join(F.broadcast(b)).select(
        "n0", "n1", ((F.col("n0") + F.col("n1")).cast("double") / 2.0).alias("e")
    )
    chi2 = (F.col("n0") - F.col("e")) * (F.col("n0") - F.col("e")) / F.col("e") + (
        F.col("n1") - F.col("e")
    ) * (F.col("n1") - F.col("e")) / F.col("e")
    return c.select(
        F.col("n0").cast("long").alias("n0"),
        F.col("n1").cast("long").alias("n1"),
        (F.floor(chi2 * 1e4 + F.lit(0.5)) / 1e4).alias("chi2"),
        (chi2 > 3.841).alias("srm_detected"),
    )


@register(
    "power_mde_report",
    # minimal detectable effect at 80% power / 5% alpha from the
    # observed base rate and arm sizes (z_a/2 + z_b = 2.801585)
    """
WITH pu AS (
  SELECT user_id, user_id % 2 AS arm,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY 1, 2
), st AS (SELECT arm, COUNT(*) AS n, SUM(conv) AS k FROM pu GROUP BY 1),
j AS (
  SELECT a.n AS n0, a.k AS k0, b.n AS n1, b.k AS k1
  FROM st a, st b WHERE a.arm = 0 AND b.arm = 1
), c AS (
  SELECT n0, n1,
         CAST(k0 + k1 AS DOUBLE) / (n0 + n1) AS p,
         CASE WHEN n0 < n1 THEN n0 ELSE n1 END AS nmin
  FROM j
), m AS (
  SELECT n0, n1, p, 2.801585 * SQRT(2.0 * p * (1.0 - p) / nmin) AS mde
  FROM c
)
SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
       FLOOR(p * 1e6 + 0.5) / 1e6 AS base_rate,
       FLOOR(mde * 1e6 + 0.5) / 1e6 AS mde_abs,
       FLOOR(mde / p * 1e4 + 0.5) / 1e4 AS mde_rel
FROM m
""",
)
def power_mde_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment power / minimal-detectable-effect report (standard
    two-proportion power formula, e.g. Kohavi et al. 2020 — public):
    given the observed base conversion rate and per-arm user counts,
    the smallest absolute/relative lift detectable at 80% power and 5%
    two-sided alpha. The design-stage twin of ab_test_report: it says
    whether a null result is evidence of no effect or just an
    underpowered test.

    Plan shape: one user shuffle, 2-row algebra. Determinism: exact
    counts; one fixed IEEE sequence."""
    events = load_events(spark, sf_dir)
    pu = events.groupBy(
        "user_id", F.pmod(F.col("user_id"), F.lit(2)).alias("arm")
    ).agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("conv")
    )
    st = pu.groupBy("arm").agg(F.count("*").alias("n"), F.sum("conv").alias("k"))
    a = st.filter(F.col("arm") == 0).select(
        F.col("n").alias("n0"), F.col("k").alias("k0")
    )
    b = st.filter(F.col("arm") == 1).select(
        F.col("n").alias("n1"), F.col("k").alias("k1")
    )
    c = a.join(F.broadcast(b)).select(
        "n0",
        "n1",
        ((F.col("k0") + F.col("k1")).cast("double") / (F.col("n0") + F.col("n1"))).alias("p"),
        F.when(F.col("n0") < F.col("n1"), F.col("n0")).otherwise(F.col("n1")).alias("nmin"),
    )
    m = c.select(
        "n0",
        "n1",
        "p",
        (
            F.lit(2.801585)
            * F.sqrt(F.lit(2.0) * F.col("p") * (F.lit(1.0) - F.col("p")) / F.col("nmin"))
        ).alias("mde"),
    )
    return m.select(
        F.col("n0").cast("long").alias("n0"),
        F.col("n1").cast("long").alias("n1"),
        (F.floor(F.col("p") * 1e6 + F.lit(0.5)) / 1e6).alias("base_rate"),
        (F.floor(F.col("mde") * 1e6 + F.lit(0.5)) / 1e6).alias("mde_abs"),
        (F.floor(F.col("mde") / F.col("p") * 1e4 + F.lit(0.5)) / 1e4).alias("mde_rel"),
    )


@register(
    "seasonal_decompose",
    # census algebra mirror of operators/relational.seasonal_decompose:
    # trend/seasonal/resid each re-quantized to exact cents before the
    # next subtraction
    """
WITH census AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS yc
  FROM orders GROUP BY 1
), trended AS (
  SELECT day, yc,
         CASE WHEN COUNT(*) OVER w7 = 7
              THEN CAST(FLOOR(CAST(SUM(yc) OVER w7 AS DOUBLE) / 7.0 + 0.5)
                        AS BIGINT) END AS trend_c,
         (day - DATE '1970-01-01') % 7 AS wd
  FROM census
  WINDOW w7 AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), det AS (
  SELECT day, yc, trend_c, wd, yc - trend_c AS det_c FROM trended
), wk AS (
  SELECT wd,
         CAST(FLOOR(CAST(SUM(det_c) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT)
           AS raw_s
  FROM det WHERE det_c IS NOT NULL GROUP BY wd
), center AS (
  SELECT CAST(FLOOR(CAST(SUM(raw_s) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT)
           AS mean_s
  FROM wk
), seasonal AS (
  SELECT wd, raw_s - mean_s AS seasonal_c FROM wk CROSS JOIN center
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       FLOOR(CAST(yc AS DOUBLE) / 100.0 * 100 + 0.5) / 100.0 AS revenue,
       FLOOR(CAST(trend_c AS DOUBLE) / 100.0 * 100 + 0.5) / 100.0 AS trend,
       FLOOR(CAST(seasonal_c AS DOUBLE) / 100.0 * 100 + 0.5) / 100.0 AS seasonal,
       FLOOR(CAST(yc - trend_c - seasonal_c AS DOUBLE) / 100.0 * 100 + 0.5)
         / 100.0 AS residual
FROM det JOIN seasonal USING (wd)
WHERE trend_c IS NOT NULL
ORDER BY day
""",
)
def seasonal_decompose_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.seasonal_decompose(load_table(spark, sf_dir, "orders"))


@register(
    "shapley_attribution",
    # exact Shapley over the 16-cell channel-set lattice; phi kept in
    # integer units of 1/4! so the efficiency identity is exact
    """
WITH per_user AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
         + MAX(CASE WHEN event_type = 'view' THEN 2 ELSE 0 END)
         + MAX(CASE WHEN event_type = 'signup' THEN 4 ELSE 0 END)
         + MAX(CASE WHEN event_type = 'error' THEN 8 ELSE 0 END) AS mask,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY 1
), census AS (SELECT mask, SUM(conv) AS n_conv FROM per_user GROUP BY 1),
subsets AS (SELECT UNNEST(range(16)) AS s),
v AS (
  SELECT s, COALESCE(SUM(n_conv), 0) AS v
  FROM subsets LEFT JOIN census ON (mask & s) = mask
  GROUP BY s
),
channels(ch_bit, channel) AS (
  VALUES (0, 'click'), (1, 'view'), (2, 'signup'), (3, 'error')
),
pairs AS (
  SELECT ch_bit, channel, s,
         ((s >> 0) & 1) + ((s >> 1) & 1) + ((s >> 2) & 1) + ((s >> 3) & 1)
           AS size_s,
         s | (1 << ch_bit) AS s_with
  FROM channels JOIN subsets ON ((s >> ch_bit) & 1) = 0
), phi AS (
  SELECT channel,
         SUM((CASE WHEN size_s IN (0, 3) THEN 6 ELSE 2 END)
             * (vw.v - vs.v)) AS phi24
  FROM pairs
  JOIN v vs ON pairs.s = vs.s
  JOIN v vw ON pairs.s_with = vw.s
  GROUP BY channel
), tot AS (SELECT SUM(phi24) AS tot24 FROM phi)
SELECT channel, CAST(phi24 AS BIGINT) AS phi24,
       FLOOR(CAST(phi24 AS DOUBLE) / 24.0 * 1e6 + 0.5) / 1e6 AS phi,
       FLOOR(CAST(phi24 AS DOUBLE) / CAST(tot24 AS DOUBLE) * 1e6 + 0.5) / 1e6
         AS credit_share
FROM phi CROSS JOIN tot ORDER BY channel
""",
)
def shapley_attribution_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.shapley_attribution(load_events(spark, sf_dir))


@register(
    "hyperball_neighborhood",
    # oracle replays the register algebra round by round (3 explicit
    # round CTEs — no recursion needed for a fixed radius) and the
    # exact-ball BFS beside it
    """
WITH raw AS (
  SELECT user_id % 200 AS p, event_id % 199 AS q FROM events
  WHERE user_id % 200 <> event_id % 199
),
edges AS (SELECT DISTINCT LEAST(p, q) AS u, GREATEST(p, q) AS v FROM raw),
und AS (SELECT u AS a, v AS b FROM edges UNION SELECT v AS a, u AS b FROM edges),
nodes AS (SELECT DISTINCT a AS n FROM und),
hashed AS (
  SELECT n,
         CAST(CAST(concat('0x', substr(md5('hb:' || n), 1, 15)) AS UBIGINT) % 16
              AS INT) AS j,
         CAST(concat('0x', substr(md5('hb:' || n), 17, 15)) AS UBIGINT) AS bits
  FROM nodes
),
init AS (
  SELECT n AS node, j, MIN(k.k) AS rho
  FROM hashed, (SELECT UNNEST(range(1, 32)) AS k) k
  WHERE ((bits >> (k.k - 1)) & 1) = 1
  GROUP BY 1, 2
),
s1 AS (
  SELECT node, j, MAX(rho) AS rho FROM (
    SELECT node, j, rho FROM init
    UNION ALL
    SELECT e.a AS node, i.j, i.rho FROM und e JOIN init i ON e.b = i.node
  ) GROUP BY 1, 2
),
s2 AS (
  SELECT node, j, MAX(rho) AS rho FROM (
    SELECT node, j, rho FROM s1
    UNION ALL
    SELECT e.a AS node, i.j, i.rho FROM und e JOIN s1 i ON e.b = i.node
  ) GROUP BY 1, 2
),
s3 AS (
  SELECT node, j, MAX(rho) AS rho FROM (
    SELECT node, j, rho FROM s2
    UNION ALL
    SELECT e.a AS node, i.j, i.rho FROM und e JOIN s2 i ON e.b = i.node
  ) GROUP BY 1, 2
),
b0 AS (SELECT n AS node, n AS w FROM nodes),
b1 AS (SELECT DISTINCT node, w FROM (
  SELECT node, w FROM b0
  UNION ALL SELECT e.a, b.w FROM und e JOIN b0 b ON e.b = b.node)),
b2 AS (SELECT DISTINCT node, w FROM (
  SELECT node, w FROM b1
  UNION ALL SELECT e.a, b.w FROM und e JOIN b1 b ON e.b = b.node)),
b3 AS (SELECT DISTINCT node, w FROM (
  SELECT node, w FROM b2
  UNION ALL SELECT e.a, b.w FROM und e JOIN b2 b ON e.b = b.node)),
exact AS (SELECT node, COUNT(*) AS exact_ball FROM b3 GROUP BY 1),
z AS (
  SELECT node, SUM(1.0 / (1 << rho)) AS zpart, COUNT(*) AS cnt
  FROM s3 GROUP BY 1
),
fin AS (
  SELECT z.node AS node, exact_ball,
         0.673 * 16.0 * 16.0 / (zpart + (16.0 - cnt)) AS est_raw,
         16 - cnt AS vz
  FROM z JOIN exact ON z.node = exact.node
),
est AS (
  SELECT node, exact_ball,
         CASE WHEN est_raw <= 2.5 * 16.0 AND vz > 0
              THEN 16.0 * LN(16.0 / vz) ELSE est_raw END AS e
  FROM fin
)
SELECT node, CAST(exact_ball AS BIGINT) AS exact_ball,
       FLOOR(e * 1e4 + 0.5) / 1e4 AS est_ball,
       FLOOR((e - exact_ball) / exact_ball * 1e4 + 0.5) / 1e4 AS rel_err
FROM est ORDER BY node
""",
)
def hyperball_neighborhood_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import graph

    return graph.hyperball_neighborhood(load_events(spark, sf_dir))


@register(
    "seasonal_anomaly_flags",
    # nests the seasonal_decompose census; medians are DISCRETE
    # percentiles (the anomaly_mad convention)
    """
WITH census AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS yc
  FROM orders GROUP BY 1
), trended AS (
  SELECT day, yc,
         CASE WHEN COUNT(*) OVER w7 = 7
              THEN CAST(FLOOR(CAST(SUM(yc) OVER w7 AS DOUBLE) / 7.0 + 0.5)
                        AS BIGINT) END AS trend_c,
         (day - DATE '1970-01-01') % 7 AS wd
  FROM census
  WINDOW w7 AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), det AS (
  SELECT day, yc, trend_c, wd, yc - trend_c AS det_c FROM trended
), wk AS (
  SELECT wd,
         CAST(FLOOR(CAST(SUM(det_c) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT)
           AS raw_s
  FROM det WHERE det_c IS NOT NULL GROUP BY wd
), center AS (
  SELECT CAST(FLOOR(CAST(SUM(raw_s) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT)
           AS mean_s
  FROM wk
), seasonal AS (
  SELECT wd, raw_s - mean_s AS seasonal_c FROM wk CROSS JOIN center
), dec AS (
  SELECT strftime(day, '%Y-%m-%d') AS day,
         FLOOR(CAST(yc AS DOUBLE) / 100.0 * 100 + 0.5) / 100.0 AS revenue,
         yc - trend_c - seasonal_c AS resid_c
  FROM det JOIN seasonal USING (wd)
  WHERE trend_c IS NOT NULL
), resid AS (
  SELECT day, revenue,
         FLOOR(CAST(resid_c AS DOUBLE) / 100.0 * 100 + 0.5) / 100.0 AS residual,
         CAST(FLOOR(FLOOR(CAST(resid_c AS DOUBLE) / 100.0 * 100 + 0.5) / 100.0
                    * 100 + 0.5) AS BIGINT) AS rc
  FROM dec
), med AS (SELECT quantile_disc(rc, 0.5) AS med FROM resid),
dev AS (
  SELECT day, revenue, residual, ABS(rc - med) AS adev FROM resid, med
), mad AS (SELECT quantile_disc(adev, 0.5) AS mad FROM dev)
SELECT day, revenue, residual,
       FLOOR(CAST(adev AS DOUBLE) / (1.4826 * CAST(mad AS DOUBLE)) * 1e4 + 0.5)
         / 1e4 AS robust_score
FROM dev, mad
WHERE CAST(adev AS DOUBLE) > 3.0 * 1.4826 * CAST(mad AS DOUBLE)
ORDER BY day
""",
)
def seasonal_anomaly_flags_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.seasonal_anomaly_flags(load_table(spark, sf_dir, "orders"))


@register(
    "pacf_daily",
    # Durbin-Levinson closed forms for lags 1-3 on the ACF census —
    # the sequential recursion becomes three fixed IEEE expressions
    """
WITH days AS (
  SELECT CAST(ts AS DATE) AS d, COUNT(*) AS x FROM events GROUP BY 1
), tot AS (SELECT COUNT(*) AS nd, SUM(x) AS s FROM days),
lags AS (SELECT UNNEST(range(1, 4)) AS lag),
pairs AS (
  SELECT lag, SUM((t.nd * a.x - t.s) * (t.nd * b.x - t.s)) AS num
  FROM days a CROSS JOIN lags JOIN days b ON datediff('day', a.d, b.d) = lag
  CROSS JOIN tot t GROUP BY lag
), den AS (
  SELECT SUM((t.nd * x - t.s) * (t.nd * x - t.s)) AS den FROM days, tot t
), r AS (
  SELECT
    MAX(CASE WHEN lag = 1 THEN CAST(num AS DOUBLE) / den END) AS r1,
    MAX(CASE WHEN lag = 2 THEN CAST(num AS DOUBLE) / den END) AS r2,
    MAX(CASE WHEN lag = 3 THEN CAST(num AS DOUBLE) / den END) AS r3
  FROM pairs, den
), p AS (
  SELECT r1, r2, r3, r1 AS p11,
         (r2 - r1 * r1) / (1.0 - r1 * r1) AS p22
  FROM r
), p2 AS (
  SELECT r1, r2, r3, p11, p22, p11 - p22 * p11 AS p21 FROM p
), p3 AS (
  SELECT r1, r2, r3, p11, p22,
         (r3 - p21 * r2 - p22 * r1) / (1.0 - p21 * r1 - p22 * r2) AS p33
  FROM p2
)
SELECT 1 AS lag, FLOOR(r1 * 1e6 + 0.5) / 1e6 AS acf,
       FLOOR(p11 * 1e6 + 0.5) / 1e6 AS pacf FROM p3
UNION ALL
SELECT 2, FLOOR(r2 * 1e6 + 0.5) / 1e6, FLOOR(p22 * 1e6 + 0.5) / 1e6 FROM p3
UNION ALL
SELECT 3, FLOOR(r3 * 1e6 + 0.5) / 1e6, FLOOR(p33 * 1e6 + 0.5) / 1e6 FROM p3
ORDER BY lag
""",
)
def pacf_daily_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of the daily event-count series at lags
    1-3 via the Durbin-Levinson recursion unrolled to closed form
    (Durbin 1960 — public method) — the AR-order diagnostic beside
    acf_daily (ACF says WHAT correlates; PACF says what remains after
    conditioning on shorter lags, i.e. which AR terms to keep).

    Determinism: ACF numerators/denominator are exact integer moments
    (the acf_daily construction); the three D-L expressions are the
    same fixed IEEE tree on both engines, quantized 1e-6.

    Plan shape: one day-census shuffle; lag pairing and the recursion
    run on the census. Linear at 100 TB."""
    events = load_events(spark, sf_dir)
    days = events.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count("*").alias("x")
    )
    tot = days.agg(F.count("*").alias("nd"), F.sum("x").alias("s"))
    lags = spark.range(1, 4).select(F.col("id").cast("int").alias("lag"))
    a = days.select(F.col("d").alias("ad"), F.col("x").alias("ax"))
    b = days.select(F.col("d").alias("bd"), F.col("x").alias("bx"))
    pairs = (
        a.join(F.broadcast(lags))
        .join(b, F.datediff(F.col("bd"), F.col("ad")) == F.col("lag"))
        .join(F.broadcast(tot))
        .groupBy("lag")
        .agg(
            F.sum(
                (F.col("nd") * F.col("ax") - F.col("s"))
                * (F.col("nd") * F.col("bx") - F.col("s"))
            ).alias("num")
        )
    )
    den = (
        days.join(F.broadcast(tot))
        .agg(
            F.sum(
                (F.col("nd") * F.col("x") - F.col("s"))
                * (F.col("nd") * F.col("x") - F.col("s"))
            ).alias("den")
        )
    )
    r = (
        pairs.join(F.broadcast(den))
        .agg(
            F.max(
                F.when(F.col("lag") == 1, F.col("num").cast("double") / F.col("den"))
            ).alias("r1"),
            F.max(
                F.when(F.col("lag") == 2, F.col("num").cast("double") / F.col("den"))
            ).alias("r2"),
            F.max(
                F.when(F.col("lag") == 3, F.col("num").cast("double") / F.col("den"))
            ).alias("r3"),
        )
    )
    p11 = F.col("r1")
    p22 = (F.col("r2") - F.col("r1") * F.col("r1")) / (
        F.lit(1.0) - F.col("r1") * F.col("r1")
    )
    p = r.select("r1", "r2", "r3", p11.alias("p11"), p22.alias("p22"))
    p2 = p.select(
        "r1", "r2", "r3", "p11", "p22",
        (F.col("p11") - F.col("p22") * F.col("p11")).alias("p21"),
    )
    p33 = (
        F.col("r3") - F.col("p21") * F.col("r2") - F.col("p22") * F.col("r1")
    ) / (
        F.lit(1.0) - F.col("p21") * F.col("r1") - F.col("p22") * F.col("r2")
    )
    p3 = p2.select("r1", "r2", "r3", "p11", "p22", p33.alias("p33"))
    q6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    one = p3.select(
        F.lit(1).alias("lag"), q6(F.col("r1")).alias("acf"), q6(F.col("p11")).alias("pacf")
    )
    two = p3.select(F.lit(2).alias("lag"), q6(F.col("r2")).alias("acf"), q6(F.col("p22")).alias("pacf"))
    three = p3.select(F.lit(3).alias("lag"), q6(F.col("r3")).alias("acf"), q6(F.col("p33")).alias("pacf"))
    return one.union(two).union(three).orderBy("lag")


@register(
    "multimodal_audio_fingerprint",
    # oracle mirrors the synthetic PCM formula + frame-energy
    # differencing in integer algebra (the audio decode convention)
    """
WITH lens AS (SELECT doc_id, 64 + doc_id % 50 AS n FROM documents),
s AS (
  SELECT doc_id, i.i AS i, ((doc_id * 13 + i.i * 31) % 65536) - 32768 AS v
  FROM lens, LATERAL (SELECT UNNEST(range(n)) AS i) i
), fr AS (
  SELECT doc_id, i // 8 AS f, SUM(v * v) AS e
  FROM s GROUP BY 1, 2 HAVING COUNT(*) = 8
), bits AS (
  SELECT doc_id, f, e,
         LAG(e) OVER (PARTITION BY doc_id ORDER BY f) AS pe
  FROM fr
), fp AS (
  SELECT doc_id, COUNT(*) AS nf,
         COALESCE(bit_xor(CASE WHEN pe IS NOT NULL AND e > pe
                          THEN 1 << ((f - 1) % 63) ELSE 0 END), 0) AS fingerprint
  FROM bits GROUP BY doc_id
)
SELECT doc_id, CAST(nf AS INT) AS n_frames,
       CAST(fingerprint AS BIGINT) AS fingerprint,
       MIN(doc_id) OVER (PARTITION BY nf, fingerprint) AS canonical_doc
FROM fp ORDER BY doc_id
""",
)
def multimodal_audio_fingerprint_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    fps = multimodal.audio_fingerprint(multimodal.synthetic_wav_media(docs))
    w = Window.partitionBy("n_frames", "fingerprint")
    return fps.select(
        "doc_id",
        "n_frames",
        "fingerprint",
        F.min("doc_id").over(w).alias("canonical_doc"),
    ).orderBy("doc_id")


@register(
    "kneser_ney_logprob",
    # same bigram census; KN terms are integer counts pushed through
    # one fixed expression tree; bigram_logprob's AVG(LN) convention
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
hc AS (SELECT tok, COUNT(*) AS c1 FROM bigrams GROUP BY tok),
fw AS (SELECT tok, COUNT(*) AS n1fw FROM pc GROUP BY tok),
bw AS (SELECT nxt, COUNT(*) AS n1bw FROM pc GROUP BY nxt),
bt AS (SELECT COUNT(*) AS btypes FROM pc),
scored AS (
  SELECT b.doc_id,
         (GREATEST(pc.c2 - 0.75, 0.0)
          + 0.75 * fw.n1fw * bw.n1bw / bt.btypes) / hc.c1 AS p
  FROM bigrams b
  JOIN pc ON b.tok = pc.tok AND b.nxt = pc.nxt
  JOIN hc ON b.tok = hc.tok
  JOIN fw ON b.tok = fw.tok
  JOIN bw ON b.nxt = bw.nxt
  CROSS JOIN bt
),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_bigrams, ROUND(AVG(LN(p)), 6) AS avg_logprob
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_bigrams, avg_logprob, ROUND(EXP(-avg_logprob), 4) AS ppl
FROM per_doc ORDER BY doc_id
""",
)
def kneser_ney_logprob_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.kneser_ney_logprob(load_table(spark, sf_dir, "documents"))


@register(
    "ipw_treatment_effect",
    # inverse-propensity weighting on the activity-bucket census;
    # per-bucket terms quantize to exact 1e-6 ints BEFORE the sum
    """
WITH pu AS (
  SELECT user_id, user_id % 2 AS arm, COUNT(*) AS n_ev,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY 1, 2
), bu AS (
  SELECT LEAST(n_ev // 5, 9) AS b, arm, COUNT(*) AS n, SUM(conv) AS k
  FROM pu GROUP BY 1, 2
), cells AS (
  SELECT b,
         SUM(CASE WHEN arm = 0 THEN n ELSE 0 END) AS n0,
         SUM(CASE WHEN arm = 0 THEN k ELSE 0 END) AS k0,
         SUM(CASE WHEN arm = 1 THEN n ELSE 0 END) AS n1,
         SUM(CASE WHEN arm = 1 THEN k ELSE 0 END) AS k1
  FROM bu GROUP BY b
), pos AS (
  SELECT *, CAST(n1 AS DOUBLE) / (n1 + n0) AS e
  FROM cells WHERE n0 > 0 AND n1 > 0
), terms AS (
  SELECT CAST(FLOOR((k1 / e - k0 / (1.0 - e)) * 1e6 + 0.5) AS BIGINT) AS tq,
         n0, n1, k0, k1
  FROM pos
), agg AS (
  SELECT SUM(n0 + n1) AS nu, SUM(tq) AS st,
         SUM(k0) AS k0t, SUM(n0) AS n0t, SUM(k1) AS k1t, SUM(n1) AS n1t
  FROM terms
)
SELECT CAST(nu AS BIGINT) AS n_users,
       FLOOR((CAST(k1t AS DOUBLE) / n1t - CAST(k0t AS DOUBLE) / n0t) * 1e6
             + 0.5) / 1e6 AS ate_naive,
       FLOOR(st / 1e6 / nu * 1e6 + 0.5) / 1e6 AS ate_ipw
FROM agg
""",
)
def ipw_treatment_effect_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-propensity-weighted treatment effect (Horvitz &
    Thompson 1952; Rosenbaum & Rubin 1983 — public methods): the
    observational-causal complement of ab_test_report — when arms are
    NOT randomized, reweighting each converter by 1/P(arm|covariate)
    removes the confounding the naive arm difference absorbs. The
    covariate is the user's activity bucket (10 cells); buckets
    violating positivity (an arm absent) are trimmed, per the standard
    IPW contract.

    Determinism: the (bucket, arm) census is exact ints; each bucket's
    IPW term quantizes to an exact 1e-6 int BEFORE summation; the two
    headline ATEs are fixed IEEE sequences.

    Plan shape: one user shuffle -> 20-cell census; everything after
    is census algebra. Linear at 100 TB."""
    events = load_events(spark, sf_dir)
    pu = events.groupBy(
        "user_id", F.pmod(F.col("user_id"), F.lit(2)).alias("arm")
    ).agg(
        F.count("*").alias("n_ev"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("conv"),
    )
    bu = pu.groupBy(
        F.least(F.floor(F.col("n_ev") / 5), F.lit(9)).alias("b"), "arm"
    ).agg(F.count("*").alias("n"), F.sum("conv").alias("k"))
    cells = bu.groupBy("b").agg(
        F.sum(F.when(F.col("arm") == 0, F.col("n")).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("arm") == 0, F.col("k")).otherwise(0)).alias("k0"),
        F.sum(F.when(F.col("arm") == 1, F.col("n")).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("arm") == 1, F.col("k")).otherwise(0)).alias("k1"),
    )
    pos = cells.filter((F.col("n0") > 0) & (F.col("n1") > 0)).withColumn(
        "e", F.col("n1").cast("double") / (F.col("n1") + F.col("n0"))
    )
    terms = pos.select(
        F.floor(
            (F.col("k1") / F.col("e") - F.col("k0") / (F.lit(1.0) - F.col("e")))
            * 1e6
            + F.lit(0.5)
        )
        .cast("long")
        .alias("tq"),
        "n0", "n1", "k0", "k1",
    )
    agg = terms.agg(
        F.sum(F.col("n0") + F.col("n1")).alias("nu"),
        F.sum("tq").alias("st"),
        F.sum("k0").alias("k0t"),
        F.sum("n0").alias("n0t"),
        F.sum("k1").alias("k1t"),
        F.sum("n1").alias("n1t"),
    )
    return agg.select(
        F.col("nu").cast("long").alias("n_users"),
        (
            F.floor(
                (
                    F.col("k1t").cast("double") / F.col("n1t")
                    - F.col("k0t").cast("double") / F.col("n0t")
                )
                * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("ate_naive"),
        (
            F.floor(F.col("st") / 1e6 / F.col("nu") * 1e6 + F.lit(0.5)) / 1e6
        ).alias("ate_ipw"),
    )


@register(
    "did_estimate",
    # 2x2 (arm, period) purchase-value means; the period split is the
    # integer epoch midpoint, so both engines cut identically
    """
WITH bounds AS (
  SELECT MIN(epoch_us(ts)) AS mn, MAX(epoch_us(ts)) AS mx FROM events
), cells AS (
  SELECT user_id % 2 AS arm,
         CASE WHEN epoch_us(ts) >= (b.mn + b.mx) // 2 THEN 1 ELSE 0 END AS period,
         COUNT(*) AS n,
         SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS s
  FROM events, bounds b
  WHERE event_type = 'purchase'
  GROUP BY 1, 2
), m AS (
  SELECT
    MAX(CASE WHEN arm = 0 AND period = 0 THEN CAST(s AS DOUBLE) / n END) AS m00,
    MAX(CASE WHEN arm = 0 AND period = 1 THEN CAST(s AS DOUBLE) / n END) AS m01,
    MAX(CASE WHEN arm = 1 AND period = 0 THEN CAST(s AS DOUBLE) / n END) AS m10,
    MAX(CASE WHEN arm = 1 AND period = 1 THEN CAST(s AS DOUBLE) / n END) AS m11
  FROM cells
)
SELECT FLOOR(m00 / 100.0 * 1e4 + 0.5) / 1e4 AS mean_ctl_pre,
       FLOOR(m01 / 100.0 * 1e4 + 0.5) / 1e4 AS mean_ctl_post,
       FLOOR(m10 / 100.0 * 1e4 + 0.5) / 1e4 AS mean_trt_pre,
       FLOOR(m11 / 100.0 * 1e4 + 0.5) / 1e4 AS mean_trt_post,
       FLOOR(((m11 - m10) - (m01 - m00)) / 100.0 * 1e6 + 0.5) / 1e6 AS did
FROM m
""",
)
def did_estimate_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimator (Card & Krueger 1994 frame —
    public method) on mean purchase value: arm = user parity, period =
    before/after the dataset's epoch midpoint; DiD = (trt_post -
    trt_pre) - (ctl_post - ctl_pre), the parallel-trends-adjusted
    effect the raw post-period difference can't give.

    Determinism: cell sums are exact centi-ints; the 2x2 means and the
    DiD contrast are one fixed IEEE tree; the period cut is integer
    epoch-microsecond arithmetic (identical floor division on both
    engines).

    Plan shape: one bounds scan (2-value broadcast) + one partial-agg
    shuffle to 4 cells. Linear at 100 TB."""
    events = load_events(spark, sf_dir)
    bounds = events.agg(
        F.min(F.unix_micros("ts")).alias("mn"), F.max(F.unix_micros("ts")).alias("mx")
    )
    vu = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    cells = (
        events.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(bounds))
        .groupBy(
            F.pmod(F.col("user_id"), F.lit(2)).alias("arm"),
            F.when(
                F.unix_micros("ts")
                >= F.floor((F.col("mn") + F.col("mx")) / 2).cast("long"),
                1,
            )
            .otherwise(0)
            .alias("period"),
        )
        .agg(F.count("*").alias("n"), F.sum(vu).alias("s"))
    )
    mean_of = lambda a_, p_: F.max(  # noqa: E731
        F.when(
            (F.col("arm") == a_) & (F.col("period") == p_),
            F.col("s").cast("double") / F.col("n"),
        )
    )
    m = cells.agg(
        mean_of(0, 0).alias("m00"),
        mean_of(0, 1).alias("m01"),
        mean_of(1, 0).alias("m10"),
        mean_of(1, 1).alias("m11"),
    )
    q4 = lambda c: F.floor(c / 100.0 * 1e4 + F.lit(0.5)) / 1e4  # noqa: E731
    return m.select(
        q4(F.col("m00")).alias("mean_ctl_pre"),
        q4(F.col("m01")).alias("mean_ctl_post"),
        q4(F.col("m10")).alias("mean_trt_pre"),
        q4(F.col("m11")).alias("mean_trt_post"),
        (
            F.floor(
                ((F.col("m11") - F.col("m10")) - (F.col("m01") - F.col("m00")))
                / 100.0
                * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("did"),
    )


@register(
    "ucb_arm_ranking",
    # UCB1 scores per event-type arm from exact counts; ln through the
    # same fixed tree on both engines
    """
WITH st AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(CASE WHEN value > 200 THEN 1 ELSE 0 END) AS k
  FROM events GROUP BY 1
), tot AS (SELECT SUM(n) AS big_n FROM st),
u AS (
  SELECT event_type, n, k,
         CAST(k AS DOUBLE) / n + SQRT(2.0 * LN(CAST(big_n AS DOUBLE)) / n)
           AS ucb
  FROM st, tot
)
SELECT event_type, CAST(n AS BIGINT) AS n_pulls, CAST(k AS BIGINT) AS n_rewards,
       FLOOR(CAST(k AS DOUBLE) / n * 1e6 + 0.5) / 1e6 AS reward_rate,
       FLOOR(ucb * 1e6 + 0.5) / 1e6 AS ucb_score,
       CAST(ROW_NUMBER() OVER (ORDER BY ucb DESC, event_type) AS BIGINT)
         AS ucb_rank
FROM u ORDER BY ucb_rank
""",
)
def ucb_arm_ranking_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UCB1 arm ranking (Auer et al. 2002 — public method): treat each
    event type as a bandit arm (reward = value > 200) and rank by the
    optimism bonus mean + sqrt(2 ln N / n) — the exploration order an
    online selector would play next, computed offline from the event
    log. The batch readout of the explore/exploit ledger: arms with
    few pulls outrank slightly-better-known ones.

    Determinism: pulls/rewards are exact ints; UCB is a fixed IEEE
    tree; ties rank by arm name.

    Plan shape: one partial-agg shuffle to 5 arm rows. Linear."""
    events = load_events(spark, sf_dir)
    st = events.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("value") > 200, 1).otherwise(0)).alias("k"),
    )
    tot = st.agg(F.sum("n").alias("big_n"))
    u = st.join(F.broadcast(tot)).withColumn(
        "ucb",
        F.col("k").cast("double") / F.col("n")
        + F.sqrt(F.lit(2.0) * F.log(F.col("big_n").cast("double")) / F.col("n")),
    )
    return u.select(
        "event_type",
        F.col("n").cast("long").alias("n_pulls"),
        F.col("k").cast("long").alias("n_rewards"),
        (F.floor(F.col("k").cast("double") / F.col("n") * 1e6 + F.lit(0.5)) / 1e6).alias(
            "reward_rate"
        ),
        (F.floor(F.col("ucb") * 1e6 + F.lit(0.5)) / 1e6).alias("ucb_score"),
        F.row_number()
        .over(Window.orderBy(F.col("ucb").desc(), "event_type"))
        .cast("long")
        .alias("ucb_rank"),
    ).orderBy("ucb_rank")


@register(
    "dedup_threshold_sweep",
    # pair cosines computed ONCE (label-blocked, milli-int), then the
    # whole threshold lattice is conditional census algebra
    """
WITH pairs AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         CAST(FLOOR(ROUND(list_cosine_similarity(
                a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 3) * 1000 + 0.5)
              AS INT) AS mcos
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE ROUND(list_cosine_similarity(
          a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 3) >= 0.3
), th AS (SELECT UNNEST([300, 400, 500, 600, 700, 800, 900]) AS t),
j AS (SELECT t, a_id, b_id FROM pairs, th WHERE mcos >= t),
np AS (SELECT t, COUNT(*) AS n_pairs FROM j GROUP BY t),
docs AS (
  SELECT t, COUNT(DISTINCT id) AS n_docs FROM (
    SELECT t, a_id AS id FROM j UNION ALL SELECT t, b_id FROM j
  ) GROUP BY t
), tot AS (SELECT COUNT(*) AS n FROM embeddings)
SELECT t / 1000.0 AS threshold,
       CAST(COALESCE(np.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(COALESCE(docs.n_docs, 0) AS BIGINT) AS n_docs_involved,
       FLOOR(CAST(COALESCE(docs.n_docs, 0) AS DOUBLE) / tot.n * 1e6 + 0.5) / 1e6
         AS dup_rate
FROM th LEFT JOIN np USING (t) LEFT JOIN docs USING (t) CROSS JOIN tot
ORDER BY threshold
""",
)
def dedup_threshold_sweep_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup threshold sweep — the tuning report every dedup config
    decision needs: for each cosine cutoff, how many pairs fire and
    what fraction of the corpus gets pulled into a dup group. The
    aggressive/conservative trade (Lee et al. 2022 discuss exactly
    this knob) read off one relation instead of N re-runs.

    Determinism: pair cosines use the embedding_near_dup_pairs
    contract (blocked matmul, half-up milli-rounding), compared as
    exact milli-ints against the integer threshold lattice.

    Plan shape: the blocked pair relation is computed ONCE; the sweep
    is a 7-row broadcast join + conditional censuses — N thresholds
    cost one pass, not N. Linear in pairs at 100 TB."""
    from ..operators import dedup

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = dedup.embedding_near_dup_pairs(emb, threshold=0.3).select(
        "a_id",
        "b_id",
        F.floor(F.col("cos_sim") * 1000 + F.lit(0.5)).cast("int").alias("mcos"),
    )
    th = spark.range(3, 10).select((F.col("id") * 100).cast("int").alias("t"))
    j = pairs.join(F.broadcast(th), F.col("mcos") >= F.col("t"))
    np_ = j.groupBy("t").agg(F.count("*").alias("n_pairs"))
    docs = (
        j.select("t", F.explode(F.array("a_id", "b_id")).alias("id"))
        .groupBy("t")
        .agg(F.countDistinct("id").alias("n_docs"))
    )
    tot = emb.agg(F.count("*").alias("n"))
    return (
        th.join(np_, "t", "left")
        .join(docs, "t", "left")
        .join(F.broadcast(tot))
        .select(
            (F.col("t") / 1000.0).alias("threshold"),
            F.coalesce(F.col("n_pairs"), F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce(F.col("n_docs"), F.lit(0)).cast("long").alias("n_docs_involved"),
            (
                F.floor(
                    F.coalesce(F.col("n_docs"), F.lit(0)).cast("double")
                    / F.col("n")
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("dup_rate"),
        )
        .orderBy("threshold")
    )


@register(
    "join_asof_forward",
    # correlated earliest-future-order subquery; the engine's one
    # window pass must match it exactly (strictly-after, min orderkey)
    """
SELECT e.event_id, e.user_id,
       (SELECT o.o_orderkey FROM orders o
        WHERE o.o_custkey = e.user_id
          AND CAST(o.o_orderdate AS TIMESTAMP) > e.ts
        ORDER BY o.o_orderdate, o.o_orderkey LIMIT 1) AS next_orderkey
FROM events e
""",
)
def join_asof_forward_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.join_asof_next_order(
        load_events(spark, sf_dir), load_table(spark, sf_dir, "orders")
    )


@register(
    "window_cume_dist",
    """
SELECT event_id, event_type,
       FLOOR(cume_dist() OVER (PARTITION BY event_type ORDER BY value) * 1e6
             + 0.5) / 1e6 AS cd
FROM events
QUALIFY event_id % 97 = 0
ORDER BY event_id
""",
)
def window_cume_dist_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cume_dist completes the analytic-rank surface (rank /
    percent_rank / ntile / cume_dist): P(value <= this row's value)
    within the event-type partition — tie-inclusive by definition, so
    it is deterministic without a tiebreaker. Output sampled by
    event_id so the contract stays small at any scale."""
    events = load_events(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("value")
    return (
        events.select(
            "event_id",
            "event_type",
            (F.floor(F.cume_dist().over(w) * 1e6 + F.lit(0.5)) / 1e6).alias("cd"),
        )
        .filter(F.col("event_id") % 97 == 0)
        .orderBy("event_id")
    )


@register(
    "blocking_recall_report",
    # the diagnostic the blocked dedup family owes: on a 20% sample,
    # ground truth = UNBLOCKED all-pairs at the same threshold (pairs
    # blocking can only remove, never add), so recall = found / truth
    """
WITH samp AS (
  SELECT vec_id, label, embedding FROM embeddings WHERE vec_id % 5 = 0
), truth AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         (a.label = b.label) AS same_block
  FROM samp a JOIN samp b ON a.vec_id < b.vec_id
  WHERE ROUND(list_cosine_similarity(
          a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 3) >= 0.4
), agg AS (
  SELECT COUNT(*) AS n_truth,
         SUM(CASE WHEN same_block THEN 1 ELSE 0 END) AS n_found
  FROM truth
)
SELECT CAST(n_truth AS BIGINT) AS n_truth_pairs,
       CAST(n_found AS BIGINT) AS n_blocked_pairs,
       CAST(n_truth - n_found AS BIGINT) AS n_missed,
       FLOOR(CAST(n_found AS DOUBLE) / n_truth * 1e6 + 0.5) / 1e6
         AS blocking_recall
FROM agg
""",
)
def blocking_recall_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-recall evaluation (the standard record-linkage /
    near-dup QA report, e.g. Christen 2012 — public method): on a
    deterministic 20% sample, compare label-blocked candidate pairs
    against UNBLOCKED ground truth at the same cosine threshold. Since
    blocking can only drop pairs, recall = found / truth — the number
    that says what the label-blocking strategy is missing.

    Plan shape: both pair relations run through the same blocked
    matmul kernel (embedding_near_dup_pairs); ground truth uses a
    single all-sample block — bounded by the SAMPLE size by design
    (that is the documented cost of the diagnostic; the production
    path stays blocked). The report is 1 row."""
    from ..operators import dedup

    emb = load_table(spark, sf_dir, "embeddings")
    samp = emb.filter(F.col("vec_id") % 5 == 0)
    truth = dedup.embedding_near_dup_pairs(
        samp.withColumn("allblock", F.lit(0)), threshold=0.4, blocking="allblock"
    ).select("a_id", "b_id")
    blocked = dedup.embedding_near_dup_pairs(samp, threshold=0.4).select(
        F.col("a_id").alias("fa"), F.col("b_id").alias("fb")
    )
    marked = truth.join(
        blocked,
        (F.col("a_id") == F.col("fa")) & (F.col("b_id") == F.col("fb")),
        "left",
    )
    agg = marked.agg(
        F.count("*").alias("n_truth"),
        F.count("fa").alias("n_found"),
    )
    return agg.select(
        F.col("n_truth").cast("long").alias("n_truth_pairs"),
        F.col("n_found").cast("long").alias("n_blocked_pairs"),
        (F.col("n_truth") - F.col("n_found")).cast("long").alias("n_missed"),
        (
            F.floor(
                F.col("n_found").cast("double") / F.col("n_truth") * 1e6 + F.lit(0.5)
            )
            / 1e6
        ).alias("blocking_recall"),
    )


@register(
    "experiment_readout",
    # flagship composition: SRM gate + conversion z + Welch t + MDE in
    # ONE row — each block nests its standalone query's exact algebra
    """
WITH pu AS (
  SELECT user_id, user_id % 2 AS arm,
         MAX(CASE WHEN event_type = 'purchase' AND value > 150 THEN 1 ELSE 0 END)
           AS converted
  FROM events GROUP BY 1, 2
), su AS (SELECT arm, COUNT(*) AS n, SUM(converted) AS k FROM pu GROUP BY 1),
counts AS (
  SELECT a.n AS n0, a.k AS k0, b.n AS n1, b.k AS k1
  FROM su a, su b WHERE a.arm = 0 AND b.arm = 1
), srm AS (
  SELECT n0, n1, k0, k1, CAST(n0 + n1 AS DOUBLE) / 2.0 AS e FROM counts
), zc AS (
  SELECT n0, n1, k0, k1,
         (n0 - e) * (n0 - e) / e + (n1 - e) * (n1 - e) / e AS chi2,
         (CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE)
          - CAST(k0 AS DOUBLE) / CAST(n0 AS DOUBLE))
         / SQRT(CAST(k0 + k1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)
                * (1.0 - CAST(k0 + k1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
                * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE))) AS z,
         CAST(k0 + k1 AS DOUBLE) / (n0 + n1) AS p,
         CASE WHEN n0 < n1 THEN n0 ELSE n1 END AS nmin
  FROM srm
), pv AS (
  SELECT user_id % 2 AS arm, COUNT(*) AS n,
         SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS s1,
         SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
             * CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS s2
  FROM events WHERE event_type = 'purchase' GROUP BY 1
), pj AS (
  SELECT a.n AS vn0, a.s1 AS a1, a.s2 AS a2, b.n AS vn1, b.s1 AS b1, b.s2 AS b2
  FROM pv a, pv b WHERE a.arm = 0 AND b.arm = 1
), vt AS (
  SELECT (CAST(b1 AS DOUBLE) / vn1 - CAST(a1 AS DOUBLE) / vn0)
         / SQRT(((CAST(a2 AS DOUBLE) - CAST(a1 AS DOUBLE) * a1 / vn0) / (vn0 - 1)) / vn0
                + ((CAST(b2 AS DOUBLE) - CAST(b1 AS DOUBLE) * b1 / vn1) / (vn1 - 1)) / vn1)
           AS tstat
  FROM pj
)
SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
       FLOOR(chi2 * 1e4 + 0.5) / 1e4 AS srm_chi2,
       chi2 <= 3.841 AS srm_ok,
       FLOOR(CAST(k0 AS DOUBLE) / CAST(n0 AS DOUBLE) * 1e6 + 0.5) / 1e6 AS conv_p0,
       FLOOR(CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE) * 1e6 + 0.5) / 1e6 AS conv_p1,
       FLOOR(z * 1e4 + 0.5) / 1e4 AS conv_z,
       ABS(z) > 1.96 AS conv_significant,
       FLOOR(vt.tstat * 1e4 + 0.5) / 1e4 AS value_t,
       ABS(vt.tstat) > 1.96 AS value_significant,
       FLOOR(2.801585 * SQRT(2.0 * p * (1.0 - p) / nmin) * 1e6 + 0.5) / 1e6
         AS mde_abs
FROM zc, vt
""",
)
def experiment_readout_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete A/B readout as ONE report row — the composition an
    experimentation platform actually ships: SRM validity gate first
    (srm_check), then the conversion z-test (ab_test_report's
    statistic), the continuous-metric Welch t (welch_ttest), and the
    design-power MDE (power_mde_report). Each block reuses its
    standalone query's exact integer-moment algebra; the oracle nests
    all four. Two partial-agg shuffles (per-user conversion, purchase
    moments) + one-row joins — flat at 100 TB."""
    events = load_events(spark, sf_dir)
    pu = events.groupBy(
        "user_id", F.pmod(F.col("user_id"), F.lit(2)).alias("arm")
    ).agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 150), 1
            ).otherwise(0)
        ).alias("converted")
    )
    su = pu.groupBy("arm").agg(F.count("*").alias("n"), F.sum("converted").alias("k"))
    counts = (
        su.filter(F.col("arm") == 0)
        .select(F.col("n").alias("n0"), F.col("k").alias("k0"))
        .join(
            F.broadcast(
                su.filter(F.col("arm") == 1).select(
                    F.col("n").alias("n1"), F.col("k").alias("k1")
                )
            )
        )
    )
    e = (F.col("n0") + F.col("n1")).cast("double") / 2.0
    chi2 = (F.col("n0") - e) * (F.col("n0") - e) / e + (F.col("n1") - e) * (
        F.col("n1") - e
    ) / e
    pooled = (F.col("k0") + F.col("k1")).cast("double") / (F.col("n0") + F.col("n1"))
    z = (
        F.col("k1").cast("double") / F.col("n1").cast("double")
        - F.col("k0").cast("double") / F.col("n0").cast("double")
    ) / F.sqrt(
        pooled
        * (F.lit(1.0) - pooled)
        * (
            F.lit(1.0) / F.col("n0").cast("double")
            + F.lit(1.0) / F.col("n1").cast("double")
        )
    )
    nmin = F.when(F.col("n0") < F.col("n1"), F.col("n0")).otherwise(F.col("n1"))
    zc = counts.select(
        "n0", "n1", "k0", "k1",
        chi2.alias("chi2"), z.alias("z"), pooled.alias("p"), nmin.alias("nmin"),
    )
    vu = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    pv = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(F.pmod(F.col("user_id"), F.lit(2)).alias("arm"))
        .agg(F.count("*").alias("n"), F.sum(vu).alias("s1"), F.sum(vu * vu).alias("s2"))
    )
    pj = (
        pv.filter(F.col("arm") == 0)
        .select(F.col("n").alias("vn0"), F.col("s1").alias("a1"), F.col("s2").alias("a2"))
        .join(
            F.broadcast(
                pv.filter(F.col("arm") == 1).select(
                    F.col("n").alias("vn1"),
                    F.col("s1").alias("b1"),
                    F.col("s2").alias("b2"),
                )
            )
        )
    )
    tstat = (
        F.col("b1").cast("double") / F.col("vn1")
        - F.col("a1").cast("double") / F.col("vn0")
    ) / F.sqrt(
        (
            (F.col("a2").cast("double") - F.col("a1").cast("double") * F.col("a1") / F.col("vn0"))
            / (F.col("vn0") - 1)
        )
        / F.col("vn0")
        + (
            (F.col("b2").cast("double") - F.col("b1").cast("double") * F.col("b1") / F.col("vn1"))
            / (F.col("vn1") - 1)
        )
        / F.col("vn1")
    )
    vt = pj.select(tstat.alias("tstat"))
    q4 = lambda c: F.floor(c * 1e4 + F.lit(0.5)) / 1e4  # noqa: E731
    q6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return zc.join(F.broadcast(vt)).select(
        F.col("n0").cast("long").alias("n0"),
        F.col("n1").cast("long").alias("n1"),
        q4(F.col("chi2")).alias("srm_chi2"),
        (F.col("chi2") <= 3.841).alias("srm_ok"),
        q6(F.col("k0").cast("double") / F.col("n0").cast("double")).alias("conv_p0"),
        q6(F.col("k1").cast("double") / F.col("n1").cast("double")).alias("conv_p1"),
        q4(F.col("z")).alias("conv_z"),
        (F.abs(F.col("z")) > 1.96).alias("conv_significant"),
        q4(F.col("tstat")).alias("value_t"),
        (F.abs(F.col("tstat")) > 1.96).alias("value_significant"),
        q6(
            F.lit(2.801585)
            * F.sqrt(F.lit(2.0) * F.col("p") * (F.lit(1.0) - F.col("p")) / F.col("nmin"))
        ).alias("mde_abs"),
    )


@register(
    "multimodal_keyframe_select",
    # oracle rebuilds frames from the synth formula, mirrors SAD cuts,
    # running-sum scene ids, and the middle-frame keyframe pick
    """
WITH dims AS (
  SELECT doc_id, 4 + 2 * (doc_id % 3) AS w, 4 + 2 * (doc_id % 2) AS h,
         3 + doc_id % 4 AS n
  FROM documents
), fr AS (
  SELECT doc_id, f.f AS f, w, h FROM dims,
  LATERAL (SELECT UNNEST(range(n)) AS f) f
), px AS (
  SELECT doc_id, f, w, h, j.j AS j,
         (doc_id * 11 + f * 17 + j.j * 5) % 256 AS yv
  FROM fr, LATERAL (SELECT UNNEST(range(w * h)) AS j) j
), luma AS (
  SELECT doc_id, f, SUM(yv) AS luma FROM px GROUP BY 1, 2
), sad AS (
  SELECT a.doc_id, a.f, SUM(ABS(a.yv - b.yv)) AS sad
  FROM px a JOIN px b ON a.doc_id = b.doc_id AND a.j = b.j AND b.f = a.f - 1
  GROUP BY 1, 2
), cuts AS (
  SELECT l.doc_id, l.f, l.luma,
         COALESCE(s.sad > 32 * d.w * d.h, FALSE) AS is_cut
  FROM luma l
  LEFT JOIN sad s ON s.doc_id = l.doc_id AND s.f = l.f
  JOIN dims d ON d.doc_id = l.doc_id
), scenes AS (
  SELECT doc_id, f, luma,
         SUM(CASE WHEN is_cut THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY f) AS scene
  FROM cuts
), agg AS (
  SELECT doc_id, scene, MIN(f) AS s, MAX(f) AS e, COUNT(*) AS nf
  FROM scenes GROUP BY 1, 2
)
SELECT a.doc_id, CAST(a.scene AS INT) AS scene_id, CAST(s AS INT) AS start_frame,
       CAST(e AS INT) AS end_frame, CAST(nf AS INT) AS n_frames,
       CAST((s + e) // 2 AS INT) AS keyframe_idx,
       CAST(l.luma AS BIGINT) AS keyframe_luma
FROM agg a JOIN scenes l ON l.doc_id = a.doc_id AND l.f = (s + e) // 2
ORDER BY a.doc_id, scene_id
""",
)
def multimodal_keyframe_select_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyframe selection per detected shot — the sampling stage a
    video training pipeline runs AFTER scene-cut detection (sample
    within shots, not across them): scenes are running sums of the SAD
    cut flags, and each scene's keyframe is its middle frame (the
    standard representative-frame heuristic). Decode is map-side
    (video_frame_stats); scene assignment and the keyframe pick are
    one window + one census join on (doc, frame) longs — pixels never
    shuffle. Linear in video bytes at 100 TB."""
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    frames = multimodal.video_frame_stats(multimodal.synthetic_y4m_media(docs))
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    scenes = frames.withColumn(
        "scene", F.sum(F.col("is_cut").cast("int")).over(w)
    )
    agg = scenes.groupBy("doc_id", "scene").agg(
        F.min("frame_idx").alias("start_frame"),
        F.max("frame_idx").alias("end_frame"),
        F.count("*").alias("n_frames"),
    ).withColumn(
        "keyframe_idx",
        F.expr("CAST((start_frame + end_frame) DIV 2 AS INT)"),
    )
    key = scenes.select(
        F.col("doc_id").alias("kd"),
        F.col("frame_idx").alias("kf"),
        F.col("luma_sum").alias("keyframe_luma"),
    )
    return (
        agg.join(
            key,
            (F.col("doc_id") == F.col("kd")) & (F.col("keyframe_idx") == F.col("kf")),
        )
        .select(
            "doc_id",
            F.col("scene").cast("int").alias("scene_id"),
            F.col("start_frame").cast("int").alias("start_frame"),
            F.col("end_frame").cast("int").alias("end_frame"),
            F.col("n_frames").cast("int").alias("n_frames"),
            F.col("keyframe_idx").cast("int").alias("keyframe_idx"),
            F.col("keyframe_luma").cast("long").alias("keyframe_luma"),
        )
        .orderBy("doc_id", "scene_id")
    )


@register(
    "dbscan_grid_clusters",
    # grid-density clustering; oracle walks the same core-cell graph
    # with the recursive transitive-closure CTE (dedup_groups pattern)
    """
WITH RECURSIVE pts AS (
  SELECT event_id,
         (event_id * 2654435761) % 1000 AS x,
         (user_id * 40503 + event_id * 97) % 1000 AS y
  FROM events WHERE event_type = 'click'
), cells AS (
  SELECT x // 5 AS cx, y // 5 AS cy, COUNT(*) AS n
  FROM pts GROUP BY 1, 2
), core AS (
  SELECT cx, cy, cx * 1000 + cy AS cell, n FROM cells WHERE n >= 3
), edges AS (
  SELECT a.cell AS u, b.cell AS v
  FROM core a JOIN core b
    ON ABS(a.cx - b.cx) <= 1 AND ABS(a.cy - b.cy) <= 1 AND a.cell <> b.cell
), reach AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
), comp AS (
  SELECT c.cell, LEAST(c.cell, COALESCE(MIN(r.v), c.cell)) AS cluster_id
  FROM core c LEFT JOIN reach r ON r.u = c.cell
  GROUP BY c.cell
), clusters AS (
  SELECT cluster_id, COUNT(*) AS n_cells, SUM(core.n) AS n_points
  FROM comp JOIN core ON comp.cell = core.cell
  GROUP BY cluster_id
), noise AS (
  SELECT CAST(-1 AS BIGINT) AS cluster_id, COUNT(*) AS n_cells,
         COALESCE(SUM(n), 0) AS n_points
  FROM cells WHERE n < 3
)
SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(n_cells AS BIGINT) AS n_cells,
       CAST(n_points AS BIGINT) AS n_points
FROM (SELECT * FROM clusters UNION ALL SELECT * FROM noise)
ORDER BY cluster_id
""",
)
def dbscan_grid_clusters_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-density clustering — DBSCAN's (Ester et al. 1996 — public
    method) scalable grid formulation (eps-sized cells, core cell =
    minPts occupancy, clusters = 8-connected components of core cells;
    sparse cells are noise): completes the clustering family (kmeans /
    k-center / mutual-kNN / SemDeDup centroids) with the density-based
    member, on the same synthetic plane as grid_radius_join.

    Plan shape: one partial-agg shuffle to the occupied-cell census;
    the neighbor join and min-label components (dedup_components —
    convergence by label-sum fixpoint) run on CELLS, never points —
    the cell census is the scale bound, not the row count. Points
    shuffle exactly once. Linear at 100 TB."""
    from ..operators import dedup

    events = load_events(spark, sf_dir)
    pts = events.filter(F.col("event_type") == "click").select(
        "event_id",
        ((F.col("event_id") * 2654435761) % 1000).alias("x"),
        ((F.col("user_id") * 40503 + F.col("event_id") * 97) % 1000).alias("y"),
    )
    # cells feeds core + noise, core feeds four consumers (neighbor
    # expansion, edge semi-join, component vertices, cluster census):
    # checkpoints run the point scan + cell census once
    cells = pts.groupBy(
        F.floor(F.col("x") / 5).alias("cx"), F.floor(F.col("y") / 5).alias("cy")
    ).agg(F.count("*").alias("n")).localCheckpoint(eager=False)
    core = cells.filter(F.col("n") >= 3).withColumn(
        "cell", F.col("cx") * 1000 + F.col("cy")
    ).localCheckpoint(eager=False)
    offs = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1) if (dx, dy) != (0, 0)]
    spark_offs = tiny_df(spark, offs, "dx int, dy int")
    nb = core.join(F.broadcast(spark_offs)).select(
        F.col("cell").alias("a_id"),
        ((F.col("cx") + F.col("dx")) * 1000 + (F.col("cy") + F.col("dy"))).alias(
            "b_id"
        ),
    )
    edges = nb.join(
        core.select(F.col("cell").alias("b_id")), "b_id"
    ).filter(F.col("a_id") != F.col("b_id"))
    comp = dedup.dedup_components(
        core.select(F.col("cell").alias("doc_id")), edges
    ).select(F.col("doc_id").alias("cell"), F.col("component_id").alias("cluster_id"))
    clusters = (
        comp.join(core, "cell")
        .groupBy("cluster_id")
        .agg(F.count("*").alias("n_cells"), F.sum("n").alias("n_points"))
    )
    noise = cells.filter(F.col("n") < 3).agg(
        F.lit(-1).cast("long").alias("cluster_id"),
        F.count("*").alias("n_cells"),
        F.coalesce(F.sum("n"), F.lit(0)).alias("n_points"),
    )
    return (
        clusters.unionByName(noise)
        .select(
            F.col("cluster_id").cast("long").alias("cluster_id"),
            F.col("n_cells").cast("long").alias("n_cells"),
            F.col("n_points").cast("long").alias("n_points"),
        )
        .orderBy("cluster_id")
    )


@register(
    "decay_weighted_activity",
    # per-event decay weights quantize to exact 1e-6 ints BEFORE the
    # per-user sum; EXP through the same fixed tree on both engines
    """
WITH ref AS (SELECT MAX(epoch_us(ts)) AS mx FROM events),
wq AS (
  SELECT user_id,
         CAST(FLOOR(EXP(-0.05 * ((r.mx - epoch_us(ts)) / 86400000000.0))
                    * 1e6 + 0.5) AS BIGINT) AS w
  FROM events, ref r
), pu AS (
  SELECT user_id, COUNT(*) AS n_events, SUM(w) AS sw
  FROM wq GROUP BY 1
)
SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
       FLOOR(CAST(sw AS DOUBLE) / 1e6 * 1e6 + 0.5) / 1e6 AS decay_score
FROM pu WHERE user_id % 57 = 0 ORDER BY user_id
""",
)
def decay_weighted_activity_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential time-decay activity scoring (the recency-weighted
    engagement feature every ranking/CRM system keeps; exponential
    decay per Ebbinghaus / standard feature-store practice — public):
    each event contributes exp(-lambda * age_days) relative to the
    dataset's newest event, lambda = 0.05 (half-life ~14 days).

    Determinism: each per-event weight quantizes to an exact 1e-6 int
    BEFORE the per-user sum (a float sum over events would be
    order-nondeterministic); the age and EXP are the same fixed IEEE
    tree on both engines. Output sampled by user id.

    Plan shape: one 1-value bounds broadcast + one user shuffle of
    integer partial sums. Linear at 100 TB."""
    events = load_events(spark, sf_dir)
    ref = events.agg(F.max(F.unix_micros("ts")).alias("mx"))
    wq = events.join(F.broadcast(ref)).select(
        "user_id",
        F.floor(
            F.exp(
                F.lit(-0.05)
                * ((F.col("mx") - F.unix_micros("ts")) / F.lit(86400000000.0))
            )
            * 1e6
            + F.lit(0.5)
        )
        .cast("long")
        .alias("w"),
    )
    pu = wq.groupBy("user_id").agg(
        F.count("*").alias("n_events"), F.sum("w").alias("sw")
    )
    return (
        pu.filter(F.col("user_id") % 57 == 0)
        .select(
            "user_id",
            F.col("n_events").cast("long").alias("n_events"),
            (
                F.floor(F.col("sw").cast("double") / 1e6 * 1e6 + F.lit(0.5)) / 1e6
            ).alias("decay_score"),
        )
        .orderBy("user_id")
    )


@register(
    "skipgram_negative_table",
    # word2vec negative-sampling table: unigram^0.75 via EXP(0.75*LN c)
    # (identical tree both engines), exact integer prefix sums
    """
WITH toks AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents
), vc AS (
  SELECT tok, COUNT(*) AS c FROM toks WHERE tok <> '' GROUP BY tok
), tot_t AS (SELECT SUM(c) AS t FROM vc),
w AS (
  SELECT tok, c,
         CAST(FLOOR(EXP(0.75 * LN(CAST(c AS DOUBLE))) * 1e6 + 0.5) AS BIGINT)
           AS w75
  FROM vc
), tot_w AS (SELECT SUM(w75) AS sw FROM w),
ranked AS (
  SELECT tok, c, w75,
         ROW_NUMBER() OVER (ORDER BY w75 DESC, tok) AS rank,
         SUM(w75) OVER (ORDER BY w75 DESC, tok
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_w
  FROM w QUALIFY rank <= 50
)
SELECT CAST(rank AS BIGINT) AS rank, tok, CAST(c AS BIGINT) AS n_occurrences,
       FLOOR(CAST(w75 AS DOUBLE) / tw.sw * 1e8 + 0.5) / 1e8 AS prob,
       FLOOR(CAST(cum_w AS DOUBLE) / tw.sw * 1e8 + 0.5) / 1e8 AS cum_prob,
       FLOOR(5.0 * tt.t * (CAST(w75 AS DOUBLE) / tw.sw) * 1e4 + 0.5) / 1e4
         AS expected_negatives
FROM ranked, tot_w tw, tot_t tt
ORDER BY rank
""",
)
def skipgram_negative_table_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec negative-sampling table (Mikolov et al. 2013 — public
    method): the unigram^0.75 distribution skip-gram training draws
    negatives from, as a top-50 sampling table with cumulative bounds
    and the expected negative-draw count at k=5 per center token —
    the embedding-training prep stage on the corpus vocabulary.

    Determinism: counts are exact; c^0.75 is EXP(0.75*LN(c)) — the
    same fixed tree on both engines — quantized to 1e-6 ints before
    any sum, so prefix sums are exact integers.

    Plan shape: one token-census shuffle (vocabulary-bounded); the
    rank/prefix window runs over the 50-row table. Linear at 100 TB."""
    documents = load_table(spark, sf_dir, "documents")
    toks = documents.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    vc = toks.groupBy("tok").agg(F.count("*").alias("c"))
    tot_t = vc.agg(F.sum("c").alias("t"))
    w = vc.select(
        "tok",
        "c",
        F.floor(F.exp(F.lit(0.75) * F.log(F.col("c").cast("double"))) * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("w75"),
    )
    tot_w = w.agg(F.sum("w75").alias("sw"))
    wr = Window.orderBy(F.col("w75").desc(), "tok")
    ranked = (
        w.withColumn("rank", F.row_number().over(wr))
        .withColumn(
            "cum_w",
            F.sum("w75").over(wr.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .filter(F.col("rank") <= 50)
    )
    q8 = lambda c_: F.floor(c_ * 1e8 + F.lit(0.5)) / 1e8  # noqa: E731
    return (
        ranked.join(F.broadcast(tot_w))
        .join(F.broadcast(tot_t))
        .select(
            F.col("rank").cast("long").alias("rank"),
            "tok",
            F.col("c").cast("long").alias("n_occurrences"),
            q8(F.col("w75").cast("double") / F.col("sw")).alias("prob"),
            q8(F.col("cum_w").cast("double") / F.col("sw")).alias("cum_prob"),
            (
                F.floor(
                    F.lit(5.0)
                    * F.col("t")
                    * (F.col("w75").cast("double") / F.col("sw"))
                    * 1e4
                    + F.lit(0.5)
                )
                / 1e4
            ).alias("expected_negatives"),
        )
        .orderBy("rank")
    )


