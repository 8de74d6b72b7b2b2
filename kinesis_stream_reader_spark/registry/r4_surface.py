"""Registry slice: mechanical round-6 split of the original single-file
registry.py (22.4k LoC) into family modules — see registry/__init__.py.
Slice order is preserved; oracle-builder helpers that read ORACLES at
import time rely on it."""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403
from ._shared import _FLAT_COLS, _nested_events  # noqa: F401
from .r2_stats_streams import _TOKS_CTE  # noqa: F401

# ---------------------------------------------------------------------------
# ROUND 4 — Spark-4 SQL front-door surface: pipe syntax, SQL-defined
# scalar/table functions, session variables, and state-store
# introspection. The reference's only query language is HTTP params
# (queryTools/index.js); these are the modern declarative front doors a
# Spark engine exposes over the same relations.
# ---------------------------------------------------------------------------
@register(
    "sql_pipe_syntax",
    """
SELECT event_type,
       COUNT(*) AS n_events,
       SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS total_cents,
       floor(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
             / COUNT(*) / 100.0 * 1e4 + 0.5) / 1e4 AS avg_value
FROM events
WHERE event_type IN ('click', 'view', 'purchase')
GROUP BY event_type ORDER BY event_type
""",
)
def sql_pipe_syntax_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4.0 `|>` operators, SIGMOD'24 'Pipe
    Syntax in SQL' — public): the linear FROM -> WHERE -> EXTEND ->
    AGGREGATE -> ORDER BY dataflow form of the revenue rollup. Same
    Catalyst plan as the ANSI form (the parser desugars before
    analysis), so pushdown/codegen are identical — the oracle IS the
    ANSI twin, proving the two front doors agree bit-for-bit."""
    load_events(spark, sf_dir).createOrReplaceTempView("ksr_events_pipe")
    return spark.sql(
        """
        FROM ksr_events_pipe
        |> WHERE event_type IN ('click', 'view', 'purchase')
        |> EXTEND CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |> AGGREGATE COUNT(*) AS n_events, SUM(cents) AS total_cents
           GROUP BY event_type
        |> EXTEND floor(total_cents / n_events / 100.0 * 1e4 + 0.5) / 1e4
           AS avg_value
        |> ORDER BY event_type
        """
    )


@register(
    "sql_udf_scalar",
    """
WITH tiered AS (
  SELECT CASE WHEN value < 10 THEN 'low'
              WHEN value < 100 THEN 'mid'
              ELSE 'high' END AS tier,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
)
SELECT tier, COUNT(*) AS n_events, SUM(cents)::BIGINT AS total_cents
FROM tiered GROUP BY tier ORDER BY tier
""",
)
def sql_udf_scalar_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined scalar function (Spark 4.1 CREATE FUNCTION ...
    RETURN expr): the value-tier business rule declared ONCE in the
    catalog and reused by any query — the engine's user-extensible
    scalar surface WITHOUT leaving the JVM (the body inlines into the
    caller's plan at analysis time, so it codegens like a CASE
    expression; zero UDF serialization cost, unlike the Python path).
    Oracle inlines the identical CASE by hand."""
    load_events(spark, sf_dir).createOrReplaceTempView("ksr_events_udf")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION ksr_value_tier(v DOUBLE)
        RETURNS STRING
        RETURN CASE WHEN v < 10 THEN 'low'
                    WHEN v < 100 THEN 'mid'
                    ELSE 'high' END
        """
    )
    return spark.sql(
        """
        SELECT ksr_value_tier(value) AS tier,
               COUNT(*) AS n_events,
               SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS total_cents
        FROM ksr_events_udf
        GROUP BY ksr_value_tier(value)
        ORDER BY tier
        """
    )


@register(
    "sql_udf_table",
    """
WITH base AS (
  SELECT o_orderkey, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 97 = 0
)
SELECT o_orderkey, k.k AS installment,
       CASE WHEN k.k < 3 THEN cents // 3
            ELSE cents - 2 * (cents // 3) END AS amount_cents
FROM base, LATERAL (SELECT UNNEST(range(1, 4)) AS k) k(k)
ORDER BY o_orderkey, installment
""",
)
def sql_udf_table_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined TABLE function (CREATE FUNCTION ... RETURNS TABLE):
    a 3-way installment schedule — floor-split cents with the
    remainder on the last installment, so the rows sum back to the
    exact order total — applied per order row via LATERAL correlation.
    The declarative twin of the Python UDTF (udtf_token_stats): the
    body is a correlated subplan Catalyst inlines and optimizes (the
    lateral join becomes a projected explode, no per-row process
    boundary). Sparse key filter keeps the fixture output readable;
    the plan is a map-side explode at any scale."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("ksr_orders_tvf")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION ksr_installments(cents BIGINT)
        RETURNS TABLE(installment INT, amount_cents BIGINT)
        RETURN SELECT k AS installment,
                      CASE WHEN k < 3 THEN cents DIV 3
                           ELSE cents - 2 * (cents DIV 3) END AS amount_cents
               FROM (SELECT explode(sequence(1, 3)) AS k)
        """
    )
    return spark.sql(
        """
        SELECT o.o_orderkey, t.installment, t.amount_cents
        FROM (SELECT o_orderkey,
                     CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
              FROM ksr_orders_tvf WHERE o_orderkey % 97 = 0) o,
             LATERAL ksr_installments(o.cents) t
        ORDER BY o.o_orderkey, t.installment
        """
    )


@register(
    "sql_session_variables",
    """
WITH thr AS (
  SELECT CAST(floor(AVG(value) * 100 + 0.5) AS BIGINT) AS thr_cents
  FROM events WHERE event_type = 'purchase'
)
SELECT e.event_type,
       COUNT(*) AS n_above,
       MAX(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) AS max_cents
FROM events e, thr
WHERE CAST(floor(e.value * 100 + 0.5) AS BIGINT) > thr.thr_cents
GROUP BY e.event_type ORDER BY e.event_type
""",
)
def sql_session_variables_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session variables (Spark 4 DECLARE VARIABLE / SET VAR): the
    two-step parameterized-analytics shape — first SET a threshold
    variable from a scalar subquery (mean purchase cents), then filter
    a second query with it. Variables live in the session catalog and
    fold into the plan as literals at analysis time, so the scan
    filter is pushed down exactly like a constant (unlike a driver
    round-trip through Python, the value never leaves SQL). Oracle
    computes the same threshold inline via a CTE cross join."""
    load_events(spark, sf_dir).createOrReplaceTempView("ksr_events_var")
    spark.sql("DECLARE OR REPLACE VARIABLE ksr_thr_cents BIGINT")
    spark.sql(
        """
        SET VAR ksr_thr_cents =
          (SELECT CAST(floor(AVG(value) * 100 + 0.5) AS BIGINT)
           FROM ksr_events_var WHERE event_type = 'purchase')
        """
    )
    return spark.sql(
        """
        SELECT event_type,
               COUNT(*) AS n_above,
               MAX(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS max_cents
        FROM ksr_events_var
        WHERE CAST(floor(value * 100 + 0.5) AS BIGINT) > ksr_thr_cents
        GROUP BY event_type ORDER BY event_type
        """
    )


@register(
    "streaming_state_inspect",
    """
SELECT event_type,
       COUNT(*) AS n_events,
       SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS total_cents
FROM events GROUP BY event_type ORDER BY event_type
""",
)
def streaming_state_inspect_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store INTROSPECTION (Spark 4 `statestore` reader): drain a
    per-type count+cents aggregation on the stream, then read the
    aggregation's checkpointed state back as a DataFrame — the result
    rows come from the STATE FILES, not the sink. Matching the batch
    aggregate (the oracle) round-trip-proves the persisted state is
    exactly the aggregation's logical content; the same reader is how
    production debugs state skew or migrates state without replaying
    the stream."""
    from ..streaming import jobs

    stream = jobs.stream_events(spark, sf_dir)
    return jobs.state_store_snapshot(stream)


# ---------------------------------------------------------------------------
# ROUND 4 — statistics completions: the rank-based two-sample test, the
# k-group mean comparison, and the proportion interval (next to
# welch_ttest / ab_test_report / chi2_independence).
# ---------------------------------------------------------------------------
@register(
    "mann_whitney_utest",
    """
WITH vals AS (
  SELECT user_id % 2 AS arm,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS vq
  FROM events WHERE event_type = 'purchase'
), census AS (
  SELECT vq,
         SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS c0,
         SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS c1
  FROM vals GROUP BY vq
), ranked AS (
  SELECT vq, c0, c1, c0 + c1 AS t,
         COALESCE(SUM(c0 + c1) OVER (ORDER BY vq
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM census
), agg AS (
  SELECT SUM(c0)::BIGINT AS n0, SUM(c1)::BIGINT AS n1,
         SUM(c1 * (2 * cum + t + 1))::BIGINT AS two_r1,
         SUM(t * t * t - t)::BIGINT AS tie_term
  FROM ranked
), z AS (
  SELECT n0, n1,
         (CAST(two_r1 AS DOUBLE) - CAST(n1 AS DOUBLE) * (n1 + 1)) / 2 AS u1,
         (CAST(two_r1 AS DOUBLE) - CAST(n1 AS DOUBLE) * (n1 + 1)) / 2
           - CAST(n0 AS DOUBLE) * n1 / 2 AS num,
         SQRT(CAST(n0 AS DOUBLE) * n1 / 12.0
              * ((n0 + n1 + 1)
                 - CAST(tie_term AS DOUBLE)
                   / (CAST(n0 + n1 AS DOUBLE) * (n0 + n1 - 1)))) AS sd
  FROM agg
)
SELECT n0, n1, u1,
       floor(num / sd * 1e4 + 0.5) / 1e4 AS z_stat,
       ABS(num / sd) > 1.96 AS significant
FROM z
""",
)
def mann_whitney_utest_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U / Wilcoxon rank-sum test (1947 — public method)
    comparing purchase value distributions between the user-parity
    arms: the DISTRIBUTION-FREE twin of welch_ttest (valid under the
    heavy-tailed revenue distributions where the t-test's normality
    assumption is shaky). Midranks, the U statistic, and the tie
    correction are all computed from a QUANTIZED-VALUE CENSUS — the
    model_eval_auc construction (U is the same 2U statistic AUC
    rescales) — so the corpus never crosses a single partition:
    doubled midranks 2*cum + t + 1 keep everything integer, two_r1
    and the tie term SUM(t^3 - t) are exact bigints, and the only
    float ops are the final z expression, one fixed IEEE tree.

    Plan shape: one partial-agg shuffle keyed on the quantized value;
    the prefix-sum window runs over the bounded distinct-value
    relation (cents-bounded, ~|price grid| rows) and the final
    aggregate is one row. Linear at 100 TB."""
    events = load_events(spark, sf_dir)
    vq = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    vals = events.filter(F.col("event_type") == "purchase").select(
        F.pmod(F.col("user_id"), F.lit(2)).alias("arm"), vq.alias("vq")
    )
    census = vals.groupBy("vq").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("c1"),
    )
    w = Window.orderBy("vq").rowsBetween(Window.unboundedPreceding, -1)
    ranked = census.select(
        "c0",
        "c1",
        (F.col("c0") + F.col("c1")).alias("t"),
        F.coalesce(F.sum(F.col("c0") + F.col("c1")).over(w), F.lit(0)).alias("cum"),
    )
    agg = ranked.agg(
        F.sum("c0").alias("n0"),
        F.sum("c1").alias("n1"),
        F.sum(F.col("c1") * (2 * F.col("cum") + F.col("t") + 1)).alias("two_r1"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("tie_term"),
    )
    u1 = (
        F.col("two_r1").cast("double") - F.col("n1").cast("double") * (F.col("n1") + 1)
    ) / 2
    num = u1 - F.col("n0").cast("double") * F.col("n1") / 2
    n = F.col("n0") + F.col("n1")
    sd = F.sqrt(
        F.col("n0").cast("double")
        * F.col("n1")
        / 12.0
        * (
            (n + 1)
            - F.col("tie_term").cast("double") / (n.cast("double") * (n - 1))
        )
    )
    return agg.select(
        "n0",
        "n1",
        u1.alias("u1"),
        (F.floor(num / sd * 1e4 + F.lit(0.5)) / 1e4).alias("z_stat"),
        (F.abs(num / sd) > 1.96).alias("significant"),
    )


@register(
    "anova_oneway",
    """
WITH st AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS s1,
         SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)
             * CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS s2
  FROM events GROUP BY event_type
), terms AS (
  SELECT COUNT(*)::BIGINT AS k, SUM(n)::BIGINT AS n_total,
         SUM(s1)::BIGINT AS s1_all, SUM(s2)::BIGINT AS s2_all,
         SUM(s1 * s1 // n)::BIGINT AS sq_within
  FROM st
), ss AS (
  SELECT k, n_total,
         sq_within - (s1_all * s1_all // n_total) AS ssb,
         s2_all - sq_within AS ssw
  FROM terms
)
SELECT k, n_total,
       CAST(ssb AS BIGINT) AS ssb_cents2,
       CAST(ssw AS BIGINT) AS ssw_cents2,
       floor((CAST(ssb AS DOUBLE) / (k - 1))
             / (CAST(ssw AS DOUBLE) / (n_total - k)) * 1e6 + 0.5) / 1e6 AS f_stat
FROM ss
""",
)
def anova_oneway_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic for mean value across the event-type
    groups (Fisher — public method): the k-group generalization of
    welch_ttest's two arms, the omnibus 'do ANY groups differ' gate
    run before pairwise tests.

    Determinism: per-group (n, sum, sum-of-squares) are exact cent
    integers; the between/within sums of squares use INTEGER FLOOR
    DIVISION for each s1^2/n term (s1^2 <= ~2.5e17 at sf0.1 fits
    int64; a 100 TB deployment lifts to DECIMAL(38,0) exactly like
    trend_lines), so ssb/ssw are exact bigints bit-identical across
    engines — no IEEE sum-order hazard — and the only float op is the
    final F ratio, floor-error <= 1 cent^2 per group (relative 1e-14).

    Plan shape: ONE partial-agg shuffle to k=|event types| rows, then
    one-row algebra. Linear at 100 TB."""
    events = load_events(spark, sf_dir)
    vu = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    st = events.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(vu).alias("s1"),
        F.sum(vu * vu).alias("s2"),
    )
    terms = st.agg(
        F.count("*").alias("k"),
        F.sum("n").alias("n_total"),
        F.sum("s1").alias("s1_all"),
        F.sum("s2").alias("s2_all"),
        F.sum(F.expr("s1 * s1 div n")).alias("sq_within"),
    )
    ssb = F.col("sq_within") - F.expr("s1_all * s1_all div n_total")
    ssw = F.col("s2_all") - F.col("sq_within")
    f_stat = (ssb.cast("double") / (F.col("k") - 1)) / (
        ssw.cast("double") / (F.col("n_total") - F.col("k"))
    )
    return terms.select(
        "k",
        "n_total",
        ssb.alias("ssb_cents2"),
        ssw.alias("ssw_cents2"),
        (F.floor(f_stat * 1e6 + F.lit(0.5)) / 1e6).alias("f_stat"),
    )


@register(
    "wilson_ci_report",
    """
WITH users AS (
  SELECT user_id % 2 AS variant, user_id,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY 1, 2
), st AS (
  SELECT variant, COUNT(*)::BIGINT AS n_users,
         SUM(converted)::BIGINT AS n_converted
  FROM users GROUP BY variant
), wil AS (
  SELECT variant, n_users, n_converted,
         CAST(n_converted AS DOUBLE) / n_users AS p,
         1.96 * 1.96 / n_users AS z2n
  FROM st
)
SELECT variant, n_users, n_converted,
       floor(p * 1e6 + 0.5) / 1e6 AS p_hat,
       floor((p + z2n / 2 - 1.96 * SQRT(p * (1 - p) / n_users + z2n / (4 * n_users)))
             / (1 + z2n) * 1e6 + 0.5) / 1e6 AS ci_low,
       floor((p + z2n / 2 + 1.96 * SQRT(p * (1 - p) / n_users + z2n / (4 * n_users)))
             / (1 + z2n) * 1e6 + 0.5) / 1e6 AS ci_high
FROM wil ORDER BY variant
""",
)
def wilson_ci_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score confidence interval (Wilson 1927 — public method)
    for each variant's conversion rate: the interval that stays inside
    [0,1] and behaves at small n / extreme p where the Wald interval
    collapses — what ab_test_report's point estimates ship with on a
    dashboard.

    Determinism: (n_users, n_converted) are exact via the per-user
    MAX-flag census; the interval is one fixed IEEE expression tree
    from those two integers, quantized to 1e-6.

    Plan shape: one user-keyed partial-agg shuffle (the cohort
    census), then a 2-row aggregate — the same two-shuffle ladder as
    streaming_ab_counts' batch twin. Linear at 100 TB."""
    events = load_events(spark, sf_dir)
    users = events.groupBy(
        F.pmod(F.col("user_id"), F.lit(2)).alias("variant"), "user_id"
    ).agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "converted"
        )
    )
    st = users.groupBy("variant").agg(
        F.count("*").alias("n_users"), F.sum("converted").alias("n_converted")
    )
    p = F.col("n_converted").cast("double") / F.col("n_users")
    z2n = F.lit(1.96) * 1.96 / F.col("n_users")
    half = F.lit(1.96) * F.sqrt(
        p * (1 - p) / F.col("n_users") + z2n / (4 * F.col("n_users"))
    )
    q6 = lambda c_: F.floor(c_ * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return st.select(
        "variant",
        "n_users",
        "n_converted",
        q6(p).alias("p_hat"),
        q6((p + z2n / 2 - half) / (1 + z2n)).alias("ci_low"),
        q6((p + z2n / 2 + half) / (1 + z2n)).alias("ci_high"),
    ).orderBy("variant")


# ---------------------------------------------------------------------------
# ROUND 4 — graph completions: the log-degree-weighted link predictor
# and seed-biased PageRank (next to link_prediction_jaccard /
# pagerank_converged).
# ---------------------------------------------------------------------------
@register(
    "link_prediction_adamic_adar",
    # same interaction graph / wedge join as link_prediction_jaccard;
    # per-wedge weight 1/LN(deg(shared)) quantized to nano-units then
    # exact-summed (the chi2 per-cell convention)
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
wedges AS (
  SELECT a1.node AS u, a2.node AS v,
         CAST(floor(1e9 / LN(d.deg) + 0.5) AS BIGINT) AS w_u
  FROM adj a1
  JOIN adj a2 ON a1.nbr = a2.nbr AND a1.node < a2.node
  JOIN deg d ON d.node = a1.nbr
),
cand AS (
  SELECT u, v, COUNT(*) AS n_common, SUM(w_u)::BIGINT AS aa_u
  FROM wedges GROUP BY u, v
),
nonedges AS (
  SELECT c.u, c.v, c.n_common, c.aa_u FROM cand c
  WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.u = c.u AND e.v = c.v)
)
SELECT u, v, n_common,
       floor(aa_u / 1e9 * 1e4 + 0.5) / 1e4 AS adamic_adar
FROM nonedges
ORDER BY aa_u DESC, u, v LIMIT 20
""",
)
def link_prediction_adamic_adar_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import graph

    return graph.link_prediction_adamic_adar(load_events(spark, sf_dir))


@register(
    "personalized_pagerank",
    # 3 unrolled power rounds in integer micro-units; teleport mass
    # goes to the SEED only (min node) — pagerank_converged's exact
    # arithmetic with a biased restart
    """
WITH raw AS (
  SELECT DISTINCT user_id AS src, event_id % 500 AS dst FROM events
),
outdeg AS (SELECT src, COUNT(*) AS outdeg FROM raw GROUP BY src),
nodes AS (
  SELECT src AS node FROM raw UNION SELECT dst AS node FROM raw
),
seed AS (SELECT MIN(node) AS s FROM nodes),
r0 AS (
  SELECT node, CASE WHEN node = s THEN 1000000000 ELSE 0 END AS rank_u
  FROM nodes, seed
),
r1 AS (
  SELECT n.node,
         CASE WHEN n.node = sd.s THEN 150000000 ELSE 0 END
         + CAST(floor(0.85 * COALESCE(i.inflow, 0) + 0.5) AS BIGINT) AS rank_u
  FROM nodes n CROSS JOIN seed sd
  LEFT JOIN (
    SELECT e.dst AS node, SUM(r.rank_u // o.outdeg) AS inflow
    FROM raw e JOIN outdeg o ON e.src = o.src JOIN r0 r ON r.node = e.src
    GROUP BY e.dst
  ) i ON i.node = n.node
),
r2 AS (
  SELECT n.node,
         CASE WHEN n.node = sd.s THEN 150000000 ELSE 0 END
         + CAST(floor(0.85 * COALESCE(i.inflow, 0) + 0.5) AS BIGINT) AS rank_u
  FROM nodes n CROSS JOIN seed sd
  LEFT JOIN (
    SELECT e.dst AS node, SUM(r.rank_u // o.outdeg) AS inflow
    FROM raw e JOIN outdeg o ON e.src = o.src JOIN r1 r ON r.node = e.src
    GROUP BY e.dst
  ) i ON i.node = n.node
),
r3 AS (
  SELECT n.node,
         CASE WHEN n.node = sd.s THEN 150000000 ELSE 0 END
         + CAST(floor(0.85 * COALESCE(i.inflow, 0) + 0.5) AS BIGINT) AS rank_u
  FROM nodes n CROSS JOIN seed sd
  LEFT JOIN (
    SELECT e.dst AS node, SUM(r.rank_u // o.outdeg) AS inflow
    FROM raw e JOIN outdeg o ON e.src = o.src JOIN r2 r ON r.node = e.src
    GROUP BY e.dst
  ) i ON i.node = n.node
)
SELECT node, floor(rank_u / 1e9 * 1e6 + 0.5) / 1e6 AS ppr
FROM r3 WHERE rank_u > 0
ORDER BY rank_u DESC, node LIMIT 50
""",
)
def personalized_pagerank_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from a single seed (the min node):
    teleport mass restarts at the SEED instead of uniformly, so rank
    measures proximity TO THE SEED — the neighborhood-relevance score
    behind 'people you may know' and seed-expanded retrieval (the
    query-biased twin of pagerank_converged's global importance).

    Three unrolled power rounds in exact integer micro-units
    (pagerank_converged's convention: per-edge contribution is
    rank_u DIV outdeg, damping is one IEEE op per node per round), so
    every round is bit-identical across engines and the oracle unrolls
    the same three rounds as chained CTEs.

    Plan shape: per round, the contribution join hash-partitions on
    src (exchange reused with the out-degree aggregate) and the inflow
    sum re-keys on dst — shuffles carry (node, rank) pairs only.
    Output is the positive-rank frontier (3 hops from the seed),
    TakeOrdered top-50."""
    ev = load_events(spark, sf_dir)
    edges = (
        ev.select(F.col("user_id").alias("src"), (F.col("event_id") % 500).alias("dst"))
        .distinct()
        # lazy: materialization rides the final action's bottom-up
        # checkpoint chain instead of a separately scheduled job
        .localCheckpoint(eager=False)
    )
    outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    seed = nodes.agg(F.min("node").alias("s"))
    ranks = nodes.join(F.broadcast(seed)).select(
        "node",
        F.when(F.col("node") == F.col("s"), F.lit(1000000000))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("rank_u"),
    )
    for _ in range(3):
        contribs = (
            edges.join(outdeg, "src")
            .join(ranks.withColumnRenamed("node", "src"), "src")
            .select("dst", F.expr("rank_u DIV outdeg").alias("contrib_u"))
        )
        inflow = contribs.groupBy(F.col("dst").alias("node")).agg(
            F.sum("contrib_u").alias("inflow_u")
        )
        ranks = (
            nodes.join(F.broadcast(seed))
            .join(inflow, "node", "left_outer")
            .select(
                "node",
                (
                    F.when(F.col("node") == F.col("s"), F.lit(150000000))
                    .otherwise(F.lit(0))
                    .cast("long")
                    + F.floor(
                        F.lit(0.85)
                        * F.coalesce(F.col("inflow_u"), F.lit(0)).cast("double")
                        + F.lit(0.5)
                    ).cast("long")
                ).alias("rank_u"),
            )
            .localCheckpoint(eager=False)
        )
    return (
        ranks.filter(F.col("rank_u") > 0)
        .select(
            "node",
            (F.floor(F.col("rank_u") / 1e9 * 1e6 + F.lit(0.5)) / 1e6).alias("ppr"),
            "rank_u",
        )
        .orderBy(F.col("rank_u").desc(), "node")
        .limit(50)
        .drop("rank_u")
    )


# ---------------------------------------------------------------------------
# ROUND 4 — corpus-linguistics completions: Zipf fit, lexical richness,
# term burstiness, and the paragraph-granular dedup scrub (the C4
# line-level analogue between exact-doc dedup and substring spans).
# ---------------------------------------------------------------------------
@register(
    "zipf_fit_report",
    _TOKS_CTE
    + """
, census AS (
  SELECT term, COUNT(*) AS freq FROM toks GROUP BY term
), ranked AS (
  SELECT term, freq,
         ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS rnk
  FROM census QUALIFY rnk <= 200
), lps AS (
  SELECT CAST(floor(LN(rnk) * 1e6 + 0.5) AS BIGINT) AS lx,
         CAST(floor(LN(freq) * 1e6 + 0.5) AS BIGINT) AS ly
  FROM ranked
), m AS (
  SELECT COUNT(*)::BIGINT AS n, SUM(lx)::BIGINT AS sx, SUM(ly)::BIGINT AS sy,
         SUM(lx * lx)::BIGINT AS sxx, SUM(lx * ly)::BIGINT AS sxy
  FROM lps
)
SELECT n AS n_terms,
       floor(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) * 1e6 + 0.5) / 1e6 AS zipf_slope,
       floor((CAST(sy AS DOUBLE) / 1e6
              - CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE)
                * (CAST(sx AS DOUBLE) / 1e6)) / n * 1e4 + 0.5) / 1e4
         AS log_c_intercept
FROM m
""",
)
def zipf_fit_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus rank-frequency curve (Zipf 1949 —
    public): OLS slope of ln(freq) on ln(rank) over the top-200 terms
    — natural text sits near -1; template/synthetic corpora deviate,
    so the slope is a corpus-health forensic next to benford_audit
    (which checks digits where this checks words).

    Determinism: ln(rank) / ln(freq) are one fixed IEEE op each on
    exact integers, quantized to micro-units BEFORE the moment sums —
    so Sx/Sy/Sxx/Sxy are exact bigints (trend_lines' convention in log
    space) and the slope is two final float divisions.

    Plan shape: one vocabulary-bounded census shuffle; the rank window
    runs over the 200-row head only (WindowGroupLimit prunes). Linear
    at 100 TB."""
    documents = load_table(spark, sf_dir, "documents")
    from ..operators.text import tokens

    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), "[^a-z0-9 ]", "")
    toks = documents.select(
        F.explode(F.split(norm, " ")).alias("term")
    ).filter(F.col("term") != "")
    census = toks.groupBy("term").agg(F.count("*").alias("freq"))
    w = Window.orderBy(F.col("freq").desc(), "term")
    ranked = census.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= 200
    )
    lq = lambda c_: F.floor(F.log(c_.cast("double")) * 1e6 + F.lit(0.5)).cast(  # noqa: E731
        "long"
    )
    lps = ranked.select(lq(F.col("rnk")).alias("lx"), lq(F.col("freq")).alias("ly"))
    m = lps.agg(
        F.count("*").alias("n"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
    )
    slope_num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    slope_den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = slope_num / slope_den
    intercept = (
        F.col("sy").cast("double") / 1e6 - slope * (F.col("sx").cast("double") / 1e6)
    ) / F.col("n")
    return m.select(
        F.col("n").alias("n_terms"),
        (F.floor(slope * 1e6 + F.lit(0.5)) / 1e6).alias("zipf_slope"),
        (F.floor(intercept * 1e4 + F.lit(0.5)) / 1e4).alias("log_c_intercept"),
    )


@register(
    "ttr_hapax_report",
    _TOKS_CTE.replace("SELECT doc_id, t.term", "SELECT doc_id, d.source, t.term")
    .replace("FROM documents,", "FROM documents d,")
    + """
, per_term AS (
  SELECT source, term, COUNT(*) AS c FROM toks GROUP BY source, term
)
SELECT source,
       SUM(c)::BIGINT AS n_tokens,
       COUNT(*)::BIGINT AS n_types,
       SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax,
       SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END)::BIGINT AS n_dis,
       floor(COUNT(*) / CAST(SUM(c) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS ttr,
       floor(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE)
             * 1e6 + 0.5) / 1e6 AS hapax_ratio
FROM per_term GROUP BY source ORDER BY source
""",
)
def ttr_hapax_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-richness profile per source: type-token ratio plus
    hapax/dis legomena counts (Baayen's LNRE vocabulary-growth
    observables — public): high hapax share marks productive natural
    text, low marks templated/boilerplate sources — the vocabulary
    lens next to diversity_index_report's distributional one.

    Exact integers end-to-end (two final IEEE divisions, quantized);
    one (source, term)-keyed census shuffle, vocabulary-bounded, then
    a per-source aggregate. Linear at 100 TB."""
    documents = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), "[^a-z0-9 ]", "")
    toks = documents.select(
        "source", F.explode(F.split(norm, " ")).alias("term")
    ).filter(F.col("term") != "")
    per_term = toks.groupBy("source", "term").agg(F.count("*").alias("c"))
    q6 = lambda c_: F.floor(c_ * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return (
        per_term.groupBy("source")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count("*").alias("n_types"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("n_hapax"),
            F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).alias("n_dis"),
        )
        .select(
            "source",
            "n_tokens",
            "n_types",
            "n_hapax",
            "n_dis",
            q6(F.col("n_types") / F.col("n_tokens").cast("double")).alias("ttr"),
            q6(F.col("n_hapax") / F.col("n_types").cast("double")).alias(
                "hapax_ratio"
            ),
        )
        .orderBy("source")
    )


@register(
    "term_burstiness",
    _TOKS_CTE
    + """
, per_doc AS (
  SELECT term, doc_id, COUNT(*) AS c FROM toks GROUP BY term, doc_id
), nd AS (SELECT COUNT(*) AS n_docs FROM documents),
moments AS (
  SELECT term, COUNT(*) AS df,
         SUM(c)::BIGINT AS s1, SUM(c * c)::BIGINT AS s2
  FROM per_doc GROUP BY term
), top AS (
  SELECT term, df, s1, s2,
         ROW_NUMBER() OVER (ORDER BY df DESC, term) AS rnk
  FROM moments QUALIFY rnk <= 50
)
SELECT term, df, s1 AS n_occurrences,
       floor((CAST(n_docs AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
             / (CAST(n_docs AS DOUBLE) - 1) / s1 * 1e6 + 0.5) / 1e6
         AS fano_factor
FROM top, nd ORDER BY term
""",
)
def term_burstiness_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness (Church & Gale 1995 — public): the Fano factor
    (variance-to-mean over per-document counts, zeros included) of the
    50 highest-df terms. Function words sit near Poisson (factor ~1);
    topical/template terms are bursty (>>1) — the term-level forensic
    feeding stopword choice and boilerplate detection
    (boilerplate_ngram_flags' statistical cousin).

    Fano = (N*S2 - S1^2) / ((N-1)*S1): per-term (df, S1, S2) are exact
    bigints from one (term, doc) census, so the factor is a single
    fixed float expression — no per-doc float sums.

    Plan shape: (term, doc)-keyed partial agg, then a vocabulary-
    bounded moment aggregate; the top-50 window prunes via
    WindowGroupLimit. Linear at 100 TB."""
    documents = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), "[^a-z0-9 ]", "")
    toks = documents.select(
        "doc_id", F.explode(F.split(norm, " ")).alias("term")
    ).filter(F.col("term") != "")
    per_doc = toks.groupBy("term", "doc_id").agg(F.count("*").alias("c"))
    moments = per_doc.groupBy("term").agg(
        F.count("*").alias("df"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    w = Window.orderBy(F.col("df").desc(), "term")
    top = moments.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 50)
    nd = documents.agg(F.count("*").alias("n_docs"))
    fano = (
        (
            F.col("n_docs").cast("double") * F.col("s2")
            - F.col("s1").cast("double") * F.col("s1")
        )
        / (F.col("n_docs").cast("double") - 1)
        / F.col("s1")
    )
    return (
        top.join(F.broadcast(nd))
        .select(
            "term",
            "df",
            F.col("s1").alias("n_occurrences"),
            (F.floor(fano * 1e6 + F.lit(0.5)) / 1e6).alias("fano_factor"),
        )
        .orderBy("term")
    )


@register(
    "paragraph_dedup_scrub",
    # 20-token blocks; first owner = lexicographic min (doc_id, blk);
    # rebuilt text is the kept blocks in order, md5-fingerprinted
    """
WITH ws AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '') AS w
  FROM documents
), blocks AS (
  SELECT doc_id, b.blk AS blk,
         array_to_string(w[(b.blk * 20 + 1):(b.blk * 20 + 20)], ' ') AS para
  FROM ws, LATERAL (
    SELECT UNNEST(range(CAST(ceil(len(w) / 20.0) AS BIGINT))) AS blk
  ) b
  WHERE len(w) > 0
), owner AS (
  SELECT para, MIN(doc_id * 1000000 + blk) AS first_key
  FROM blocks GROUP BY para
), flagged AS (
  SELECT b.doc_id, b.blk, b.para,
         (b.doc_id * 1000000 + b.blk = o.first_key) AS keep
  FROM blocks b JOIN owner o USING (para)
)
SELECT doc_id,
       COUNT(*)::BIGINT AS n_paras,
       SUM(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       md5(COALESCE(array_to_string(list(para ORDER BY blk)
                                    FILTER (WHERE keep), ' '), '')) AS scrubbed_md5
FROM flagged GROUP BY doc_id ORDER BY doc_id
""",
)
def paragraph_dedup_scrub_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-granular exact dedup with removal — the C4 recipe's
    line-level dedup (Raffel et al. 2020 — public method) at 20-token
    block granularity: every duplicated block keeps only its corpus-
    first occurrence (lexicographic (doc_id, position)); each doc's
    text is rebuilt from its kept blocks and fingerprinted. Sits
    between dedup_exact (whole doc) and dedup_substring_scrub
    (arbitrary spans): block-aligned, so membership needs no interval
    algebra — one census decides every block.

    Plan shape: blocks derive map-side from one array pass; the owner
    census shuffles (block-hash -> min key) — content-bounded, the
    exact-dedup shape; the keep flag is an equi-join back on the block
    hash. Shuffles carry block hashes and keys, never full documents
    (the rebuilt text is a per-doc map-side concat). Linear at 100 TB."""
    documents = load_table(spark, sf_dir, "documents")
    from ..operators.text import tokens

    docs = documents.select(
        "doc_id", F.filter(tokens(F.col("text")), lambda t: t != "").alias("w")
    ).filter(F.size("w") > 0)
    nblk = F.ceil(F.size("w") / F.lit(20.0)).cast("long")
    blocks = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), nblk - 1),
                lambda b: F.array_join(
                    F.slice(F.col("w"), (b * 20 + 1).cast("int"), 20), " "
                ),
            )
        ).alias("blk", "para"),
    )
    owner = blocks.groupBy("para").agg(
        F.min(F.col("doc_id") * 1000000 + F.col("blk")).alias("first_key")
    )
    flagged = blocks.join(owner, "para").select(
        "doc_id",
        "blk",
        "para",
        (F.col("doc_id") * 1000000 + F.col("blk") == F.col("first_key")).alias("keep"),
    )
    kept_sorted = F.transform(
        F.array_sort(
            F.collect_list(
                F.when(F.col("keep"), F.struct(F.col("blk"), F.col("para")))
            )
        ),
        lambda s: s["para"],
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_paras"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_kept"),
            F.md5(F.array_join(kept_sorted, " ")).alias("scrubbed_md5"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# ROUND 4 — multimodal completions: a third REAL image codec (BMP),
# histogram/Otsu image statistics, and autocorrelation pitch — all on
# formula-derived payloads so DuckDB recomputes every decoded fact.
# ---------------------------------------------------------------------------
@register(
    "multimodal_bmp_decode",
    # same pixel formula as the PPM/PNG fixtures -> same oracle shape
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
def multimodal_bmp_decode_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL 24-bit BMP decode executing in-sandbox (pure stdlib struct
    + numpy: BITMAPINFOHEADER grammar, bottom-up row flip, BGR->RGB
    channel swap, 4-byte row padding) — the third real image codec
    next to PPM and PNG, sharing their pixel formula so ONE oracle
    covers all three. Decode is map-side Arrow-batched; only
    (doc_id, dims, mean) shuffles."""
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    return multimodal.image_decode_features(multimodal.synthetic_bmp_media(docs))


@register(
    "multimodal_image_histogram",
    # luma/bin algebra mirrored from the pixel formula; Otsu argmax by
    # the identical IEEE division, ties to the smallest bin
    """
WITH dims AS (
  SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 3 AS h FROM documents
), lum AS (
  SELECT doc_id,
         (299 * ((doc_id * 7 + 3 * p.p) % 256)
          + 587 * ((doc_id * 7 + 3 * p.p + 1) % 256)
          + 114 * ((doc_id * 7 + 3 * p.p + 2) % 256)) // 1000 // 16 AS bin
  FROM dims, LATERAL (SELECT UNNEST(range(w * h)) AS p) p
), hist AS (
  SELECT doc_id, bin, COUNT(*)::BIGINT AS c FROM lum GROUP BY 1, 2
), tot AS (
  SELECT doc_id, SUM(c)::BIGINT AS n, SUM(bin * c)::BIGINT AS st
  FROM hist GROUP BY doc_id
), cand AS (
  SELECT t.doc_id, ts.t,
         SUM(h.c)::BIGINT AS w0, SUM(h.bin * h.c)::BIGINT AS s0,
         ANY_VALUE(t.n) AS n, ANY_VALUE(t.st) AS st
  FROM tot t
  CROSS JOIN (SELECT UNNEST(range(15)) AS t) ts
  JOIN hist h ON h.doc_id = t.doc_id AND h.bin <= ts.t
  GROUP BY t.doc_id, ts.t
), scored AS (
  SELECT doc_id, t, w0, n,
         CAST((s0 * n - st * w0) * (s0 * n - st * w0) AS DOUBLE)
           / CAST(w0 * (n - w0) AS DOUBLE) AS score
  FROM cand WHERE w0 > 0 AND w0 < n
), best AS (
  SELECT doc_id, t, w0, n,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, t) AS rn
  FROM scored
), lsum AS (
  SELECT doc_id,
         SUM((299 * ((doc_id * 7 + 3 * p.p) % 256)
              + 587 * ((doc_id * 7 + 3 * p.p + 1) % 256)
              + 114 * ((doc_id * 7 + 3 * p.p + 2) % 256)) // 1000)::BIGINT
           AS luma_sum
  FROM dims, LATERAL (SELECT UNNEST(range(w * h)) AS p) p
  GROUP BY doc_id
)
SELECT b.doc_id, b.n AS n_px, l.luma_sum,
       CAST(b.t AS INT) AS otsu_bin,
       b.w0 AS n_below, (b.n - b.w0)::BIGINT AS n_above
FROM best b JOIN lsum l USING (doc_id)
WHERE b.rn = 1 ORDER BY b.doc_id
""",
)
def multimodal_image_histogram_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bin luma histogram + Otsu threshold (Otsu 1979 — public
    method) over REAL decoded PPM pixels — see
    operators/multimodal.py:image_histogram_otsu for the exact-integer
    contract. The oracle recomputes luma bins from the pixel formula
    and replays the argmax with the identical IEEE division."""
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    return multimodal.image_histogram_otsu(multimodal.synthetic_ppm_media(docs))


@register(
    "multimodal_audio_pitch",
    # R(L) mirrored from the synthetic PCM formula; argmax ties to the
    # smallest lag
    """
WITH lens AS (SELECT doc_id, 64 + doc_id % 50 AS n FROM documents),
s AS (
  SELECT doc_id, n, i.i AS i,
         ((doc_id * 13 + i.i * 31) % 65536) - 32768 AS v
  FROM lens, LATERAL (SELECT UNNEST(range(n)) AS i) i
), r AS (
  SELECT a.doc_id, lag.lag, SUM(a.v * b.v)::BIGINT AS r
  FROM s a
  CROSS JOIN (SELECT UNNEST(range(2, 17)) AS lag) lag
  JOIN s b ON b.doc_id = a.doc_id AND b.i = a.i + lag.lag
  GROUP BY a.doc_id, lag.lag
), best AS (
  SELECT doc_id, lag, r,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY r DESC, lag) AS rn
  FROM r
)
SELECT b.doc_id, CAST(l.n AS INT) AS n_samples,
       CAST(b.lag AS INT) AS pitch_lag, b.r AS r_max
FROM best b JOIN lens l USING (doc_id)
WHERE b.rn = 1 ORDER BY b.doc_id
""",
)
def multimodal_audio_pitch_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation pitch lag over REAL decoded PCM16 — see
    operators/multimodal.py:audio_pitch. Exact int64 lag products; the
    oracle recomputes every R(L) from the synthetic PCM formula via a
    positional self-join."""
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    return multimodal.audio_pitch(multimodal.synthetic_wav_media(docs))


# ---------------------------------------------------------------------------
# ROUND 4 — time-series completion: triple-exponential (Holt-Winters)
# smoothing joins the Holt linear recursion and the seasonal decompose.
# ---------------------------------------------------------------------------
@register(
    "holt_winters_seasonal",
    # recursive CTE replays the identical IEEE recurrence per type with
    # a rolling 7-slot seasonal buffer; the l' expression is repeated
    # VERBATIM inside b'/s' so the float trees match bit-for-bit
    """
WITH RECURSIVE census AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS DOUBLE) AS y,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY CAST(ts AS DATE)) AS rn
  FROM events GROUP BY 1, 2
), h AS (
  SELECT event_type, day, y, rn, y AS l, CAST(0.0 AS DOUBLE) AS b,
         [CAST(0.0 AS DOUBLE), 0.0, 0.0, 0.0, 0.0, 0.0, 0.0] AS s
  FROM census WHERE rn = 1
  UNION ALL
  SELECT c.event_type, c.day, c.y, c.rn,
         0.5 * (c.y - h.s[1]) + 0.5 * (h.l + h.b) AS l,
         0.3 * ((0.5 * (c.y - h.s[1]) + 0.5 * (h.l + h.b)) - h.l)
           + 0.7 * h.b AS b,
         h.s[2:7] || [0.2 * (c.y - (0.5 * (c.y - h.s[1]) + 0.5 * (h.l + h.b)))
                      + 0.8 * h.s[1]] AS s
  FROM h JOIN census c
    ON c.event_type = h.event_type AND c.rn = h.rn + 1
)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day, CAST(y AS BIGINT) AS y,
       FLOOR(l * 1e6 + 0.5) / 1e6 AS level,
       FLOOR(b * 1e6 + 0.5) / 1e6 AS trend,
       FLOOR(s[7] * 1e6 + 0.5) / 1e6 AS seasonal,
       FLOOR(COALESCE(LAG(l) OVER w + LAG(b) OVER w + LAG(s[1]) OVER w, y)
             * 1e6 + 0.5) / 1e6 AS fitted
FROM h
WINDOW w AS (PARTITION BY event_type ORDER BY day)
ORDER BY event_type, day
""",
)
def holt_winters_seasonal_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive triple-exponential smoothing (Winters 1960
    — public method) per event-type daily series: level + trend +
    weekly seasonal recursion (alpha=0.5, beta=0.3, gamma=0.2,
    period 7). The seasonal state is a ROLLING 7-slot buffer whose
    head is s(t-7) — each step consumes the head and appends the fresh
    seasonal, so the fold state stays fixed-size. fitted(t) is the
    one-step forecast l(t-1) + b(t-1) + s_buffer(t-1)[head].
    Completes the smoothing ladder: ewma (simple) -> holt_linear
    (trend) -> this (trend + seasonality that weekday_seasonality_
    report showed is real).

    Same execution shape as holt_linear_smoothing: the recurrence runs
    where the data is SMALL — a (type, day) census (one partial-agg
    shuffle), per-type sorted array broadcast, row t's state an
    aggregate() fold over its prefix (O(days^2) folds on a <=31-element
    array, zero Python). The l' expression repeats verbatim inside the
    b'/s' updates on BOTH engines, so every float op is the same IEEE
    tree.

    At 100 TB only the census shuffle grows; the fold cost is fixed."""
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
              named_struct(
                'l', element_at(ys, 1).y, 'b', CAST(0.0 AS DOUBLE),
                's', array(CAST(0.0 AS DOUBLE), 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)),
              (a, e) -> named_struct(
                'l', 0.5 * (e.y - element_at(a.s, 1)) + 0.5 * (a.l + a.b),
                'b', 0.3 * ((0.5 * (e.y - element_at(a.s, 1))
                             + 0.5 * (a.l + a.b)) - a.l) + 0.7 * a.b,
                's', concat(
                  slice(a.s, 2, 6),
                  array(0.2 * (e.y - (0.5 * (e.y - element_at(a.s, 1))
                                      + 0.5 * (a.l + a.b)))
                        + 0.8 * element_at(a.s, 1)))))
            """
        ),
    )
    wl = Window.partitionBy("event_type").orderBy("day")
    q6 = lambda c_: F.floor(c_ * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    lvl, trd = F.col("st.l"), F.col("st.b")
    s_head = F.element_at(F.col("st.s"), 1)
    s_new = F.element_at(F.col("st.s"), 7)
    return (
        folded.select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("y").cast("long").alias("y"),
            q6(lvl).alias("level"),
            q6(trd).alias("trend"),
            q6(s_new).alias("seasonal"),
            q6(
                F.coalesce(
                    F.lag(lvl).over(wl) + F.lag(trd).over(wl)
                    + F.lag(s_head).over(wl),
                    F.col("y"),
                )
            ).alias("fitted"),
        )
        .orderBy("event_type", "day")
    )


@register(
    "bleu_pairs_report",
    # prefix-fingerprint blocking (8-token md5) picks the pair set; the
    # BLEU-2 algebra is exact clipped counts + one fixed exp/ln tree
    """
WITH ws AS (
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
), g1 AS (
  SELECT doc_id, t.g AS g, COUNT(*) AS c
  FROM ws, LATERAL UNNEST(w) AS t(g) GROUP BY doc_id, t.g
), g2 AS (
  SELECT doc_id, t.g AS g, COUNT(*) AS c
  FROM ws, LATERAL UNNEST(
    CASE WHEN len(w) >= 2
         THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])
         ELSE [] END) AS t(g)
  GROUP BY doc_id, t.g
), lens AS (SELECT doc_id, len(w)::BIGINT AS n FROM ws),
clip1 AS (
  SELECT p.doc_id, p.ref_id,
         SUM(LEAST(a.c, COALESCE(b.c, 0)))::BIGINT AS clipped,
         SUM(a.c)::BIGINT AS total
  FROM pairs p
  JOIN g1 a ON a.doc_id = p.doc_id
  LEFT JOIN g1 b ON b.doc_id = p.ref_id AND b.g = a.g
  GROUP BY p.doc_id, p.ref_id
), clip2 AS (
  SELECT p.doc_id, p.ref_id,
         SUM(LEAST(a.c, COALESCE(b.c, 0)))::BIGINT AS clipped,
         SUM(a.c)::BIGINT AS total
  FROM pairs p
  JOIN g2 a ON a.doc_id = p.doc_id
  LEFT JOIN g2 b ON b.doc_id = p.ref_id AND b.g = a.g
  GROUP BY p.doc_id, p.ref_id
), m AS (
  SELECT c1.doc_id, c1.ref_id,
         c1.clipped AS k1, c1.total AS t1, c2.clipped AS k2, c2.total AS t2,
         lc.n AS c_len, lr.n AS r_len
  FROM clip1 c1 JOIN clip2 c2 USING (doc_id, ref_id)
  JOIN lens lc ON lc.doc_id = c1.doc_id
  JOIN lens lr ON lr.doc_id = c1.ref_id
)
SELECT doc_id, ref_id, p.block_pairs_total::BIGINT AS block_pairs_total,
       floor(CAST(k1 AS DOUBLE) / t1 * 1e6 + 0.5) / 1e6 AS p1,
       floor(CAST(k2 AS DOUBLE) / t2 * 1e6 + 0.5) / 1e6 AS p2,
       floor(CASE WHEN c_len >= r_len THEN 1.0
                  ELSE EXP(1.0 - CAST(r_len AS DOUBLE) / c_len) END
             * 1e6 + 0.5) / 1e6 AS brevity_penalty,
       floor(CASE WHEN k1 > 0 AND k2 > 0 THEN
               (CASE WHEN c_len >= r_len THEN 1.0
                     ELSE EXP(1.0 - CAST(r_len AS DOUBLE) / c_len) END)
               * EXP(0.5 * LN(CAST(k1 AS DOUBLE) / t1)
                     + 0.5 * LN(CAST(k2 AS DOUBLE) / t2))
             ELSE 0.0 END * 1e6 + 0.5) / 1e6 AS bleu2
FROM m JOIN pairs p USING (doc_id, ref_id) ORDER BY doc_id, ref_id
""",
)
def bleu_pairs_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLEU-2 (Papineni et al. 2002 — public method) scored over
    blocked near-dup pairs: 8-token-prefix md5 blocking picks each
    doc's reference (the block's min doc_id), then modified n-gram
    precision with CLIPPED counts (min of candidate/reference gram
    counts), brevity penalty, and the geometric mean — the
    paraphrase-similarity measure an eval pipeline runs on suspected
    rewrites, next to the retrieval metrics (ndcg/mrr) and the dedup
    similarity estimates (BLEU is n-gram PRECISION where Jaccard is
    set overlap).

    Determinism: clipped/total counts are exact bigints; p1/p2/BP/the
    geometric mean are one fixed IEEE exp/ln tree, floored at 1e-6.

    Plan shape: blocking is one fingerprint census (exact-dedup
    shape); each clip pass is a (pair x gram) join bounded by
    pair-count x doc-length — pairs are near-dups by construction, so
    the relation is linear in the duplicated mass, never corpus^2.
    Gram counts shuffle as 8-byte-keyed rows; texts never shuffle."""
    documents = load_table(spark, sf_dir, "documents")
    from ..operators.text import blocked_eval_pairs, tokens

    ws = documents.select(
        "doc_id", F.filter(tokens(F.col("text")), lambda t: t != "").alias("w")
    )
    pref = ws.filter(F.size("w") >= 8).select(
        "doc_id", "w", F.md5(F.array_join(F.slice("w", 1, 8), " ")).alias("fp")
    )
    pairs = blocked_eval_pairs(pref)
    # gram censuses only for pair MEMBERS (the wer/rouge/chrf shape):
    # previously g1/g2/lens tokenized the whole corpus, and each is
    # referenced twice (candidate + reference side of clip), so the
    # un-checkpointed corpus tokenization executed ~5x. One member
    # semi-join + checkpoints: tokenize members once, census once.
    members = (
        pairs.select(F.col("doc_id").alias("m"))
        .unionByName(pairs.select(F.col("ref_id").alias("m")))
        .distinct()
    )
    wsm = (
        ws.join(members, ws.doc_id == members.m)
        .select("doc_id", "w")
        .localCheckpoint(eager=False)
    )
    g1 = (
        wsm.select("doc_id", F.explode("w").alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)
    )
    bigrams = F.when(
        F.size("w") >= 2,
        F.zip_with(
            F.slice("w", 1, F.size("w") - 1),
            F.slice("w", 2, F.size("w") - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g2 = (
        wsm.select("doc_id", F.explode(bigrams).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)
    )
    lens = wsm.select("doc_id", F.size("w").cast("long").alias("n"))

    def clip(g: DataFrame) -> DataFrame:
        a = g.alias("a")
        b = g.select(
            F.col("doc_id").alias("r_id"),
            F.col("g").alias("g_r"),
            F.col("c").alias("c_r"),
        )
        return (
            pairs.join(a, "doc_id")
            .join(
                b,
                (F.col("ref_id") == F.col("r_id")) & (F.col("a.g") == F.col("g_r")),
                "left",
            )
            .groupBy("doc_id", "ref_id")
            .agg(
                F.sum(F.least(F.col("a.c"), F.coalesce(F.col("c_r"), F.lit(0))))
                .alias("clipped"),
                F.sum(F.col("a.c")).alias("total"),
            )
        )

    c1 = clip(g1).select(
        "doc_id", "ref_id", F.col("clipped").alias("k1"), F.col("total").alias("t1")
    )
    c2 = clip(g2).select(
        "doc_id", "ref_id", F.col("clipped").alias("k2"), F.col("total").alias("t2")
    )
    lc = lens.select(F.col("doc_id"), F.col("n").alias("c_len"))
    lr = lens.select(F.col("doc_id").alias("ref_id"), F.col("n").alias("r_len"))
    m = c1.join(c2, ["doc_id", "ref_id"]).join(lc, "doc_id").join(lr, "ref_id")
    p1 = F.col("k1").cast("double") / F.col("t1")
    p2 = F.col("k2").cast("double") / F.col("t2")
    bp = F.when(F.col("c_len") >= F.col("r_len"), F.lit(1.0)).otherwise(
        F.exp(F.lit(1.0) - F.col("r_len").cast("double") / F.col("c_len"))
    )
    bleu = F.when(
        (F.col("k1") > 0) & (F.col("k2") > 0),
        bp * F.exp(F.lit(0.5) * F.log(p1) + F.lit(0.5) * F.log(p2)),
    ).otherwise(F.lit(0.0))
    q6 = lambda c_: F.floor(c_ * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    # 1:1 join-back for the pre-cap block count (pairs is pair-mass-sized)
    m = m.join(pairs.select("doc_id", "ref_id", "block_pairs_total"),
               ["doc_id", "ref_id"])
    return m.select(
        "doc_id",
        "ref_id",
        "block_pairs_total",
        q6(p1).alias("p1"),
        q6(p2).alias("p2"),
        q6(bp).alias("brevity_penalty"),
        q6(bleu).alias("bleu2"),
    ).orderBy("doc_id", "ref_id")


# ---------------------------------------------------------------------------
# ROUND 4 (cont.) — ML-eval / information / storage completions.
# ---------------------------------------------------------------------------
@register(
    "cluster_silhouette",
    # squared-distance silhouette from per-cluster (n, Q, S) aggregates:
    # sum d2(x, C) = n_C*|x|^2 + Q_C - 2*x.S_C — no pairwise relation
    """
WITH q AS (
  SELECT vec_id, label, p.i AS pos,
         CAST(floor(p.v * 1000 + 0.5) AS BIGINT) AS xv
  FROM embeddings,
       LATERAL (SELECT UNNEST(embedding) AS v,
                       generate_subscripts(embedding, 1) AS i) p
), norms AS (
  SELECT vec_id, ANY_VALUE(label) AS label, SUM(xv * xv)::BIGINT AS x2
  FROM q GROUP BY vec_id
), csums AS (
  SELECT label AS c_label, pos, SUM(xv)::BIGINT AS sv
  FROM q GROUP BY label, pos
), cstats AS (
  SELECT label AS c_label, COUNT(*)::BIGINT AS n_c, SUM(x2)::BIGINT AS q_c
  FROM norms GROUP BY label
), dots AS (
  SELECT q.vec_id, c.c_label, SUM(q.xv * c.sv)::BIGINT AS xs
  FROM q JOIN csums c ON c.pos = q.pos
  GROUP BY q.vec_id, c.c_label
), ab AS (
  SELECT n.vec_id, n.label,
         MAX(CASE WHEN d.c_label = n.label
                  THEN CAST(s.n_c * n.x2 + s.q_c - 2 * d.xs AS DOUBLE)
                       / (s.n_c - 1) END) AS a2,
         MIN(CASE WHEN d.c_label <> n.label
                  THEN CAST(s.n_c * n.x2 + s.q_c - 2 * d.xs AS DOUBLE)
                       / s.n_c END) AS b2
  FROM norms n
  JOIN dots d ON d.vec_id = n.vec_id
  JOIN cstats s ON s.c_label = d.c_label
  GROUP BY n.vec_id, n.label
)
SELECT vec_id, label,
       floor(a2 * 1e3 + 0.5) / 1e3 AS a2,
       floor(b2 * 1e3 + 0.5) / 1e3 AS b2,
       floor((b2 - a2) / GREATEST(a2, b2) * 1e6 + 0.5) / 1e6 AS silhouette
FROM ab ORDER BY vec_id
""",
)
def cluster_silhouette_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silhouette coefficient (Rousseeuw 1987 — public method) of the
    embedding clustering (label column), SQUARED-distance variant:
    a(x) = mean d2 to own cluster (self excluded), b(x) = min over
    other clusters of mean d2, s = (b-a)/max(a,b). The clustering-
    quality read-off next to kmeans_converged / ann_recall_report.

    THE PLAN IS THE POINT: sum of d2(x, C) over members of C equals
    n_C*|x|^2 + Q_C - 2*x.S_C, so the whole silhouette needs only the
    per-cluster aggregates (count, sum-of-norms Q, component-sum
    vector S) — NO pairwise distance relation, which is what makes
    this linear at 100 TB where the textbook formula is corpus^2.

    Determinism: milli-quantized components make |x|^2, Q_C and the
    x.S_C dots exact bigints (via the positional explode join, the
    ivf_centroids shuffle shape: (n_clusters x dim) cells); a2/b2 are
    one float division each, min/max over <=|clusters| doubles."""
    embeddings = load_table(spark, sf_dir, "embeddings")
    q = embeddings.select(
        "vec_id",
        "label",
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.floor(x.cast("double") * 1000 + F.lit(0.5)).cast("long"),
            )
        ).alias("pos", "xv"),
    )
    norms = q.groupBy("vec_id").agg(
        F.any_value(F.col("label")).alias("label"),
        F.sum(F.col("xv") * F.col("xv")).alias("x2"),
    )
    csums = q.groupBy(F.col("label").alias("c_label"), "pos").agg(
        F.sum("xv").alias("sv")
    )
    cstats = norms.groupBy(F.col("label").alias("c_label")).agg(
        F.count("*").alias("n_c"), F.sum("x2").alias("q_c")
    )
    dots = (
        q.join(csums.withColumnRenamed("pos", "cpos"), F.col("pos") == F.col("cpos"))
        .groupBy("vec_id", "c_label")
        .agg(F.sum(F.col("xv") * F.col("sv")).alias("xs"))
    )
    joined = (
        norms.join(dots, "vec_id")
        .join(F.broadcast(cstats), "c_label")
    )
    own = F.col("c_label") == F.col("label")
    sum_d2 = (
        F.col("n_c") * F.col("x2") + F.col("q_c") - 2 * F.col("xs")
    ).cast("double")
    ab = joined.groupBy("vec_id", "label").agg(
        F.max(F.when(own, sum_d2 / (F.col("n_c") - 1))).alias("a2"),
        F.min(F.when(~own, sum_d2 / F.col("n_c"))).alias("b2"),
    )
    q3 = lambda c_: F.floor(c_ * 1e3 + F.lit(0.5)) / 1e3  # noqa: E731
    return ab.select(
        "vec_id",
        "label",
        q3(F.col("a2")).alias("a2"),
        q3(F.col("b2")).alias("b2"),
        (
            F.floor(
                (F.col("b2") - F.col("a2"))
                / F.greatest(F.col("a2"), F.col("b2"))
                * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("silhouette"),
    ).orderBy("vec_id")


