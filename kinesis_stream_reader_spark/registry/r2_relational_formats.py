"""Registry slice: mechanical round-6 split of the original single-file
registry.py (22.4k LoC) into family modules — see registry/__init__.py.
Slice order is preserved; oracle-builder helpers that read ORACLES at
import time rely on it."""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403
from ._shared import _FLAT_COLS, _nested_events  # noqa: F401
from .r1_parity_ext import _GRAMS  # noqa: F401
from .r1_parity_ext import _TOKS  # noqa: F401
from ..scratch import scratch

# ---------------------------------------------------------------------------
# TPC-H Q4/Q16/Q18/Q19 shapes + correlated-subquery decorrelation:
# the EXISTS / HAVING-subquery / disjunctive-predicate / distinct-agg
# join surface (operators/relational.py).
# ---------------------------------------------------------------------------
@register(
    "late_shipments",
    """
SELECT o_orderpriority, COUNT(*) AS n_late
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
GROUP BY o_orderpriority
""",
)
def late_shipments_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.late_shipment_priorities(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )


@register(
    "large_volume_orders",
    """
WITH big AS (
  SELECT l_orderkey, ROUND(SUM(l_quantity), 4) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(l_quantity) > 150
)
SELECT c_custkey, c_name, o_orderkey, o_totalprice, total_qty
FROM orders JOIN big ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
""",
)
def large_volume_orders_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.large_volume_orders(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "disjunctive_part_revenue",
    """
SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       COUNT(*) AS n_lineitems
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
""",
)
def disjunctive_part_revenue_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.disjunctive_part_revenue(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@register(
    "orders_above_customer_avg",
    # correlated scalar subquery form — the engine runs the decorrelated
    # window plan; identical semantics (mean over the correlation key).
    # Emits the exact decimal sum + count, not the quotient: a mean can
    # land on an exact 4-dp tie where half-up vs half-even rounding
    # legitimately differs between engines.
    """
SELECT o_orderkey, o_custkey, o_totalprice,
       ROUND((SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
              FROM orders o2 WHERE o2.o_custkey = o1.o_custkey), 2) AS cust_sum,
       (SELECT COUNT(*) FROM orders o2
        WHERE o2.o_custkey = o1.o_custkey) AS n_orders
FROM orders o1
WHERE o_totalprice > 1.5 * (SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                                   / COUNT(*) FROM orders o2
                            WHERE o2.o_custkey = o1.o_custkey)
""",
)
def orders_above_customer_avg_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.orders_above_customer_avg(load_table(spark, sf_dir, "orders"))


@register(
    "window_ntile",
    """
SELECT event_id, event_type,
       ntile(4)        OVER w AS quartile,
       ROUND(percent_rank() OVER w, 4) AS pct_rank,
       ROUND(cume_dist()    OVER w, 4) AS cume_dist
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
""",
)
def window_ntile_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.window_ntile_stats(load_events(spark, sf_dir))


@register(
    "brand_supplier_counts",
    """
SELECT p_brand, COUNT(DISTINCT l_suppkey) AS n_suppliers
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#5'
GROUP BY p_brand
""",
)
def brand_supplier_counts_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.brand_supplier_counts(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


# ---------------------------------------------------------------------------
# Higher-order array functions over the embedding column (similarity.py)
# ---------------------------------------------------------------------------
@register(
    "vector_norms",
    """
SELECT vec_id,
       len(embedding) AS dim,
       ROUND(sqrt(list_aggregate(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')), 4) AS l2_norm,
       ROUND(list_aggregate(list_transform(embedding,
             x -> CAST(x AS DOUBLE)), 'sum'), 4) AS el_sum,
       ROUND(list_aggregate(list_transform(embedding,
             x -> CAST(x AS DOUBLE)), 'max'), 4) AS el_max
FROM embeddings
""",
)
def vector_norms_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity

    return similarity.vector_norms(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# Corpus document frequency (text.py) — first pass of tf-idf / vocab build
# ---------------------------------------------------------------------------
@register(
    "text_doc_frequency",
    """
WITH toks AS (
  SELECT unnest(list_distinct(string_split(
           regexp_replace(lower(trim(text)), '[^a-z0-9 ]', '', 'g'), ' '))) AS tok
  FROM documents
)
SELECT tok, COUNT(*) AS df
FROM toks WHERE tok <> ''
GROUP BY tok ORDER BY df DESC, tok LIMIT 20
""",
)
def text_doc_frequency_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.doc_frequency(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Typed extraction from the semi-structured props column (ingest.py)
# ---------------------------------------------------------------------------
@register(
    "json_props_extract",
    """
SELECT event_type,
       ROUND(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
       COUNT(*) AS n_events
FROM events
GROUP BY event_type
""",
)
def json_props_extract_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ingest import parse_props

    return (
        parse_props(load_events(spark, sf_dir))
        .groupBy("event_type")
        .agg(
            F.round(F.avg("prop_k"), 4).alias("avg_k"),
            F.count("*").alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# Edit-distance fuzzy dedup (operators/dedup.py) — char-level near-dups
# the token-set family misses
# ---------------------------------------------------------------------------
@register(
    "dedup_fuzzy_levenshtein",
    """
WITH p AS (
  SELECT doc_id, lang, source, substr(text, 1, 64) AS prefix FROM documents
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       levenshtein(a.prefix, b.prefix) AS edit_dist
FROM p a JOIN p b
  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
WHERE levenshtein(a.prefix, b.prefix) <= 10
""",
)
def dedup_fuzzy_levenshtein_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup

    return dedup.fuzzy_levenshtein_pairs(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Calendar rollup — the date/time scalar-function surface
# ---------------------------------------------------------------------------
@register(
    "agg_by_day",
    # DuckDB dayofweek: 0=Sunday; Spark dayofweek: 1=Sunday — align +1
    """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       CAST(dayofweek(ts) + 1 AS INT) AS dow,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS sum_value
FROM events
GROUP BY 1, 2
""",
)
def agg_by_day_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.agg_by_day(load_events(spark, sf_dir))


# ---------------------------------------------------------------------------
# Stream-static dimension enrichment (streaming/jobs.py) — broadcast per
# micro-batch, no state store
# ---------------------------------------------------------------------------
@register(
    "streaming_enrich",
    """
SELECT event_id, user_id, c_mktsegment
FROM events JOIN customer ON user_id = c_custkey
""",
)
def streaming_enrich_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import jobs

    stream = jobs.stream_events(spark, sf_dir)
    enriched = jobs.static_enrich(stream, load_table(spark, sf_dir, "customer"))
    return jobs.run_available_now(enriched, "streaming_enrich")


# ---------------------------------------------------------------------------
# FULL OUTER join, UNPIVOT, and deterministic corpus splitting
# (operators/relational.py)
# ---------------------------------------------------------------------------
@register(
    "join_outer_full",
    """
WITH activity AS (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id)
SELECT COALESCE(user_id, c_custkey) AS uid,
       COALESCE(n_events, 0) AS n_events,
       c_acctbal IS NOT NULL AS is_customer
FROM activity FULL OUTER JOIN customer ON user_id = c_custkey
""",
)
def join_outer_full_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.user_activity_vs_customers(
        load_events(spark, sf_dir), load_table(spark, sf_dir, "customer")
    )


@register(
    "unpivot_metrics",
    # avg_disc is exact-decimal sum / count on both engines: double AVG
    # is summation-order-dependent at a 4-dp rounding boundary
    """
WITH wide AS (
  SELECT l_returnflag,
         ROUND(SUM(l_quantity), 4) AS sum_qty,
         ROUND(SUM(l_extendedprice), 4) AS sum_price,
         ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*), 4) AS avg_disc
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS metric_value FROM wide
UNION ALL SELECT l_returnflag, 'sum_price', sum_price FROM wide
UNION ALL SELECT l_returnflag, 'avg_disc', avg_disc FROM wide
""",
)
def unpivot_metrics_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.unpivot_pricing(load_table(spark, sf_dir, "lineitem"))


@register(
    "split_train_test",
    """
SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
            THEN 'test' ELSE 'train' END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY 1
""",
)
def split_train_test_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.split_train_test(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Feature-normalization outliers, grouped mode, and centroid training
# kernels (operators/relational.py, similarity.py)
# ---------------------------------------------------------------------------
@register(
    "anomaly_zscore",
    """
WITH stats AS (
  SELECT event_type, AVG(value) AS mu, stddev_samp(value) AS sigma
  FROM events GROUP BY event_type
)
SELECT event_id, e.event_type, ROUND((value - mu) / sigma, 4) AS zscore
FROM events e JOIN stats s ON e.event_type = s.event_type
ORDER BY abs((value - mu) / sigma) DESC, event_id
LIMIT 100
""",
)
def anomaly_zscore_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.anomaly_zscore(load_events(spark, sf_dir))


@register(
    "agg_mode",
    """
SELECT event_type, user_id FROM (
  SELECT event_type, user_id,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY COUNT(*) DESC, user_id) AS rn
  FROM events GROUP BY event_type, user_id
) WHERE rn = 1
""",
)
def agg_mode_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.agg_mode_user(load_events(spark, sf_dir))


@register(
    "embedding_centroids",
    # DuckDB lacks WITH ORDINALITY / lateral posexplode — index the
    # array with a constant-bound generate_series instead (dim = 64)
    """
SELECT label, CAST(i AS INT) AS pos,
       ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 4) AS centroid_val
FROM embeddings, generate_series(1, 64) t(i)
GROUP BY label, i
""",
)
def embedding_centroids_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity

    return similarity.label_centroids(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# Multi-format source/sink round trips (the reference has NO file
# formats at all, SURVEY.md §2.1 — parquet/csv/json come free with
# spark.read/write; each is oracle-checked as a write->read identity)
# ---------------------------------------------------------------------------
def _roundtrip_dir(sf_dir: str, fmt: str) -> str:
    return scratch(
        f"ksr_sink/{sf_dir.strip('/').replace('/', '_')}_events_{fmt}"
    )


@register(
    "sink_csv_roundtrip",
    """
SELECT event_id, user_id, event_type, value FROM events
""",
)
def sink_csv_roundtrip_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink/source round trip with an explicit read schema (no
    inference pass — schema-on-read is declared, so the read is a
    single distributed scan; headerless files keep the format
    position-stable)."""
    out_dir = _roundtrip_dir(sf_dir, "csv")
    events = load_events(spark, sf_dir).select("event_id", "user_id", "event_type", "value")
    events.write.mode("overwrite").csv(out_dir)
    return spark.read.schema(
        "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE"
    ).csv(out_dir)


@register(
    "sink_json_roundtrip",
    """
SELECT event_id, user_id, event_type FROM events
""",
)
def sink_json_roundtrip_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink/source round trip with declared schema — the
    interchange format of the reference's own sink (responses/index.js)
    as a distributed file source instead of one HTTP body."""
    out_dir = _roundtrip_dir(sf_dir, "json")
    events = load_events(spark, sf_dir).select("event_id", "user_id", "event_type")
    events.write.mode("overwrite").json(out_dir)
    return spark.read.schema("event_id BIGINT, user_id BIGINT, event_type STRING").json(
        out_dir
    )


@register(
    "agg_percentiles_approx",
    # percentile_approx's GK sketch stores every value while the group
    # fits in `accuracy` (1e4 >= the ~2k-row oracle-scale groups), so
    # the estimates ARE the exact order statistics there and
    # quantile_disc is an exact twin; at 100 TB the same plan degrades
    # to bounded rank error instead of a per-group sort.
    """
SELECT event_type,
       ROUND(quantile_disc(value, 0.5), 4) AS p50,
       ROUND(quantile_disc(value, 0.95), 4) AS p95
FROM events GROUP BY event_type
""",
)
def agg_percentiles_approx_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.approx_percentiles(load_events(spark, sf_dir))


@register(
    "multimodal_audio_chunks",
    # DuckDB lacks WITH ORDINALITY — a bounded generate_series with an
    # n_chunks guard stands in for posexplode(sequence(...))
    """
WITH m AS (SELECT doc_id, octet_length(encode(text)) AS n_bytes FROM documents),
     c AS (SELECT doc_id, n_bytes,
                  CAST(ceil(n_bytes / 256.0) AS INT) AS n_chunks FROM m)
SELECT doc_id, 'audio' AS kind, CAST(i - 1 AS INT) AS chunk_idx,
       CAST((i - 1) * 256 AS BIGINT) AS "offset",
       CAST(least(256, n_bytes - (i - 1) * 256) AS INT) AS chunk_len
FROM c, generate_series(1, 100000) t(i)
WHERE i <= n_chunks
""",
)
def multimodal_audio_chunks_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal

    media = multimodal.documents_as_media(
        load_table(spark, sf_dir, "documents"), kind="audio"
    )
    return multimodal.audio_chunks(media)


@register(
    "volume_shipping",
    """
SELECT supp_nation, cust_nation, l_year, ROUND(SUM(volume), 4) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
      OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
) GROUP BY 1, 2, 3
""",
)
def volume_shipping_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.volume_shipping(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
    )


@register(
    "window_range_frame",
    """
SELECT event_id, user_id,
       ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW), 4)
         AS trailing_1h
FROM events
""",
)
def window_range_frame_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.window_trailing_1h(load_events(spark, sf_dir))


@register(
    "window_first_last",
    """
SELECT event_id, user_id,
       first_value(value) OVER w AS first_val,
       last_value(value)  OVER w AS last_val,
       nth_value(value, 2) OVER w AS second_val
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
)
def window_first_last_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.window_first_last(load_events(spark, sf_dir))


@register(
    "text_extract_words",
    """
SELECT doc_id,
       CAST(len(regexp_extract_all(lower(text), '[a-z]{5,}')) AS BIGINT)
         AS n_long_words,
       CAST(len(list_distinct(regexp_extract_all(lower(text), '[a-z]{5,}'))) AS BIGINT)
         AS n_distinct_long_words
FROM documents
""",
)
def text_extract_words_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.extract_long_words(load_table(spark, sf_dir, "documents"))


@register(
    "compact_latest_state",
    """
SELECT user_id, event_type, event_id AS latest_event_id, value AS latest_value
FROM (
  SELECT user_id, event_type, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
""",
)
def compact_latest_state_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.compact_latest_state(load_events(spark, sf_dir))


@register(
    "streaming_ingest_pipeline",
    # the doubled stream simulates at-least-once delivery; dedup must
    # collapse it back to the exact table before enrichment
    """
SELECT event_id, user_id, c_mktsegment
FROM events JOIN customer ON user_id = c_custkey
""",
)
def streaming_ingest_pipeline_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import jobs

    stream = jobs.stream_events(spark, sf_dir)
    doubled = stream.union(stream)
    out = jobs.ingest_pipeline(doubled, load_table(spark, sf_dir, "customer"))
    return jobs.run_available_now(out, "streaming_ingest_pipeline")


@register(
    "agg_collect_types",
    """
SELECT user_id,
       list_sort(list_distinct(array_agg(event_type))) AS types,
       COUNT(*) AS n_events
FROM events GROUP BY user_id
""",
)
def agg_collect_types_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.agg_collect_types(load_events(spark, sf_dir))


@register(
    "monthly_revenue_growth",
    """
WITH monthly AS (
  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
         ROUND(SUM(o_totalprice), 4) AS revenue
  FROM orders GROUP BY 1
)
SELECT month, revenue,
       ROUND(100.0 * (revenue - lag(revenue) OVER (ORDER BY month))
             / lag(revenue) OVER (ORDER BY month), 4) AS mom_pct
FROM monthly
""",
)
def monthly_revenue_growth_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.monthly_revenue_growth(load_table(spark, sf_dir, "orders"))


@register(
    "window_sliding",
    # each event covers 2 windows (width 2h / slide 1h): the oracle
    # expands per-event coverage with an explicit 2-row offset join
    """
SELECT strftime(date_trunc('hour', ts) - INTERVAL (o.off) HOUR,
                '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, COUNT(*) AS n_events
FROM events, (SELECT 0 AS off UNION ALL SELECT 1) o
GROUP BY 1, 2
""",
)
def window_sliding_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.window_sliding_counts(load_events(spark, sf_dir))


@register(
    "dormant_rich_customers",
    # TPC-H Q22 shape; the global-average threshold is exact-decimal
    # sum / count on both engines (see orders_above_customer_avg)
    """
SELECT c_mktsegment, COUNT(*) AS n_custs, ROUND(SUM(c_acctbal), 4) AS total_bal
FROM customer c
WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                          / COUNT(*)
                   FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '1998-01-01')
GROUP BY c_mktsegment
""",
)
def dormant_rich_customers_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.dormant_rich_customers(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    )


@register(
    "user_event_timeline",
    """
WITH ranked AS (
  SELECT user_id, epoch_us(ts) AS us, event_type, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT user_id,
       string_agg(us || ':' || event_type, ',' ORDER BY rn) AS timeline
FROM ranked WHERE rn <= 5 GROUP BY user_id
""",
)
def user_event_timeline_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.user_event_timeline(load_events(spark, sf_dir))


@register(
    "agg_correlation",
    """
SELECT l_returnflag,
       ROUND(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr,
       ROUND(covar_samp(l_quantity, l_extendedprice), 4) AS qty_price_covar
FROM lineitem GROUP BY l_returnflag
""",
)
def agg_correlation_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.agg_correlation(load_table(spark, sf_dir, "lineitem"))


@register(
    "streaming_sliding",
    # streaming twin of window_sliding: overlapping windows with
    # watermark-bounded state, checked against the batch expansion
    """
SELECT strftime(date_trunc('hour', ts) - INTERVAL (o.off) HOUR,
                '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, COUNT(*) AS n_events
FROM events, (SELECT 0 AS off UNION ALL SELECT 1) o
GROUP BY 1, 2
""",
)
def streaming_sliding_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import jobs

    stream = jobs.stream_events(spark, sf_dir)
    return jobs.run_available_now(
        jobs.windowed_counts(stream, window="2 hours", slide="1 hour"),
        "streaming_sliding",
    )


@register(
    "sink_sorted_parquet",
    # ts emitted as epoch micros: raw timestamp columns hash-differ on
    # physical unit (nanos parquet vs micros Spark write)
    """
SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events
""",
)
def sink_sorted_parquet_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partitioned, time-sorted parquet layout: repartitionByRange
    on ts + sortWithinPartitions before the write gives every output
    file a DISJOINT time range and monotone pages — so a time-predicate
    scan prunes whole files via parquet min/max stats instead of
    reading everything (tests/test_plans.py asserts the disjointness).
    This is the write-side lever that makes filter_time_range at 100 TB
    an O(matching files) scan."""
    out_dir = _roundtrip_dir(sf_dir, "sorted")
    events = load_events(spark, sf_dir).select("event_id", "user_id", "ts", "value")
    (
        events.repartitionByRange(8, "ts")
        .sortWithinPartitions("ts")
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    return spark.read.parquet(out_dir).select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us"), "value"
    )


@register(
    "funnel_counts",
    """
WITH c AS (SELECT user_id, MIN(ts) AS ct FROM events
           WHERE event_type = 'click' GROUP BY user_id),
     v AS (SELECT e.user_id, MIN(ts) AS vt FROM events e JOIN c ON e.user_id = c.user_id
           WHERE event_type = 'view' AND ts > ct AND ts <= ct + INTERVAL 24 HOUR
           GROUP BY e.user_id),
     p AS (SELECT e.user_id, MIN(ts) AS pt FROM events e JOIN v ON e.user_id = v.user_id
           WHERE event_type = 'purchase' AND ts > vt AND ts <= vt + INTERVAL 24 HOUR
           GROUP BY e.user_id)
SELECT (SELECT COUNT(*) FROM c) AS n_click,
       (SELECT COUNT(*) FROM v) AS n_click_view,
       (SELECT COUNT(*) FROM p) AS n_click_view_purchase
""",
)
def funnel_counts_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.funnel_counts(load_events(spark, sf_dir))


@register(
    "order_priority_counts",
    """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def order_priority_counts_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.order_priority_counts(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )


@register(
    "market_share",
    """
SELECT o_year,
       ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
                           ELSE CAST(0 AS DECIMAL(18,4)) END)
                  / SUM(volume) AS DOUBLE), 6) AS mkt_share
FROM (
  SELECT EXTRACT(year FROM o_orderdate) AS o_year,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS volume,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'PROMO'
) t
GROUP BY o_year
ORDER BY o_year
""",
)
def market_share_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.market_share(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


@register(
    "customer_order_distribution",
    """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
) t
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
)
def customer_order_distribution_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.customer_order_distribution(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    )


@register(
    "small_quantity_revenue",
    """
SELECT ROUND(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
             AS DOUBLE), 4) AS avg_yearly
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#3'
  AND l_quantity < (SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
                    WHERE l2.l_partkey = lineitem.l_partkey)
""",
)
def small_quantity_revenue_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.small_quantity_revenue(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@register(
    "priority_line_counts",
    """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)
            AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END)
            AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE EXTRACT(year FROM l_shipdate) = 1997
GROUP BY l_linestatus
ORDER BY l_linestatus
""",
)
def priority_line_counts_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.priority_line_counts(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )


@register(
    "sessionize_batch",
    """
WITH flagged AS (
  SELECT user_id, ts, 
         CASE WHEN EPOCH(ts) - EPOCH(LAG(ts) OVER w) > 1800
                OR LAG(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
), per_session AS (
  SELECT user_id, session_id, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM sessions GROUP BY user_id, session_id
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       MAX(n_events) AS max_session_events,
       CAST(SUM(n_events) AS BIGINT) AS total_events
FROM per_session GROUP BY user_id ORDER BY user_id
""",
)
def sessionize_batch_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.sessionize_batch(load_events(spark, sf_dir))


@register(
    "histogram_doc_lengths",
    """
SELECT CAST(FLOOR(n_chars / 100) * 100 AS BIGINT) AS bucket_lo,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY bucket_lo
ORDER BY bucket_lo
""",
)
def histogram_doc_lengths_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import histogram_doc_lengths

    return histogram_doc_lengths(load_table(spark, sf_dir, "documents"))


_DECON_GRAMS = (
    "list_distinct(list_transform("
    "generate_series(1, greatest(len(" + _TOKS + ") - 4, 0)), "
    "i -> array_to_string((" + _TOKS + ")[i:i+4], ' ')))"
)


@register(
    "corpus_decontaminate",
    f"""
WITH g AS (
  SELECT doc_id, source, unnest({_DECON_GRAMS}) AS gram FROM documents
), bench AS (
  SELECT DISTINCT gram FROM g WHERE source = 'src0'
), bad AS (
  SELECT DISTINCT g.doc_id FROM g JOIN bench USING (gram) WHERE g.source <> 'src0'
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM bad) THEN 0 ELSE 1 END)
            AS BIGINT) AS n_kept
FROM documents WHERE source <> 'src0'
GROUP BY source ORDER BY source
""",
)
def corpus_decontaminate_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup

    return dedup.decontaminate(load_table(spark, sf_dir, "documents"))


@register(
    "pack_sequences",
    f"""
WITH sized AS (
  SELECT source, doc_id, len({_TOKS}) AS n_toks,
         CAST(FLOOR((SUM(len({_TOKS})) OVER (PARTITION BY source ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) - len({_TOKS})) / 512.0) AS BIGINT)
           AS bin_id
  FROM documents
)
SELECT source, bin_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS n_tokens
FROM sized GROUP BY source, bin_id ORDER BY source, bin_id
""",
)
def pack_sequences_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import pack_sequences

    return pack_sequences(load_table(spark, sf_dir, "documents"))


@register(
    "skew_profile",
    """
SELECT user_id, n_events,
       ROUND(n_events / CAST(total AS DOUBLE), 6) AS share
FROM (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
         SUM(COUNT(*)) OVER () AS total
  FROM events GROUP BY user_id
) t
ORDER BY n_events DESC, user_id
LIMIT 10
""",
)
def skew_profile_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.skew_profile(load_events(spark, sf_dir))


@register(
    "rolling_active_users",
    """
WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
days AS (SELECT DISTINCT day FROM du)
SELECT strftime(d.day, '%Y-%m-%d') AS day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS active_users
FROM days d JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
GROUP BY 1 ORDER BY 1
""",
)
def rolling_active_users_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.rolling_active_users(load_events(spark, sf_dir))


@register(
    "product_profit",
    """
SELECT nation, o_year, ROUND(CAST(SUM(amount) AS DOUBLE), 4) AS profit
FROM (
  SELECT n_name AS nation, EXTRACT(year FROM o_orderdate) AS o_year,
         CAST(l_extendedprice * (1 - l_discount)
              - p_retailprice * l_quantity AS DECIMAL(18,4)) AS amount
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%gear%'
) t
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
""",
)
def product_profit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.product_profit(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "nation"),
    )


@register(
    "top_supplier_revenue",
    """
WITH revenue AS (
  SELECT l_suppkey,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name,
       ROUND(CAST(total_revenue AS DOUBLE), 4) AS total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
""",
)
def top_supplier_revenue_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.top_supplier_revenue(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
    )


@register(
    "sample_stratified",
    """
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) AS BIGINT)
      < CASE lang WHEN 'en' THEN 16384 WHEN 'zh' THEN 32768 ELSE 65536 END
ORDER BY doc_id
""",
)
def sample_stratified_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.sample_stratified(load_table(spark, sf_dir, "documents"))


@register(
    "chunk_documents",
    r"""
WITH toks AS (
  SELECT doc_id, str_split_regex(trim(text), '\s+') AS t FROM documents
)
SELECT doc_id, CAST(i AS INT) AS chunk_id,
       CAST(len(t[i * 48 + 1 : least((i * 48) + 64, len(t))]) AS INT) AS n_tokens,
       array_to_string(t[i * 48 + 1 : least((i * 48) + 64, len(t))], ' ') AS chunk_text
FROM toks, generate_series(0, 4096) AS g(i)
WHERE i <= CEIL(GREATEST(len(t) - 64, 0) / 48.0)
ORDER BY doc_id, chunk_id
""",
)
def chunk_documents_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.chunk_documents(load_table(spark, sf_dir, "documents"))


@register(
    "ngram_top_k",
    r"""
WITH toks AS (
  SELECT lang, str_split_regex(trim(text), '\s+') AS t FROM documents
),
bigrams AS (
  SELECT lang, t[i] || ' ' || t[i + 1] AS bigram
  FROM toks, generate_series(1, 4096) AS g(i)
  WHERE i <= len(t) - 1
),
counts AS (
  SELECT lang, bigram, COUNT(*) AS n FROM bigrams GROUP BY 1, 2
)
SELECT lang, bigram, n, CAST(rank AS INT) AS rank FROM (
  SELECT lang, bigram, n,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS rank
  FROM counts
)
WHERE rank <= 5
ORDER BY lang, rank
""",
)
def ngram_top_k_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.ngram_top_k(load_table(spark, sf_dir, "documents"))


@register(
    "waiting_suppliers",
    """
WITH per_supp AS (
  SELECT l_orderkey, l_suppkey, MAX(l_shipdate) AS supp_last
  FROM lineitem GROUP BY 1, 2
),
annotated AS (
  SELECT l_orderkey, l_suppkey, supp_last,
         COUNT(*) OVER (PARTITION BY l_orderkey) AS n_supps,
         MAX(supp_last) OVER (PARTITION BY l_orderkey) AS order_last
  FROM per_supp
),
with_ties AS (
  SELECT *,
         SUM(CASE WHEN supp_last = order_last THEN 1 ELSE 0 END)
           OVER (PARTITION BY l_orderkey) AS n_at_max
  FROM annotated
)
SELECT s_suppkey, s_name, numwait FROM (
  SELECT l_suppkey, COUNT(*) AS numwait
  FROM with_ties
  WHERE n_supps > 1 AND supp_last = order_last AND n_at_max = 1
  GROUP BY 1
) c JOIN supplier ON l_suppkey = s_suppkey
ORDER BY numwait DESC, s_suppkey
LIMIT 10
""",
)
def waiting_suppliers_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.waiting_suppliers(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
    )


@register(
    "source_mixture_weights",
    """
WITH per_source AS (
  SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
  FROM documents GROUP BY 1
)
SELECT source, n_docs, total_chars,
       ROUND(share, 6) AS share,
       ROUND(LEAST(1.0, target / share), 6) AS weight
FROM (
  SELECT *,
         CAST(total_chars AS DOUBLE) / SUM(total_chars) OVER () AS share,
         1.0 / COUNT(*) OVER () AS target
  FROM per_source
)
ORDER BY source
""",
)
def source_mixture_weights_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.source_mixture_weights(load_table(spark, sf_dir, "documents"))


@register(
    "reservoir_per_key",
    """
SELECT source, CAST(pick AS INT) AS pick, doc_id, lang, n_chars FROM (
  SELECT source, doc_id, lang, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS pick
  FROM documents
)
WHERE pick <= 5
ORDER BY source, pick
""",
)
def reservoir_per_key_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.reservoir_per_key(load_table(spark, sf_dir, "documents"))


@register(
    "min_cost_supplier",
    """
WITH region_suppliers AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
), wanted_parts AS (
  SELECT p_partkey, p_brand, p_type FROM part
  WHERE p_size = 15 AND p_type LIKE '%ANDARD'
), costs AS (
  SELECT p_partkey, p_brand, s_suppkey, s_name, s_acctbal, n_name,
         MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS supply_cost
  FROM lineitem
  JOIN wanted_parts ON l_partkey = p_partkey
  JOIN region_suppliers ON l_suppkey = s_suppkey
  GROUP BY p_partkey, p_brand, s_suppkey, s_name, s_acctbal, n_name
)
SELECT ROUND(s_acctbal, 2) AS s_acctbal, s_name, n_name, p_partkey, p_brand,
       CAST(supply_cost AS DOUBLE) AS supply_cost
FROM costs c
WHERE supply_cost = (SELECT MIN(c2.supply_cost) FROM costs c2
                     WHERE c2.p_partkey = c.p_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
""",
)
def min_cost_supplier_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.min_cost_supplier(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


@register(
    "important_stock",
    """
WITH per_part AS (
  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS part_value
  FROM lineitem
  JOIN (SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_3') ns
    ON l_suppkey = s_suppkey
  GROUP BY l_partkey
)
SELECT l_partkey, CAST(part_value AS DOUBLE) AS part_value
FROM per_part
WHERE part_value > (SELECT SUM(part_value) / COUNT(*) FROM per_part) * 2.0
ORDER BY part_value DESC, l_partkey
""",
)
def important_stock_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.important_stock(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
    )


@register(
    "supplier_part_counts",
    """
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#4'
  AND p_type NOT LIKE 'SMALL%'
  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1500)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""",
)
def supplier_part_counts_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.supplier_part_counts(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "part"),
    )


@register(
    "excess_inventory_suppliers",
    """
WITH shipped AS (
  SELECT l_partkey, l_suppkey, SUM(l_quantity) AS supp_qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'blue%' AND EXTRACT(year FROM l_shipdate) = 1997
  GROUP BY l_partkey, l_suppkey
), dominant AS (
  SELECT DISTINCT l_suppkey FROM (
    SELECT l_suppkey, supp_qty,
           SUM(supp_qty) OVER (PARTITION BY l_partkey) AS part_qty
    FROM shipped
  ) t
  WHERE supp_qty > 0.5 * part_qty
)
SELECT s_name, ROUND(s_acctbal, 2) AS s_acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_3'
  AND s_suppkey IN (SELECT l_suppkey FROM dominant)
ORDER BY s_name
""",
)
def excess_inventory_suppliers_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.excess_inventory_suppliers(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "nation"),
    )


@register(
    "text_repetition",
    """
WITH per_word AS (
  SELECT doc_id, tok, COUNT(*) AS cnt
  FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
        FROM documents)
  GROUP BY doc_id, tok
)
SELECT doc_id,
       CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       ROUND(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) / CAST(SUM(cnt) AS DOUBLE), 4)
         AS dup_mass_ratio,
       ROUND(MAX(cnt) / CAST(SUM(cnt) AS DOUBLE), 4) AS top_token_share,
       ROUND(COUNT(*) / CAST(SUM(cnt) AS DOUBLE), 4) AS distinct_ratio
FROM per_word
GROUP BY doc_id
""",
)
def text_repetition_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.text_repetition(load_table(spark, sf_dir, "documents"))


@register(
    "text_char_entropy",
    """
WITH per_char AS (
  SELECT doc_id, ch, CAST(COUNT(*) AS DOUBLE) AS cnt
  FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents)
  WHERE ch <> ''
  GROUP BY doc_id, ch
)
SELECT doc_id,
       ROUND(LOG2(SUM(cnt)) - SUM(cnt * LOG2(cnt)) / SUM(cnt), 4) AS char_entropy,
       CAST(SUM(cnt) AS BIGINT) AS n_chars_counted
FROM per_char
GROUP BY doc_id
""",
)
def text_char_entropy_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.text_char_entropy(load_table(spark, sf_dir, "documents"))


@register(
    "vocab_coverage",
    """
WITH counts AS (
  SELECT tok, COUNT(*) AS cnt
  FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents)
  GROUP BY tok
), top AS (
  SELECT tok, cnt,
         CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS INT) AS rank
  FROM counts ORDER BY cnt DESC, tok LIMIT 50
)
SELECT rank, tok, cnt,
       ROUND(share, 6) AS share,
       ROUND(SUM(share) OVER (ORDER BY rank
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cum_share
FROM (SELECT *, cnt / (SELECT CAST(SUM(cnt) AS DOUBLE) FROM counts) AS share FROM top)
ORDER BY rank
""",
)
def vocab_coverage_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.vocab_coverage(load_table(spark, sf_dir, "documents"))


@register(
    "apply_mixture_weights",
    """
WITH per_source AS (
  SELECT source, SUM(n_chars) AS total_chars FROM documents GROUP BY source
), weights AS (
  SELECT source,
         LEAST(1.0, (1.0 / COUNT(*) OVER ())
               / (total_chars / CAST(SUM(total_chars) OVER () AS DOUBLE))) AS weight
  FROM per_source
)
SELECT doc_id, d.source, lang, n_chars
FROM documents d JOIN weights w ON d.source = w.source
WHERE CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) AS BIGINT)
      < FLOOR(weight * 65536)
ORDER BY doc_id
""",
)
def apply_mixture_weights_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.apply_mixture_weights(load_table(spark, sf_dir, "documents"))


@register(
    "quality_gate_report",
    f"""
WITH g AS (
  SELECT n_chars >= 100 AS pass_len,
         (len(list_filter({_TOKS}, t -> t IN ('the','a','of','and')))
            / CAST(len({_TOKS}) AS DOUBLE)) >= 0.01 AS pass_stopword,
         (len(regexp_extract_all(text, '[^\\w\\s]'))
            / CAST(length(text) AS DOUBLE)) <= 0.2 AS pass_punct,
         (length(text) / CAST(len({_TOKS}) AS DOUBLE)) BETWEEN 3.0 AND 12.0
           AS pass_token_len
  FROM documents
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CAST(pass_len AS BIGINT)) AS BIGINT) AS pass_len,
       CAST(SUM(CAST(pass_stopword AS BIGINT)) AS BIGINT) AS pass_stopword,
       CAST(SUM(CAST(pass_punct AS BIGINT)) AS BIGINT) AS pass_punct,
       CAST(SUM(CAST(pass_token_len AS BIGINT)) AS BIGINT) AS pass_token_len,
       CAST(SUM(CAST(pass_len AND pass_stopword AND pass_punct AND pass_token_len
                AS BIGINT)) AS BIGINT) AS pass_all,
       ROUND(SUM(CAST(pass_len AND pass_stopword AND pass_punct AND pass_token_len
                 AS BIGINT)) / CAST(COUNT(*) AS DOUBLE), 4) AS retention
FROM g
""",
)
def quality_gate_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.quality_gate_report(load_table(spark, sf_dir, "documents"))


@register(
    "text_rolling_fingerprint",
    r"""
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ''),
             c -> CAST(ascii(c) AS BIGINT))),
         (a, b) -> (a * 31 + b) % 2147483647) AS rolling_hash
FROM documents
""",
)
def text_rolling_fingerprint_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.rolling_hash_fingerprint(load_table(spark, sf_dir, "documents"))


@register(
    "set_except_all",
    """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS surplus FROM (
  SELECT o_orderpriority FROM orders WHERE year(o_orderdate) = 1995
  EXCEPT ALL
  SELECT o_orderpriority FROM orders WHERE year(o_orderdate) = 1996
) GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def set_except_all_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.priority_mix_shift(load_table(spark, sf_dir, "orders"))


@register(
    "props_map_census",
    """
WITH kv AS (
  SELECT unnest(json_keys(props)) AS prop_key,
         CAST(json_extract(props, '$.' || unnest(json_keys(props))) AS BIGINT) AS v
  FROM events
)
SELECT prop_key, CAST(COUNT(*) AS BIGINT) AS n, MIN(v) AS vmin, MAX(v) AS vmax,
       CAST(SUM(v) AS BIGINT) AS vsum
FROM kv GROUP BY prop_key
ORDER BY prop_key
""",
)
def props_map_census_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.props_map_stats(load_events(spark, sf_dir))


@register(
    "gap_fill_locf",
    """
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS hour,
         COUNT(*) AS n_events, SUM(value) AS sum_value
  FROM events GROUP BY 1, 2
), spans AS (
  SELECT user_id, MIN(hour) AS h0, MAX(hour) AS h1 FROM hourly GROUP BY 1
), grid AS (
  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
  FROM spans
)
SELECT g.user_id, strftime(g.hour, '%Y-%m-%d %H:%M:%S') AS hour,
       CAST(COALESCE(h.n_events, 0) AS BIGINT) AS n_events,
       ROUND(LAST_VALUE(h.sum_value IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.hour
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS filled_value
FROM grid g LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hour = h.hour
ORDER BY g.user_id, hour
""",
)
def gap_fill_locf_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.gap_fill_locf(load_events(spark, sf_dir))


@register(
    "top_k_per_group_agg",
    """
SELECT event_type, CAST(rnk AS INT) AS rank, user_id, n_events
FROM (
  SELECT event_type, user_id, n_events,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY n_events DESC, user_id DESC) AS rnk
  FROM (SELECT event_type, user_id, COUNT(*) AS n_events
        FROM events GROUP BY 1, 2)
)
WHERE rnk <= 3
ORDER BY event_type, rank
""",
)
def top_k_per_group_agg_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.top_k_per_group_agg(load_events(spark, sf_dir))


@register(
    "join_bucketed_colocated",
    """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_lines,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def join_bucketed_colocated_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.bucketed_order_revenue(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )


@register(
    "streaming_upsert_compact",
    # after the foreachBatch drain, the maintained snapshot must equal
    # the batch change-log compaction over all events
    """
SELECT user_id, event_type, event_id AS latest_event_id, value AS latest_value
FROM (
  SELECT user_id, event_type, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
""",
)
def streaming_upsert_compact_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import jobs

    return jobs.upsert_compact_available_now(jobs.stream_events(spark, sf_dir))


@register(
    "udtf_token_stats",
    # UDTF surface (§2.11: the reference exposes no user-extensible
    # functions; Spark 4 Python UDTFs are the engine's 1->N extension
    # point). Lateral-joined over documents via the SQL front door.
    """
SELECT doc_id, tok, CAST(length(tok) AS INT) AS tok_len
FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents)
WHERE length(tok) >= 6
ORDER BY doc_id, tok
""",
)
def udtf_token_stats_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="tok: string, tok_len: int")
    class LongTokens:
        """Yield each whitespace token of length >= 6 with its length.

        A Python UDTF is the row-to-rows user extension surface — the
        engine twin of the reference's perRecordParse hook
        (kinesisReader/index.js:120,160,172), but 1->N and lateral-
        joinable from SQL. Arrow-batched; for anything expressible in
        column algebra prefer explode()+filter (explode_tokens) — this
        exists to pin the extension API, and the oracle proves the
        Python path agrees with the declarative one."""

        def eval(self, text: str):
            for tok in (text or "").split():
                if len(tok) >= 6:
                    yield tok, len(tok)

    spark.udtf.register("long_tokens", LongTokens)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, t.tok, t.tok_len
        FROM udtf_docs d, LATERAL long_tokens(d.text) t
        ORDER BY d.doc_id, t.tok
        """
    )


@register(
    "json_variant_extract",
    """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(k) AS BIGINT) AS n_k_present,
       CAST(0 AS BIGINT) AS n_missing_path,
       MIN(k) AS k_min, MAX(k) AS k_max, CAST(SUM(k) AS BIGINT) AS k_sum
FROM (SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k
      FROM events)
GROUP BY event_type
ORDER BY event_type
""",
)
def json_variant_extract_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import ingest

    return ingest.props_variant_stats(load_events(spark, sf_dir))


@register(
    "text_search_boolean",
    f"""
SELECT doc_id, lang, source FROM documents
WHERE list_contains({_TOKS}, 'spark')
  AND list_contains({_TOKS}, 'join')
  AND NOT list_contains({_TOKS}, 'slow')
ORDER BY doc_id
""",
)
def text_search_boolean_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.text_search_boolean(load_table(spark, sf_dir, "documents"))


@register(
    "embedding_quantize_int8",
    """
SELECT vec_id,
       ROUND(scale, 6) AS scale,
       list_transform(x, v -> CAST(round(v * 127.0 / scale) AS TINYINT)) AS q,
       ROUND(list_max(list_transform(x,
             v -> abs(v - round(v * 127.0 / scale) * scale / 127.0))), 6)
         AS max_recon_err
FROM (
  SELECT vec_id, x,
         GREATEST(list_max(list_transform(x, v -> abs(v))), 1e-30) AS scale
  FROM (SELECT vec_id,
               list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
        FROM embeddings)
)
ORDER BY vec_id
""",
)
def embedding_quantize_int8_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity

    return similarity.embedding_quantize_int8(load_table(spark, sf_dir, "embeddings"))


@register(
    "kmeans_step",
    """
WITH vecs AS (
  SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
  FROM embeddings
), seeds AS (
  SELECT vec_id AS cid, x AS c FROM vecs ORDER BY vec_id LIMIT 8
), dists AS (
  SELECT v.vec_id, s.cid, v.x,
         list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(list_zip(v.x, s.c),
                            p -> (p[1] - p[2]) * (p[1] - p[2]))),
           (a, b) -> a + b) AS d2
  FROM vecs v CROSS JOIN seeds s
), assign AS (
  SELECT cid AS cluster_id, x FROM (
    SELECT vec_id, cid, x,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM dists
  ) WHERE rn = 1
)
SELECT cluster_id, CAST(pos AS INT) AS pos,
       ROUND(AVG(val), 4) AS centroid_val,
       CAST(COUNT(*) AS BIGINT) AS n_members
FROM (SELECT cluster_id, unnest(x) AS val, generate_subscripts(x, 1) AS pos
      FROM assign)
GROUP BY cluster_id, pos
ORDER BY cluster_id, pos
""",
)
def kmeans_step_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity

    return similarity.kmeans_step(load_table(spark, sf_dir, "embeddings"))


@register(
    "text_lang_id_ngram",
    """
SELECT doc_id, lang,
       best.lang AS lang_pred,
       best.score AS ngram_hits
FROM (
  SELECT doc_id, lang,
         list_max([{'score': CAST((length(lower(text)) - length(replace(lower(text), 'ei', ''))) / 2 + (length(lower(text)) - length(replace(lower(text), 'ch', ''))) / 2 + (length(lower(text)) - length(replace(lower(text), 'de', ''))) / 2 + (length(lower(text)) - length(replace(lower(text), 'un', ''))) / 2 AS BIGINT), 'ord': 0, 'lang': 'de'},
         {'score': CAST((length(lower(text)) - length(replace(lower(text), 'th', ''))) / 2 + (length(lower(text)) - length(replace(lower(text), 'he', ''))) / 2 + (length(lower(text)) - length(replace(lower(text), 'an', ''))) / 2 + (length(lower(text)) - length(replace(lower(text), 'nd', ''))) / 2 AS BIGINT), 'ord': -1, 'lang': 'en'},
         {'score': CAST((length(lower(text)) - length(replace(lower(text), 'de', ''))) / 2 + (length(lower(text)) - length(replace(lower(text), 'la', ''))) / 2 + (length(lower(text)) - length(replace(lower(text), 'os', ''))) / 2 + (length(lower(text)) - length(replace(lower(text), 'el', ''))) / 2 AS BIGINT), 'ord': -2, 'lang': 'es'},
         {'score': CAST((length(lower(text)) - length(replace(lower(text), 'le', ''))) / 2 + (length(lower(text)) - length(replace(lower(text), 'es', ''))) / 2 + (length(lower(text)) - length(replace(lower(text), 'en', ''))) / 2 + (length(lower(text)) - length(replace(lower(text), 're', ''))) / 2 AS BIGINT), 'ord': -3, 'lang': 'fr'},
         {'score': CAST((length(lower(text)) - length(replace(lower(text), '的', ''))) / 1 + (length(lower(text)) - length(replace(lower(text), '了', ''))) / 1 + (length(lower(text)) - length(replace(lower(text), '是', ''))) / 1 + (length(lower(text)) - length(replace(lower(text), '我', ''))) / 1 AS BIGINT), 'ord': -4, 'lang': 'zh'}]) AS best
  FROM documents
)
""",
)
def text_lang_id_ngram_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text

    return text.text_lang_id_ngram(load_table(spark, sf_dir, "documents"))


@register(
    "split_group_aware",
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
)
SELECT d.doc_id, d.lang, d.source, c.component_id,
       CASE WHEN CAST(CAST('0x' || substr(md5(CAST(c.component_id AS VARCHAR)), 1, 4)
                 AS INTEGER) AS BIGINT) < {int(0.2 * 65536)}
            THEN 'test' ELSE 'train' END AS split
FROM documents d JOIN comp c ON d.doc_id = c.doc_id
ORDER BY d.doc_id
""",
)
def split_group_aware_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup

    documents = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(documents, threshold=0.8)
    return dedup.split_group_aware(documents, pairs)


@register(
    "ann_quantized",
    """
WITH store AS (
  SELECT vec_id, x,
         list_transform(x, v -> round(v * 127.0 / scale) * scale / 127.0) AS dq
  FROM (
    SELECT vec_id, x,
           GREATEST(list_max(list_transform(x, v -> abs(v))), 1e-30) AS scale
    FROM (SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
          FROM embeddings)
  )
)
SELECT b.vec_id,
       ROUND(list_cosine_similarity(b.dq, q.x), 3) AS cos_sim
FROM store b, (SELECT x FROM store WHERE vec_id = 0) q
WHERE b.vec_id <> 0
ORDER BY cos_sim DESC, b.vec_id
LIMIT 10
""",
)
def ann_quantized_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity

    return similarity.ann_quantized(load_table(spark, sf_dir, "embeddings"))


@register(
    "boilerplate_ngram_flags",
    f"""
WITH g AS (
  SELECT doc_id, unnest({_GRAMS}) AS gram FROM documents
), df AS (
  SELECT gram, COUNT(*) AS df FROM g GROUP BY gram
), n AS (SELECT COUNT(*) AS n_docs FROM documents),
per_doc AS (
  SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(SUM(CASE WHEN df.df >= 0.02 * n.n_docs THEN 1 ELSE 0 END) AS BIGINT)
           AS n_boiler
  FROM g JOIN df USING (gram), n
  GROUP BY g.doc_id
)
SELECT doc_id, n_grams, n_boiler,
       ROUND(n_boiler / CAST(n_grams AS DOUBLE), 4) AS boiler_frac,
       n_boiler >= 0.5 * n_grams AS is_boilerplate
FROM per_doc ORDER BY doc_id
""",
)
def boilerplate_ngram_flags_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup

    return dedup.boilerplate_ngram_flags(load_table(spark, sf_dir, "documents"))


@register(
    "hard_negative_mining",
    """
SELECT query_id, query_label, vec_id AS neg_id, ROUND(sim, 3) AS cos_sim
FROM (
  SELECT q.vec_id AS query_id, q.label AS query_label, b.vec_id,
         ROUND(list_cosine_similarity(b.embedding::DOUBLE[],
                                      q.embedding::DOUBLE[]), 6) AS sim,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY ROUND(list_cosine_similarity(b.embedding::DOUBLE[],
                                                 q.embedding::DOUBLE[]), 6) DESC,
                    b.vec_id
         ) AS rn
  FROM embeddings b
  JOIN (SELECT * FROM embeddings WHERE vec_id < 16) q
    ON b.label <> q.label
)
WHERE rn = 1
ORDER BY query_id
""",
)
def hard_negative_mining_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity

    return similarity.hard_negative_mining(load_table(spark, sf_dir, "embeddings"))


@register(
    "profile_columns",
    """
WITH one AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS event_id_nulls,
         COUNT(DISTINCT event_id) AS event_id_distinct,
         CAST(MIN(event_id) AS VARCHAR) AS event_id_min,
         CAST(MAX(event_id) AS VARCHAR) AS event_id_max,
         CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS user_id_nulls,
         COUNT(DISTINCT user_id) AS user_id_distinct,
         CAST(MIN(user_id) AS VARCHAR) AS user_id_min,
         CAST(MAX(user_id) AS VARCHAR) AS user_id_max,
         CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS event_type_nulls,
         COUNT(DISTINCT event_type) AS event_type_distinct,
         CAST(MIN(event_type) AS VARCHAR) AS event_type_min,
         CAST(MAX(event_type) AS VARCHAR) AS event_type_max,
         CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS value_nulls,
         COUNT(DISTINCT value) AS value_distinct,
         CAST(MIN(value) AS VARCHAR) AS value_min,
         CAST(MAX(value) AS VARCHAR) AS value_max
  FROM events
)
SELECT col_name, n_rows, n_nulls, n_distinct, min_str, max_str FROM (
  SELECT 'event_id' AS col_name, n AS n_rows, event_id_nulls AS n_nulls,
         event_id_distinct AS n_distinct, event_id_min AS min_str,
         event_id_max AS max_str FROM one
  UNION ALL
  SELECT 'user_id', n, user_id_nulls, user_id_distinct, user_id_min,
         user_id_max FROM one
  UNION ALL
  SELECT 'event_type', n, event_type_nulls, event_type_distinct,
         event_type_min, event_type_max FROM one
  UNION ALL
  SELECT 'value', n, value_nulls, value_distinct, value_min, value_max
  FROM one
)
ORDER BY col_name
""",
)
def profile_columns_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational

    return relational.profile_columns(load_events(spark, sf_dir))


@register(
    "sink_orc_roundtrip",
    """
SELECT event_id, user_id, event_type, value FROM events
""",
)
def sink_orc_roundtrip_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink/source round trip: the second columnar format the
    engine speaks natively (predicate pushdown + column pruning work
    the same as parquet; ORC carries built-in bloom-filter support
    per column via orc.bloom.filter.columns for point-lookup-heavy
    layouts)."""
    out_dir = _roundtrip_dir(sf_dir, "orc")
    events = load_events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value"
    )
    events.write.mode("overwrite").orc(out_dir)
    return spark.read.schema(
        "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE"
    ).orc(out_dir)


@register(
    "ann_recall_report",
    """
WITH e AS (SELECT vec_id, label AS list_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
truth AS (
  SELECT e.vec_id FROM e, q WHERE e.vec_id <> 0
  ORDER BY ROUND(list_cosine_similarity(e.v, qv), 3) DESC, e.vec_id LIMIT 10
),
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
approx AS (
  SELECT e.vec_id FROM e JOIN probe USING (list_id), q
  WHERE e.vec_id <> 0
  ORDER BY ROUND(list_cosine_similarity(e.v, qv), 3) DESC, e.vec_id LIMIT 10
)
SELECT CAST(10 AS INT) AS k, CAST(2 AS INT) AS nprobe,
       CAST(COUNT(*) AS BIGINT) AS n_overlap,
       ROUND(COUNT(*) / 10.0, 4) AS recall_at_k
FROM truth WHERE vec_id IN (SELECT vec_id FROM approx)
""",
)
def ann_recall_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity

    return similarity.ann_recall_report(load_table(spark, sf_dir, "embeddings"))


@register(
    "dedup_keep_best",
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
  SELECT d.doc_id, d.n_chars,
         LEAST(d.doc_id, COALESCE(MIN(r.v), d.doc_id)) AS component_id
  FROM documents d LEFT JOIN reach r ON r.u = d.doc_id
  GROUP BY d.doc_id, d.n_chars
), best AS (
  SELECT component_id, doc_id AS kept_doc_id FROM (
    SELECT component_id, doc_id,
           ROW_NUMBER() OVER (PARTITION BY component_id
                              ORDER BY n_chars DESC, doc_id) AS rn
    FROM comp
  ) WHERE rn = 1
)
SELECT c.doc_id, c.component_id, b.kept_doc_id,
       c.doc_id = b.kept_doc_id AS is_kept
FROM comp c JOIN best b USING (component_id)
ORDER BY c.doc_id
""",
)
def dedup_keep_best_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup

    documents = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(documents, threshold=0.8)
    return dedup.dedup_keep_best(documents, pairs)


@register(
    "multimodal_binary_ingest",
    # DuckDB reads the same files via read_blob; both engines report
    # (file_name, n_bytes, md5) per media object
    f"""
SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name,
       CAST(octet_length(content) AS BIGINT) AS n_bytes,
       md5(decode(content)) AS content_md5
FROM read_blob('{scratch("ksr_binfiles")}/*.bin')
ORDER BY file_name
""",
)
def multimodal_binary_ingest_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media-object ingestion via Spark's binaryFile source: each file
    lands as (path, modificationTime, length, content BINARY) — the
    standard first hop for image/audio corpora (decode then proceeds
    via the multimodal pandas-UDF operators). The fixture packs 50
    documents as .bin objects; a real deployment points the SAME
    reader at an object-store prefix with pathGlobFilter, and the
    scan parallelizes per file with no driver involvement."""
    import hashlib
    import os

    out = scratch("ksr_binfiles")
    os.makedirs(out, exist_ok=True)
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 50)
        .select("doc_id", "text")
        .collect()  # 50-row fixture packing, not a data-path collect
    )
    for r in docs:
        with open(f"{out}/doc_{r.doc_id:05d}.bin", "wb") as fh:
            fh.write(r.text.encode("utf-8"))
    binf = spark.read.format("binaryFile").option("pathGlobFilter", "*.bin").load(out)
    return (
        binf.select(
            F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
            F.col("length").alias("n_bytes"),
            F.md5(F.col("content")).alias("content_md5"),
        )
        .orderBy("file_name")
    )


def _morton8(a, b):
    """Interleave the low 8 bits of two long columns into one Morton
    (Z-order) key — bit i of `a` lands at position 2i, bit i of `b` at
    2i+1. Pure shift/and column algebra, fully codegen (disjoint bit
    positions make addition == bitwise OR; Column.__or__ is boolean)."""
    code = F.lit(0).cast("long")
    for i in range(8):
        code = (
            code
            + F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return code


def _rank_byte(col, lo, hi):
    """Min-max scale a long column into 0..255: Z-order interleaving
    only balances dimensions of EQUAL bit width, so each column is
    normalized to an 8-bit rank first (raw interleave lets the wider
    column dominate the high bits and degenerates to a single-key
    sort — caught by the two-dimensional narrowing test)."""
    span = F.greatest(hi - lo, F.lit(1))
    return ((col - lo) * 255 / span).cast("long")


@register(
    "sink_zorder_parquet",
    """
SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events
""",
)
def sink_zorder_parquet_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ordered parquet layout: range-partition + sort on the Morton
    interleave of (user_id, minute-bucketed ts), so per-file min/max
    stats are narrow on BOTH columns simultaneously — single-key
    sorting (sink_sorted_parquet) prunes only its own column, Z-order
    lets user-id point lookups AND time-range scans each skip most
    files of a 100 TB table (the Delta/Iceberg OPTIMIZE ZORDER
    technique, expressed with stock column algebra).
    tests/test_plans.py asserts the two-dimensional narrowing."""
    out_dir = _roundtrip_dir(sf_dir, "zorder")
    events = load_events(spark, sf_dir).select("event_id", "user_id", "ts", "value")
    minute = (F.unix_micros("ts") / 60_000_000).cast("long")
    bounds = events.agg(
        F.min("user_id").alias("u_lo"),
        F.max("user_id").alias("u_hi"),
        F.min(minute).alias("t_lo"),
        F.max(minute).alias("t_hi"),
    )
    keyed = events.join(F.broadcast(bounds)).withColumn(
        "_z",
        _morton8(
            _rank_byte(F.col("user_id"), F.col("u_lo"), F.col("u_hi")),
            _rank_byte(minute, F.col("t_lo"), F.col("t_hi")),
        ),
    ).drop("u_lo", "u_hi", "t_lo", "t_hi")
    (
        keyed.repartitionByRange(8, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    return spark.read.parquet(out_dir).select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us"), "value"
    )


@register(
    "streaming_attribution_outer",
    # LEFT OUTER stream-stream join: matched rows equal the batch
    # self-join; unmatched clicks emit (click_id, NULL) only once the
    # terminal watermark passes click_ts + 1h. The global watermark is
    # the MIN across the two input streams' watermark operators (each
    # sees only its own filtered rows), hence LEAST of the per-type
    # max timestamps minus the 2h delay
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
unmatched AS (
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
)
SELECT * FROM matched UNION ALL SELECT * FROM unmatched
""",
)
def streaming_attribution_outer_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import jobs

    stream = jobs.stream_events(spark, sf_dir)
    return jobs.run_available_now(
        jobs.attribution_join(stream, "left_outer"), "streaming_attribution_outer"
    )


@register(
    "streaming_attribution_semi",
    # LEFT SEMI: one row per converted click — matches emit on arrival,
    # so no watermark leg in the oracle
    """
SELECT DISTINCT c.event_id AS click_id, c.user_id
FROM events c
WHERE c.event_type = 'click'
  AND EXISTS (
    SELECT 1 FROM events p
    WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
      AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
  )
""",
)
def streaming_attribution_semi_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import jobs

    stream = jobs.stream_events(spark, sf_dir)
    return jobs.run_available_now(
        jobs.attribution_join(stream, "left_semi"), "streaming_attribution_semi"
    )


@register(
    "streaming_windowed_distinct",
    """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
       COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY 1, 2
""",
)
def streaming_windowed_distinct_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import jobs

    stream = jobs.stream_events(spark, sf_dir)
    return jobs.run_available_now(
        jobs.windowed_distinct_users(stream), "streaming_windowed_distinct"
    )


