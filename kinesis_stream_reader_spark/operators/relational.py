"""Relational operators beyond the reference's surface.

The reference implements no joins, aggregations, window functions,
sorts or set operations (SURVEY.md §2.4-2.8) — these are the analytics
its users would run next, expressed as idiomatic Catalyst-optimized
DataFrame plans over the driver's TPC-H-ish tables.

Scale notes are per-operator. General stance for the 100 TB target:

- dimension tables (region 5 / nation 25 / customer / supplier / part)
  are broadcast — no shuffle of the fact side for enrichment joins;
- aggregations rely on Spark's automatic partial (map-side) aggregation,
  so the shuffle carries one row per (partition, key), not per event;
- top-k uses orderBy().limit(n), which Spark executes as per-partition
  TakeOrdered + driver merge of n rows — never a global sort;
- window functions shuffle once on the partition key; rank cutoffs
  apply per-partition;
- set ops use left_anti/intersect joins, which AQE converts to
  broadcast when one side is small.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import tiny_df
from ..scratch import scratch


def agg_count_by_key(events: DataFrame) -> DataFrame:
    """Events per (user, type): the natural first analytic over the
    stream. One shuffle on the composite key; partial aggregation makes
    the shuffle O(distinct keys), not O(events)."""
    return (
        events.groupBy("user_id", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


def agg_pricing_summary(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q1-style pricing summary: the canonical scan-heavy
    aggregate. Only 6 of 11 columns are read (column pruning reaches
    the parquet scan); 4 grouping cells, so the shuffle is trivial and
    the job is scan-bound — exactly what you want at 100 TB."""
    return (
        lineitem.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def join_enrich(orders: DataFrame, customer: DataFrame, nation: DataFrame, region: DataFrame) -> DataFrame:
    """Fact-to-dimension enrichment: orders -> customer -> nation ->
    region, revenue per region/nation. All three dims are broadcast
    (F.broadcast is explicit, not left to the threshold), so the orders
    side streams through map-side hash joins with zero shuffle until
    the final small aggregation."""
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
        )
    )


def join_filter_pushdown(lineitem: DataFrame, part: DataFrame, brand: str) -> DataFrame:
    """Selective dim filter then broadcast semi-enrichment: the brand
    predicate prunes `part` BEFORE the broadcast, so only matching part
    keys ship to executors. Catalyst additionally pushes l_* column
    pruning into the scan."""
    parts = part.filter(F.col("p_brand") == brand).select("p_partkey", "p_brand", "p_name")
    return (
        lineitem.join(F.broadcast(parts), lineitem.l_partkey == parts.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_lineitems"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_price"),
        )
    )


def window_rank_orders(orders: DataFrame, k: int = 3) -> DataFrame:
    """Top-k orders per customer via rank() — one shuffle on o_custkey,
    rank cutoff applied per partition. At scale, skewed customers are
    handled by AQE; the alternative groupBy+slice(sort_array) form
    avoids the window entirely if needed."""
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        orders.withColumn("rk", F.rank().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


def top_k_customers(orders: DataFrame, customer: DataFrame, k: int = 10) -> DataFrame:
    """Global top-k by revenue: aggregate first (shrinks to one row per
    customer), enrich via broadcast, then orderBy().limit(k) which
    Spark plans as TakeOrderedAndProject — per-partition heaps + a
    k-row driver merge, no global sort."""
    revenue = orders.groupBy("o_custkey").agg(F.round(F.sum("o_totalprice"), 4).alias("revenue"))
    return (
        revenue.join(F.broadcast(customer), revenue.o_custkey == customer.c_custkey)
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .select("c_custkey", "c_name", "revenue")
        .limit(k)
    )


def customers_without_orders(
    customer: DataFrame, orders: DataFrame, since: str | None = "1998-01-01"
) -> DataFrame:
    """Anti-join set difference (oracle twin: NOT IN subquery).
    left_anti is the scalable form — it degenerates to a broadcast of
    the distinct key set when small, and a null-safe shuffled join
    otherwise. The optional date bound makes the result non-trivial
    ('customers inactive since') and pushes down into the orders scan."""
    if since is not None:
        orders = orders.filter(F.col("o_orderdate") >= since)
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


def customers_with_orders(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Left-semi join: existence test without duplication — the
    EXISTS/IN-subquery plan shape. AQE broadcasts the distinct key set
    when small."""
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


def union_user_ids(events: DataFrame, customer: DataFrame) -> DataFrame:
    """UNION (distinct) across heterogeneous sources, aligned by name."""
    ids_a = events.select(F.col("user_id").alias("uid"))
    ids_b = customer.select(F.col("c_custkey").alias("uid"))
    return ids_a.unionByName(ids_b).distinct()


def active_in_both(events: DataFrame) -> DataFrame:
    """INTERSECT: users who both clicked and purchased."""
    clicks = events.filter(F.col("event_type") == "click").select("user_id")
    buys = events.filter(F.col("event_type") == "purchase").select("user_id")
    return clicks.intersect(buys)


def sort_limit_events(events: DataFrame, n: int = 100) -> DataFrame:
    """Deterministic top-n by value (TakeOrdered, not global sort)."""
    return (
        events.orderBy(F.col("value").desc(), F.col("event_id"))
        .select("event_id", "user_id", "event_type", "value")
        .limit(n)
    )


def distinct_users_per_type(events: DataFrame) -> DataFrame:
    """Exact distinct-count per type. At 100 TB prefer
    approx_count_distinct (HLL, no second shuffle); exact form kept for
    the oracle. Spark plans count(distinct) as a two-stage expand +
    partial agg automatically."""
    return events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


def rollup_counts(events: DataFrame) -> DataFrame:
    """ROLLUP over event_type: per-type counts plus grand total —
    grouping-sets surface. NULL marks the total row (matches SQL
    ROLLUP)."""
    return events.rollup("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


def join_asof_latest_order(events: DataFrame, orders: DataFrame) -> DataFrame:
    """As-of join: for each event, the latest order of that user at or
    before the event time — an operator Spark lacks natively, composed
    from existing DataFrame ops via the union + running-last trick:

    tag both sides, union, then one window sorted by (time, side) per
    user carries the most recent order key forward onto event rows.
    ONE shuffle + sort on the user key — strictly cheaper than the
    join-then-filter-then-rank form, and the canonical scalable shape
    (point-in-time joins in feature stores use exactly this)."""
    left = events.select(
        F.col("user_id").alias("uid"),
        F.col("ts").alias("t"),
        F.lit(0).alias("is_order"),
        F.col("event_id"),
        F.lit(None).cast("long").alias("o_orderkey"),
    )
    right = orders.select(
        F.col("o_custkey").alias("uid"),
        F.col("o_orderdate").cast("timestamp").alias("t"),
        F.lit(1).alias("is_order"),
        F.lit(None).cast("long").alias("event_id"),
        "o_orderkey",
    )
    # order rows sort BEFORE event rows at equal t (desc is_order), so
    # "at or before" includes same-instant orders; o_orderkey asc as the
    # final key makes ties at the same (uid, t) deterministic — the
    # running-last picks MAX(o_orderkey) among tied order dates, and the
    # oracle SQL mirrors that by pre-collapsing orders to one row per
    # (custkey, orderdate) with MAX(o_orderkey)
    w = (
        Window.partitionBy("uid")
        .orderBy(F.col("t"), F.col("is_order").desc(), F.col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = left.unionByName(right).withColumn(
        "asof_orderkey", F.last("o_orderkey", ignorenulls=True).over(w)
    )
    return merged.filter(F.col("is_order") == 0).select(
        "event_id", F.col("uid").alias("user_id"), "asof_orderkey"
    )


def cube_counts(events: DataFrame) -> DataFrame:
    """CUBE over (event_type, user bucket): full grouping-sets surface."""
    bucket = (F.col("user_id") % 10).alias("user_bucket")
    return events.cube("event_type", bucket).agg(F.count("*").alias("n_events"))


def pivot_counts(events: DataFrame) -> DataFrame:
    """Pivot event types into columns per user. The pivot values are
    pinned (not discovered) so the plan is a single pass with no
    pre-query, and the 100 TB plan shape is one shuffle."""
    types = ["click", "view", "purchase", "signup", "error"]
    out = (
        events.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))  # count(*) star is invalid inside pivot
    )
    # null -> 0 for absent combinations, stable column names
    return out.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}") for t in types],
    )


def agg_percentiles(events: DataFrame) -> DataFrame:
    """Exact percentiles per group (linear interpolation — matches SQL
    quantile_cont). At 100 TB swap F.percentile for
    F.percentile_approx: one pass, mergeable sketches, bounded error."""
    return events.groupBy("event_type").agg(
        F.round(F.percentile("value", 0.5), 4).alias("p50"),
        F.round(F.percentile("value", 0.95), 4).alias("p95"),
    )


def shipping_priority(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame, segment: str = "BUILDING"
) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> broadcast -> fact agg ->
    top-k. The segment filter prunes customers before the broadcast;
    lineitem joins shuffle on orderkey (the natural co-location key for
    bucketed storage at scale)."""
    cust = customer.filter(F.col("c_mktsegment") == segment).select("c_custkey")
    ords = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey).select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    # aggregate lineitem revenue per orderkey BEFORE the join: map-side
    # partial combine shrinks the fact shuffle from one wide row per
    # lineitem to one narrow row per orderkey (4x fewer rows at the 50x
    # probe, 39s -> measured improvement there), and the orders join
    # becomes 1:1 with no re-aggregation. Same result: revenue per
    # orderkey is independent of the (orderkey-unique) orders columns.
    li_rev = lineitem.groupBy("l_orderkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
            "revenue"
        )
    )
    return (
        li_rev.join(ords, li_rev.l_orderkey == ords.o_orderkey)
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
        )
    )


def agg_count_by_key_salted(events: DataFrame, salt_buckets: int = 8) -> DataFrame:
    """Two-stage salted aggregation: the skew-mitigation pattern for
    hot keys at scale. Stage 1 aggregates on (key, salt) — hot keys
    split across `salt_buckets` reducers; stage 2 merges the partials
    on the key alone. Results are identical to the direct groupBy
    (same oracle as agg_count_by_key), the plan trades one extra small
    shuffle for bounded per-task input. With AQE skew handling on this
    is rarely needed for joins, but aggregation skew on a dominant key
    still wants the explicit form."""
    salt = (F.col("event_id") % salt_buckets).alias("_salt")
    partial = (
        events.groupBy("user_id", "event_type", salt)
        .agg(F.count("*").alias("pn"), F.sum("value").alias("pv"))
    )
    return (
        partial.groupBy("user_id", "event_type")
        .agg(
            F.sum("pn").alias("n_events"),
            F.round(F.sum("pv"), 4).alias("sum_value"),
        )
    )


def approx_distinct_users(events: DataFrame, rsd: float = 0.02) -> DataFrame:
    """HLL-sketch distinct counts: the 100 TB form of distinct_count
    (one pass, mergeable, no expand). No SQL oracle — the estimate is
    checked against the exact count within rsd tolerance in pytest."""
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd).alias("approx_users"),
        F.count("*").alias("n_events"),
    )


def window_session_builtin(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Per-user session windows via the BUILT-IN F.session_window — the
    declarative twin of streaming/stateful.py's custom sessionizer.
    Same one-shuffle shape as any groupBy; session merging happens
    inside the aggregation."""
    return (
        events.groupBy(F.session_window(F.col("ts"), gap).alias("w"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.col("w.end"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        )
    )


def agg_minmax_by(events: DataFrame) -> DataFrame:
    """Value-carrying argmax/argmin aggregates. Expressed as max/min
    over (value, event_id) structs rather than max_by/min_by: engine
    tie-breaking for max_by is unspecified, while struct ordering pins
    ties to the extreme event_id deterministically on every engine."""
    return events.groupBy("event_type").agg(
        F.max(F.struct("value", "event_id"))["event_id"].alias("top_event_id"),
        F.min(F.struct("value", "event_id"))["event_id"].alias("bottom_event_id"),
        F.round(F.max("value"), 4).alias("max_value"),
    )


def agg_stats(events: DataFrame) -> DataFrame:
    """Statistical aggregates (sample stddev/variance) per group."""
    return events.groupBy("event_type").agg(
        F.round(F.stddev_samp("value"), 4).alias("stddev_value"),
        F.round(F.var_samp("value"), 4).alias("var_value"),
        F.round(F.avg("value"), 4).alias("avg_value"),
    )


def local_supplier_volume(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    region_name: str = "ASIA",
    date_lo: str = "1996-01-01",
    date_hi: str = "1997-01-01",
) -> DataFrame:
    """TPC-H Q5 shape: revenue from intra-nation commerce (customer and
    supplier share a nation) within one region and order year.

    Plan shape for scale: the region filter prunes nation BEFORE any
    fact touches it; supplier/customer/nation broadcast, so lineitem
    shuffles exactly once (on l_orderkey against the date-filtered
    orders); the nation equality (c_nationkey = s_nationkey) is applied
    as a residual predicate on broadcast columns — no extra shuffle."""
    nations_in_region = (
        nation.join(
            F.broadcast(region.filter(F.col("r_name") == region_name)),
            nation.n_regionkey == region.r_regionkey,
        )
        .select("n_nationkey", "n_name")
    )
    ords = orders.filter(
        (F.col("o_orderdate") >= date_lo) & (F.col("o_orderdate") < date_hi)
    ).select("o_orderkey", "o_custkey")
    li = lineitem.select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    return (
        li.join(ords, li.l_orderkey == ords.o_orderkey)
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nations_in_region), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.round(F.sum("rev"), 4).alias("revenue"))
    )


def returned_item_customers(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame, k: int = 20
) -> DataFrame:
    """TPC-H Q10 shape: customers ranked by revenue lost to returns.
    Aggregate lineitem returns per order FIRST (shrinks the fact side),
    then broadcast-enrich with customer and TakeOrdered the top k."""
    returned = (
        lineitem.filter(F.col("l_returnflag") == "R")
        .groupBy("l_orderkey")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
    )
    return (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum("rev").alias("rev"))
        .join(F.broadcast(customer), F.col("o_custkey") == customer.c_custkey)
        .select("c_custkey", "c_name", F.round(F.col("rev"), 4).alias("lost_revenue"))
        .orderBy(F.col("lost_revenue").desc(), F.col("c_custkey"))
        .limit(k)
    )


def promo_revenue(
    lineitem: DataFrame,
    part: DataFrame,
    date_lo: str = "1996-01-01",
    date_hi: str = "1996-03-01",
) -> DataFrame:
    """TPC-H Q14 shape: share of revenue from promotional parts in a
    window. Conditional aggregation over one broadcast join; the date
    range pushes into the lineitem scan."""
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        lineitem.filter((F.col("l_shipdate") >= date_lo) & (F.col("l_shipdate") < date_hi))
        .join(F.broadcast(part.select("p_partkey", "p_type")), F.col("l_partkey") == F.col("p_partkey"))
        .agg(F.round(100 * F.sum(promo) / F.sum(rev), 4).alias("promo_revenue_pct"))
    )


# Static value bands for the non-equi range join: (band, lo, hi) with
# [lo, hi) semantics over events.value (driver data spans 0.01-490.02).
VALUE_BANDS = (
    ("low", 0.0, 50.0),
    ("mid", 50.0, 150.0),
    ("high", 150.0, 300.0),
    ("extreme", 300.0, 1000.0),
)


def join_range_bands(events: DataFrame) -> DataFrame:
    """Non-equi (theta) range join: bucket each event's value into a
    banded range via `value >= lo AND value < hi`.

    The band table is tiny and broadcast, so the theta join is a
    BroadcastNestedLoopJoin over 4 rows — a map-only stage, the only
    scalable shape for non-equi conditions (a shuffled theta join would
    be quadratic). This is the range-join primitive behind histogram
    bucketing, SLA banding, and interval enrichment."""
    spark = events.sparkSession
    bands = tiny_df(spark, list(VALUE_BANDS), "band STRING, lo DOUBLE, hi DOUBLE")
    return (
        events.join(
            F.broadcast(bands),
            (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


def join_interval_bucketed(
    events: DataFrame, orders: DataFrame, days: int = 30
) -> DataFrame:
    """Big-to-big INTERVAL join via bucket decomposition: how many of a
    user's orders are 'active' (event inside [orderdate, orderdate +
    `days`)) at each event — point-in-interval containment where BOTH
    sides are fact-sized, so neither broadcasts and a theta join would
    be a quadratic nested loop.

    The standard decomposition: pick bucket width = the interval length,
    so every interval spans at most 2 buckets; explode intervals to
    their covered buckets, equi-join points on (user, bucket) — an
    ordinary shuffled hash join — then apply the exact containment as a
    codegen residual. Join fan-in per point is bounded by the user's
    intervals in 2 buckets, never the whole table. This is the
    interval-join primitive behind validity-window enrichment
    (SCD2 lookups), ad-attribution windows, and sensor containment.

    Epoch math is integer seconds (unix_timestamp floors; bounds are
    midnight-aligned), so bucket ids and the residual are exact and the
    oracle's timestamp comparisons are equivalent."""
    width = days * 86400
    pts = events.select(
        "event_id",
        F.col("user_id").alias("uid"),
        F.unix_timestamp("ts").alias("t"),
    ).withColumn("bucket", F.floor(F.col("t") / width))
    iv = (
        orders.select(
            F.col("o_custkey").alias("uid"),
            F.unix_timestamp(F.col("o_orderdate").cast("timestamp")).alias("lo"),
        )
        .withColumn("hi", F.col("lo") + width)
        .withColumn(
            "bucket",
            F.explode(
                F.sequence(
                    F.floor(F.col("lo") / width), F.floor((F.col("hi") - 1) / width)
                )
            ),
        )
    )
    counts = (
        pts.join(iv, ["uid", "bucket"])
        .filter((F.col("t") >= F.col("lo")) & (F.col("t") < F.col("hi")))
        .groupBy("event_id")
        .agg(F.count("*").alias("n_active"))
    )
    return (
        events.select("event_id", "user_id")
        .join(counts, "event_id", "left_outer")
        .select(
            "event_id",
            "user_id",
            F.coalesce(F.col("n_active"), F.lit(0)).alias("n_active_orders"),
        )
        .orderBy("event_id")
    )


def window_running_total(events: DataFrame) -> DataFrame:
    """Per-user running revenue: cumulative sum over an explicit
    ROWS UNBOUNDED PRECEDING frame with a total order (ts, event_id) —
    the analytic-frame surface beyond ranking. One shuffle on user_id;
    the frame evaluates incrementally per partition (O(n), not O(n^2))."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return events.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 4).alias("running_value"),
    )


def window_lead_lag(events: DataFrame) -> DataFrame:
    """Inter-event gap per user via lag(): the offset-function surface.
    Gap is computed on the raw microsecond longs (exact integers), not
    timestamps, so engines agree bit-for-bit."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    micros = F.unix_micros(F.col("ts"))
    return events.select(
        "event_id",
        "user_id",
        (micros - F.lag(micros).over(w)).alias("gap_us"),
    )


def window_tumbling_counts(events: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Tumbling 1-hour event-time windows (batch twin of the streaming
    windowed count; streaming adds withWatermark on the same expression).
    Window start is emitted as a string to keep the comparison
    timezone-proof."""
    return (
        events.groupBy(F.window(F.col(ts_col), "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def late_shipment_priorities(
    orders: DataFrame, lineitem: DataFrame, grace_days: int = 30
) -> DataFrame:
    """TPC-H Q4 shape: orders per priority having at least one lineitem
    shipped more than `grace_days` after the order date — the EXISTS /
    left-semi surface with an equi key plus a non-equi residual.

    Plan shape for scale: the semi join shuffles both sides once on the
    order key; the date comparison rides along as a residual predicate
    inside the join (no second pass), and the semi form means lineitem
    multiplicity never inflates the order side — each order is emitted
    at most once regardless of how many late lines it has."""
    late = orders.join(
        lineitem,
        (orders.o_orderkey == lineitem.l_orderkey)
        & (lineitem.l_shipdate > F.date_add(orders.o_orderdate, grace_days)),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("n_late"))


def large_volume_orders(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    qty_threshold: float = 150.0,
    k: int = 20,
) -> DataFrame:
    """TPC-H Q18 shape: large-volume orders (HAVING over a fact agg,
    then IN-subquery style enrichment). Aggregate lineitem FIRST —
    the shuffle carries one row per order key, and the HAVING prunes
    before any join; customer is broadcast; top-k is TakeOrdered."""
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 4).alias("total_qty"))
        .filter(F.col("total_qty") > qty_threshold)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice", "total_qty")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(k)
    )


def disjunctive_part_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR of (brand AND size-range
    AND quantity-range) conjuncts spanning both join sides.

    Catalyst extracts the common join key (partkey) so this stays an
    equi join with the disjunction as a residual; `part` is broadcast,
    making the whole query one map-side pass over lineitem. The
    brand/size conjuncts that touch only `part` additionally prune the
    broadcast side before it ships (CNF conversion gives the scan
    `p_brand IN (...)` and a size bound for free)."""
    joined = lineitem.join(
        F.broadcast(part.select("p_partkey", "p_brand", "p_size")),
        lineitem.l_partkey == part.p_partkey,
    )
    q, b, s = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    cond = (
        ((b == "Brand#12") & s.between(1, 15) & q.between(1, 11))
        | ((b == "Brand#23") & s.between(1, 25) & q.between(10, 20))
        | ((b == "Brand#3") & s.between(1, 35) & q.between(20, 30))
    )
    return joined.filter(cond).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
            "revenue"
        ),
        F.count("*").alias("n_lineitems"),
    )


def orders_above_customer_avg(orders: DataFrame, factor: float = 1.5) -> DataFrame:
    """Correlated-scalar-subquery semantics ("orders above this
    customer's average spend"), decorrelated into a single window
    aggregate — the scalable plan Catalyst itself produces for the
    subquery form: ONE shuffle on the correlation key instead of a
    re-scan per outer row.

    The per-customer mean is computed as exact-decimal sum / count
    rather than a double AVG: double summation is order-dependent
    across partitions and must not flip the filter at a boundary. The
    emitted columns are the exact sum and count (not the quotient) —
    a mean like 160954.70375 is an exact tie at 4 dp, where engines
    legitimately disagree on half-up vs half-even."""
    w = Window.partitionBy("o_custkey")
    cust_sum = F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double")
    n_orders = F.count("*").over(w)
    return (
        orders.withColumn("cust_sum", cust_sum)
        .withColumn("n_orders", n_orders)
        .filter(F.col("o_totalprice") > factor * F.col("cust_sum") / F.col("n_orders"))
        .select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.round(F.col("cust_sum"), 2).alias("cust_sum"),
            "n_orders",
        )
    )


def window_ntile_stats(events: DataFrame, buckets: int = 4) -> DataFrame:
    """Distribution-rank window surface: ntile / percent_rank /
    cume_dist over a pinned total order (value, event_id) per type.
    One shuffle on the partition key; all three functions evaluate in
    the same window pass."""
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return events.select(
        "event_id",
        "event_type",
        F.ntile(buckets).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 4).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 4).alias("cume_dist"),
    )


def brand_supplier_counts(
    lineitem: DataFrame, part: DataFrame, exclude_brand: str = "Brand#5"
) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier count per brand, excluding
    one brand (NOT-predicate on the broadcast dim). The distinct-agg
    expands to (brand, suppkey) pairs; partial aggregation dedups
    map-side so the shuffle is bounded by distinct pairs."""
    parts = part.filter(F.col("p_brand") != exclude_brand).select("p_partkey", "p_brand")
    return (
        lineitem.join(F.broadcast(parts), lineitem.l_partkey == parts.p_partkey)
        .groupBy("p_brand")
        .agg(F.countDistinct("l_suppkey").alias("n_suppliers"))
    )


def agg_by_day(events: DataFrame) -> DataFrame:
    """Calendar rollup: events per day and day-of-week — the date/time
    function surface (date_trunc, dayofweek, date_format). The day
    column is emitted as a string so engine/oracle timestamp formats
    can't diverge; at scale this is the partition-key derivation for
    date-partitioned sinks."""
    return (
        events.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            F.dayofweek("ts").alias("dow"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


def user_activity_vs_customers(events: DataFrame, customer: DataFrame) -> DataFrame:
    """FULL OUTER join surface: reconcile the event-stream user ids
    against the customer dimension — rows for users with no customer
    record, customers with no events, and the matched middle.
    coalesce() over the two key columns gives the canonical id. One
    shuffle on each side's key; the aggregate-first shape keeps the
    outer join at one row per user rather than per event."""
    activity = events.groupBy("user_id").agg(F.count("*").alias("n_events"))
    return (
        activity.join(
            customer.select("c_custkey", "c_acctbal"),
            activity.user_id == F.col("c_custkey"),
            "full_outer",
        )
        .select(
            F.coalesce(F.col("user_id"), F.col("c_custkey")).alias("uid"),
            F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
            F.col("c_acctbal").isNotNull().alias("is_customer"),
        )
    )


def unpivot_pricing(lineitem: DataFrame) -> DataFrame:
    """UNPIVOT/melt surface: wide per-flag aggregates back to long
    (metric, value) rows — the inverse of pivot and the standard shape
    for metric stores. Spark's unpivot is a zero-shuffle Expand over
    the (tiny) aggregated input."""
    wide = lineitem.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 4).alias("sum_price"),
        F.round(
            F.sum(F.col("l_discount").cast("decimal(18,2)")).cast("double")
            / F.count("*"),
            4,
        ).alias("avg_disc"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "avg_disc"],
        variableColumnName="metric",
        valueColumnName="metric_value",
    )


def split_train_test(documents: DataFrame, test_hex_digits: int = 2) -> DataFrame:
    """Deterministic train/test split by content-independent key hash:
    a document lands in 'test' iff the first hex digit of md5(doc_id)
    falls in the first `test_hex_digits` of 16 (so 2 -> 1/8 held out).

    This is how a 100 TB corpus is split reproducibly: no sampling
    state, no shuffle, stable under re-runs and under adding/removing
    OTHER documents — each row's assignment depends only on its own
    key. (Spark's df.sample is seed-stable but partition-layout-
    dependent, which a reproducible pipeline must not be.)"""
    first_hex = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    test_digits = [format(i, "x") for i in range(test_hex_digits)]
    split = F.when(first_hex.isin(test_digits), "test").otherwise("train")
    return (
        documents.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


def anomaly_zscore(events: DataFrame, k: int = 100) -> DataFrame:
    """Per-type z-score outliers: standardize each event's value
    against its type's mean/stddev, return the top |z|. The stats side
    is a 5-row aggregate joined back by broadcast — the fact side never
    shuffles; top-k is TakeOrdered. This is the feature-normalization +
    outlier-gate pattern of a training-data pipeline (drop or flag
    events far outside their type's distribution)."""
    stats = events.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma")
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        events.join(F.broadcast(stats), "event_type")
        .select("event_id", "event_type", F.round(z, 4).alias("zscore"))
        .orderBy(F.abs(z).desc(), F.col("event_id"))
        .limit(k)
    )


def agg_mode_user(events: DataFrame) -> DataFrame:
    """Most-active user per event type (grouped mode). Two partial-agg
    shuffles — (type, user) counts, then an argmax struct per type; the
    struct max carries (count, -user_id) so count ties break to the
    SMALLEST user id deterministically on every engine, with no window
    sort."""
    counts = events.groupBy("event_type", "user_id").agg(F.count("*").alias("c"))
    return (
        counts.groupBy("event_type")
        .agg(
            F.max(F.struct(F.col("c"), (-F.col("user_id")).alias("neg_uid")))
            .alias("top")
        )
        .select("event_type", (-F.col("top.neg_uid")).alias("user_id"))
    )


def approx_percentiles(events: DataFrame, accuracy: int = 10000) -> DataFrame:
    """Sketch-based percentiles: the 100 TB form of agg_percentiles —
    percentile_approx builds mergeable quantile summaries in one pass
    (no per-group sort, bounded memory at any cardinality). No SQL
    oracle (estimates are engine-specific); pytest bounds the error
    against the exact percentiles."""
    return events.groupBy("event_type").agg(
        F.round(F.percentile_approx("value", 0.5, accuracy), 4).alias("p50"),
        F.round(F.percentile_approx("value", 0.95, accuracy), 4).alias("p95"),
    )


def volume_shipping(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    nation_a: str = "NATION_3",
    nation_b: str = "NATION_7",
) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by
    ship year — a 6-table join whose cross-side predicate is a
    DISJUNCTION over both nation legs.

    Plan shape for scale: both nation legs, supplier, and customer are
    broadcast (nation is pre-filtered to the two names before it ships,
    so the broadcast carries 2 rows); lineitem->orders is the only
    shuffle pair; the (supp, cust) disjunction evaluates as a residual
    on broadcast columns — no extra pass."""
    n1 = nation.filter(F.col("n_name").isin(nation_a, nation_b)).select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.filter(F.col("n_name").isin(nation_a, nation_b)).select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    supp = supplier.join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key")).select(
        "s_suppkey", "supp_nation"
    )
    cust = customer.join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key")).select(
        "c_custkey", "cust_nation"
    )
    cross_pair = (
        (F.col("supp_nation") == nation_a) & (F.col("cust_nation") == nation_b)
    ) | ((F.col("supp_nation") == nation_b) & (F.col("cust_nation") == nation_a))
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), lineitem.l_suppkey == supp.s_suppkey)
        .filter(cross_pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


def window_trailing_1h(events: DataFrame) -> DataFrame:
    """Value-based (RANGE) window frame: per-user trailing one-hour
    revenue at each event. The frame bound is on the ORDER BY value
    (epoch seconds), not row offsets — rows at the same timestamp share
    a frame, and the frame width adapts to event density. Same
    one-shuffle shape as any window; evaluation is incremental per
    partition."""
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, 0)
    )
    return events.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 4).alias("trailing_1h"),
    )


def window_first_last(events: DataFrame) -> DataFrame:
    """first/last/nth value navigation over an unbounded frame with a
    pinned total order — the remaining analytic-navigation surface
    (rank/offset/distribution are covered elsewhere). last_value needs
    the UNBOUNDED FOLLOWING frame on both engines (the default frame
    stops at CURRENT ROW)."""
    base = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w = base.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return events.select(
        "event_id",
        "user_id",
        F.first("value").over(w).alias("first_val"),
        F.last("value").over(w).alias("last_val"),
        F.nth_value("value", 2).over(w).alias("second_val"),
    )


def compact_latest_state(events: DataFrame) -> DataFrame:
    """Change-log compaction: reduce an append-only event log to the
    LATEST row per (user, type) key — the upsert/merge semantics a
    CDC pipeline applies before serving state, expressed as an argmax
    aggregate instead of a MERGE.

    One partial-agg shuffle carrying a single struct per key per task
    — strictly cheaper than the window row_number form (no sort, no
    full-row shuffle) and the struct ordering (ts, event_id, value)
    pins concurrent-timestamp ties to the highest event_id
    deterministically."""
    latest = F.max(
        F.struct(F.col("ts"), F.col("event_id"), F.col("value"))
    ).alias("s")
    return (
        events.groupBy("user_id", "event_type")
        .agg(latest)
        .select(
            "user_id",
            "event_type",
            F.col("s.event_id").alias("latest_event_id"),
            F.col("s.value").alias("latest_value"),
        )
    )


def agg_collect_types(events: DataFrame) -> DataFrame:
    """Array-building aggregation: the distinct event types seen per
    user as a SORTED array (collect_set is unordered by contract —
    sort_array pins the result deterministically on every engine).
    Partial aggregation merges per-task sets, so the shuffle carries
    sets, not events; at 100 TB cap per-key cardinality or switch to a
    sketch when the collected domain is unbounded."""
    return events.groupBy("user_id").agg(
        F.sort_array(F.collect_set("event_type")).alias("types"),
        F.count("*").alias("n_events"),
    )


def monthly_revenue_growth(orders: DataFrame) -> DataFrame:
    """Month-over-month revenue growth: calendar aggregate composed
    with an offset window — the canonical BI time series. The window
    runs over ~tens of month rows (a single in-memory partition AFTER
    the heavy aggregation), so the unpartitioned ORDER BY is safe by
    construction at any input scale."""
    monthly = orders.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month")
    ).agg(F.round(F.sum("o_totalprice"), 4).alias("revenue"))
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "month",
        "revenue",
        F.round(100.0 * (F.col("revenue") - prev) / prev, 4).alias("mom_pct"),
    )


def window_sliding_counts(events: DataFrame) -> DataFrame:
    """Sliding event-time windows (2-hour width, 1-hour slide): each
    event lands in width/slide overlapping windows — the overlap is
    what distinguishes this surface from tumbling windows. Spark plans
    it as an Expand (one output row per covering window) feeding the
    usual partial aggregation, so the shuffle carries window x type
    groups, not events."""
    return (
        events.groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def dormant_rich_customers(customer: DataFrame, orders: DataFrame, since: str = "1998-01-01") -> DataFrame:
    """TPC-H Q22 shape: positive-balance customers above the global
    average balance with NO recent orders — a global scalar subquery
    (broadcast 1-row threshold) composed with an anti join.

    The threshold is exact-decimal sum / count (double AVG is
    summation-order-dependent; a boundary balance must not flip
    between runs or engines). The anti join prunes the orders side to
    the date range BEFORE the join and AQE broadcasts the distinct
    key set when small."""
    threshold = customer.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
            / F.count("*")
        ).alias("avg_bal")
    )
    recent = orders.filter(F.col("o_orderdate") >= since).select("o_custkey")
    return (
        customer.join(F.broadcast(threshold))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, customer.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_custs"),
            F.round(F.sum("c_acctbal"), 4).alias("total_bal"),
        )
    )


def user_event_timeline(events: DataFrame, first_n: int = 5) -> DataFrame:
    """Ordered event-sequence feature: each user's first n events as a
    compact "epoch_us:type" string — the sequence-feature shape an ML
    pipeline feeds to sequence models. collect_list of (ts, id, type)
    structs + sort_array + slice does the ordered-prefix selection
    INSIDE the aggregation (struct ordering gives the total order), so
    there is no window sort and no second shuffle — one partial-agg
    pass, with per-key state bounded by the collected prefix."""
    ev = F.struct(
        F.unix_micros(F.col("ts")).alias("us"),
        F.col("event_id"),
        F.col("event_type"),
    )
    first = F.slice(F.sort_array(F.collect_list(ev)), 1, first_n)
    return events.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                first, lambda s: F.concat_ws(":", s["us"], s["event_type"])
            ),
            ",",
        ).alias("timeline")
    )


def agg_correlation(lineitem: DataFrame) -> DataFrame:
    """Bivariate statistics per group: Pearson correlation + sample
    covariance — single-pass mergeable moments (Spark aggregates
    (n, Σx, Σy, Σxy, Σx², Σy²) partially map-side like any sum)."""
    return lineitem.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
            "qty_price_covar"
        ),
    )


def funnel_counts(events: DataFrame, step_window: str = "24 hours") -> DataFrame:
    """Ordered three-stage funnel (click -> view -> purchase), each
    step within `step_window` of the previous step's FIRST occurrence:
    the sequence-matching analytic behind conversion reporting.

    Plan shape: each stage is one filtered min-aggregate keyed on
    user (partial agg; shuffle carries one row per user), then the
    stage joins equi on user_id. Stage outputs only ever shrink, so
    the pipeline narrows monotonically; final counts are three
    scalar aggregates combined with a join of 1-row frames."""
    iv = F.expr(f"INTERVAL {step_window}")
    clicks = (
        events.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("ct"))
    )
    views = (
        events.filter(F.col("event_type") == "view")
        .join(clicks, "user_id")
        .filter((F.col("ts") > F.col("ct")) & (F.col("ts") <= F.col("ct") + iv))
        .groupBy("user_id")
        .agg(F.min("ts").alias("vt"))
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .join(views, "user_id")
        .filter((F.col("ts") > F.col("vt")) & (F.col("ts") <= F.col("vt") + iv))
        .groupBy("user_id")
        .agg(F.min("ts").alias("pt"))
    )
    return (
        clicks.agg(F.count("*").alias("n_click"))
        .join(views.agg(F.count("*").alias("n_click_view")))
        .join(purchases.agg(F.count("*").alias("n_click_view_purchase")))
    )


def order_priority_counts(
    orders: DataFrame,
    lineitem: DataFrame,
    start: str = "1997-01-01",
    end: str = "1997-04-01",
    lag_days: int = 60,
) -> DataFrame:
    """TPC-H Q4 shape: orders in a quarter that had at least one
    slow-shipping line (shipped more than `lag_days` after the order
    date), counted by priority. The reference schema has no
    l_commitdate/l_receiptdate, so the lateness predicate is
    l_shipdate > o_orderdate + lag — same EXISTS-with-residual shape.

    Plan shape: the quarter filter prunes orders BEFORE the join (at
    100 TB with date-partitioned orders this is partition pruning, not
    a scan), then lineitem streams against the small quarter side —
    AQE broadcasts it, so the fact table never sorts or shuffles in
    full (the naive left_semi formulation sort-merges ALL of lineitem:
    7x slower on the 50x probe). EXISTS semantics come back via
    distinct on (orderkey, priority) — only matched pairs shuffle.
    The non-equi residual rides on the equi orderkey join, so it
    stays a hash join, never a cartesian."""
    window = orders.filter(
        (F.col("o_orderdate") >= start) & (F.col("o_orderdate") < end)
    )
    # Derived scan bound Catalyst can't infer through the non-equi
    # condition: every qualifying line ships > window-start + lag, so
    # push that constant onto lineitem (parquet min/max file skipping).
    # 50x probe: 18s -> join reads only the post-bound tail.
    lines = lineitem.filter(
        F.col("l_shipdate") > F.lit(start).cast("timestamp") + F.expr(f"INTERVAL {lag_days} DAYS")
    )
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr(f"INTERVAL {lag_days} DAYS")
    )
    hits = (
        lines.join(
            window.select("o_orderkey", "o_orderdate", "o_orderpriority"), cond
        )
        .select("o_orderkey", "o_orderpriority")
        .distinct()
    )
    return (
        hits.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


def market_share(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    part: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    target_nation: str = "NATION_3",
    target_region: str = "ASIA",
    part_type: str = "PROMO",
) -> DataFrame:
    """TPC-H Q8 shape: the target nation's share of revenue for one
    part type sold into one region, per order year. Share is a ratio
    of two conditional sums over the same joined set — one pass, no
    self-join.

    Plan shape: every dimension (part filtered by type, supplier+
    nation, customer+nation+region) is broadcast, so the fact
    lineitem never shuffles for the joins; the most selective filter
    (part type) is applied first so the fact side collapses at the
    scan join. The single groupBy(year) is the only shuffle, with
    map-side partial sums. Exact decimal sums; the double division
    happens once per year row."""
    target_part = part.filter(F.col("p_type") == part_type).select("p_partkey")
    supp_nation = supplier.join(
        nation, supplier.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    cust_region = (
        customer.join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == target_region)
        .select("c_custkey")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        lineitem.join(F.broadcast(target_part), lineitem.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(supp_nation), lineitem.l_suppkey == F.col("s_suppkey"))
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust_region), orders.o_custkey == F.col("c_custkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            vol.cast("decimal(18,4)").alias("volume"),
            F.col("supp_nation"),
        )
    )
    target_vol = F.sum(
        F.when(F.col("supp_nation") == target_nation, F.col("volume")).otherwise(
            F.lit(0).cast("decimal(18,4)")
        )
    )
    return (
        joined.groupBy("o_year")
        .agg(
            F.round((target_vol / F.sum("volume")).cast("double"), 6).alias("mkt_share")
        )
        .orderBy("o_year")
    )


def customer_order_distribution(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """TPC-H Q13 shape: how many customers placed exactly N orders,
    including N=0 — a left outer join whose NULL side must survive
    into the count, then a second aggregation over the first.

    Plan shape: two shuffles by construction (custkey, then c_count)
    — the classic two-level distribution. count(o_orderkey) (not
    count(*)) makes no-order customers count 0. At 100 TB the first
    agg is the heavy one and gets full map-side partial aggregation;
    the second input is one row per customer."""
    per_cust = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def small_quantity_revenue(
    lineitem: DataFrame, part: DataFrame, brand: str = "Brand#3", frac: float = 0.2
) -> DataFrame:
    """TPC-H Q17 shape: average yearly revenue lost if small-quantity
    orders (below `frac` of the part's average quantity) for one brand
    were not filled. The correlated per-part AVG subquery is
    decorrelated into an aggregate-then-join.

    Plan shape: the brand filter lands on broadcast part FIRST, so
    both the per-part average and the final join scan only the brand's
    lineitems (at 100 TB: ~1/25 of the fact). The per-part avg frame
    is one row per surviving part — broadcast back, so the only
    shuffle of fact data is the partial-agg for avg."""
    brand_parts = part.filter(F.col("p_brand") == brand).select("p_partkey")
    brand_lines = lineitem.join(
        F.broadcast(brand_parts), lineitem.l_partkey == F.col("p_partkey")
    )
    per_part_avg = brand_lines.groupBy("l_partkey").agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        brand_lines.join(
            F.broadcast(per_part_avg.withColumnRenamed("l_partkey", "ap_partkey")),
            F.col("l_partkey") == F.col("ap_partkey"),
        )
        .filter(F.col("l_quantity") < frac * F.col("avg_qty"))
        .agg(
            F.round(
                (F.sum(F.col("l_extendedprice").cast("decimal(18,2)")) / 7.0).cast(
                    "double"
                ),
                4,
            ).alias("avg_yearly")
        )
    )


def priority_line_counts(
    orders: DataFrame, lineitem: DataFrame, year: int = 1997
) -> DataFrame:
    """TPC-H Q12 shape: per line status, how many lines belong to
    urgent/high-priority orders vs the rest, for one ship year. (The
    reference schema has no l_shipmode; l_linestatus is the stand-in
    group key — the conditional-aggregation-after-join shape is
    identical.)

    Plan shape: the year filter prunes lineitem at the scan
    (min/max row-group skipping), then lines pre-aggregate to one
    row per (orderkey, linestatus) BEFORE the join — the orderkey
    shuffle carries order-count rows, not line-count rows (~30%
    faster at the 50x probe), and the final CASE sums weight by the
    carried n_lines. Both aggs are map-side partial."""
    lines = (
        lineitem.filter(F.year("l_shipdate") == year)
        .groupBy("l_orderkey", "l_linestatus")
        .agg(F.count("*").alias("n_lines"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        lines.join(orders, lines.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, F.col("n_lines")).otherwise(0)).alias(
                "high_line_count"
            ),
            F.sum(F.when(high, 0).otherwise(F.col("n_lines"))).alias(
                "low_line_count"
            ),
        )
        .orderBy("l_linestatus")
    )


def sessionize_batch(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Batch gaps-and-islands sessionization: a new session starts
    when the gap since the user's previous event exceeds
    `gap_minutes`. Returns per-user session stats (count, busiest
    session, total events) — the batch twin of
    streaming/sessionize.py's stateful operator.

    Plan shape: ONE shuffle on user_id serves both window passes
    (lag and the running session-id sum share the same partition
    key), then the two aggregations reuse that clustering. No
    self-join — the lag/cumsum formulation is O(n) per partition.
    At 100 TB, user_id is the natural partition key and skewed
    power-users are bounded by the per-user event count, not the
    global row count."""
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(by_user)
    new_session = F.when(
        gap.isNull() | (gap > gap_minutes * 60), F.lit(1)
    ).otherwise(F.lit(0))
    with_session = events.withColumn(
        "session_id", F.sum(new_session).over(by_user)
    )
    per_session = with_session.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events")
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
            F.sum("n_events").alias("total_events"),
        )
        .orderBy("user_id")
    )


def skew_profile(events: DataFrame, k: int = 10) -> DataFrame:
    """Heavy-hitter diagnostic: the k hottest group keys and their
    share of all rows — the first thing to run before choosing a
    partition/salting strategy on a new 100 TB dataset (a key with
    5% share will straggle any hash-partitioned agg or join).

    Plan shape: one partial-agg shuffle on user_id, a 1-row broadcast
    total, and a TakeOrdered(k) — never a global sort."""
    counts = events.groupBy("user_id").agg(F.count("*").alias("n_events"))
    total = counts.agg(F.sum("n_events").alias("total"))
    return (
        counts.join(F.broadcast(total))
        .select(
            "user_id",
            "n_events",
            F.round(F.col("n_events") / F.col("total"), 6).alias("share"),
        )
        .orderBy(F.desc("n_events"), "user_id")
        .limit(k)
    )


def rolling_active_users(events: DataFrame, window_days: int = 7) -> DataFrame:
    """Trailing-N-day distinct active users per day — the windowed
    COUNT(DISTINCT) that tumbling windows can't express (a user active
    on 5 of the 7 days must count once per covered day, not 5 times).

    Plan shape: the fact table collapses to DISTINCT (day, user)
    pairs FIRST (at 100 TB: billions of events -> at most
    days x users pairs, with map-side partial dedup), then a small
    range join fans each pair to the <=N days it covers and a
    count-distinct per day finishes. The expensive part is the
    pre-dedup, which is a single exchange; the range join is over
    the already-tiny pair set."""
    day_user = events.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    days = day_user.select("day").distinct()
    d, u = days.alias("d"), day_user.alias("u")
    cond = (F.col("u.day") <= F.col("d.day")) & (
        F.col("u.day") >= F.date_sub(F.col("d.day"), window_days - 1)
    )
    return (
        d.join(u, cond)
        .groupBy(F.date_format(F.col("d.day"), "yyyy-MM-dd").alias("day"))
        .agg(F.count_distinct("user_id").alias("active_users"))
        .orderBy("day")
    )


def product_profit(
    lineitem: DataFrame,
    orders: DataFrame,
    supplier: DataFrame,
    part: DataFrame,
    nation: DataFrame,
    name_substr: str = "gear",
) -> DataFrame:
    """TPC-H Q9 shape: profit per supplier nation per order year for
    parts whose name contains a substring. The reference schema has no
    partsupp, so unit cost is proxied by p_retailprice — the join
    topology and agg shape are Q9's.

    Plan shape: part (name-filtered) and supplier->nation broadcast;
    orders is the one shuffled join (orderkey); single groupBy
    (nation, year) with map-side partials over exact decimals."""
    target_parts = part.filter(F.col("p_name").contains(name_substr)).select(
        "p_partkey", "p_retailprice"
    )
    supp_nation = supplier.join(
        nation, supplier.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("nation"))
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity")
    ).cast("decimal(18,4)")
    return (
        lineitem.join(F.broadcast(target_parts), lineitem.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(supp_nation), lineitem.l_suppkey == F.col("s_suppkey"))
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(amount).cast("double"), 4).alias("profit"))
        .orderBy("nation", F.desc("o_year"))
    )


def top_supplier_revenue(
    lineitem: DataFrame,
    supplier: DataFrame,
    start: str = "1996-01-01",
    end: str = "1996-04-01",
) -> DataFrame:
    """TPC-H Q15 shape: per-supplier revenue over one quarter, keeping
    the supplier(s) that hit the global maximum (reference Q15 phrases
    this as a view + scalar subquery; ties all survive).

    Plan shape: the quarter filter is pushed into the parquet scan;
    the only lineitem-sized shuffle is the suppkey aggregation (map-
    side partials shrink it to |supplier| rows). The global max is a
    one-row aggregate cross-joined back (broadcast nested loop), and
    the supplier name join broadcasts — nothing after the first agg
    touches more than |supplier| rows, so the shape survives 1000x.
    The max-equality comparison runs on the exact DECIMAL sum, not a
    rounded double, so ties are exact on both engines.

    The global max is a WINDOW over the aggregated table, not a
    scalar-subquery join: the subquery form makes Catalyst recompute
    the revenue subtree (two full fact scans — double IO at 100 TB),
    while the unpartitioned window funnels only the post-agg
    |supplier|-row table through one task."""
    from pyspark.sql.window import Window

    amount = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    revenue = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(start)) & (F.col("l_shipdate") < F.lit(end))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(amount).alias("total_revenue"))
    )
    max_rev = F.max("total_revenue").over(Window.partitionBy())
    return (
        revenue.withColumn("max_revenue", max_rev)
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("total_revenue").cast("double"), 4).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


def sample_stratified(
    documents: DataFrame,
    rates: dict[str, float] | None = None,
    default_rate: float = 1.0,
) -> DataFrame:
    """Deterministic stratified downsampling: each stratum (language)
    keeps a fixed fraction of documents, chosen by a content-
    independent key hash — the rebalancing step that turns a raw
    crawl's language skew into a target training mixture.

    A doc survives iff the first 4 hex digits of md5(doc_id), read as
    an int in [0, 65536), fall below rate * 65536. Like
    split_train_test, the decision is a pure function of the row's own
    key: no sampling state, no shuffle, reproducible under re-runs and
    insensitive to every other row — which df.sample(seed) is not
    (partition-layout-dependent). At 100 TB this is a narrow map-only
    scan; the filter is codegen'd (md5 + conv), no UDF."""
    if rates is None:
        rates = {"en": 0.25, "zh": 0.5}
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("long")
    threshold = F.lit(int(default_rate * 65536))
    for lang, rate in sorted(rates.items()):
        threshold = F.when(F.col("lang") == lang, int(rate * 65536)).otherwise(
            threshold
        )
    return (
        documents.filter(bucket < threshold)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


def waiting_suppliers(
    lineitem: DataFrame, supplier: DataFrame, k: int = 10
) -> DataFrame:
    """TPC-H Q21 shape adapted to the reduced schema (no
    l_receiptdate/l_commitdate): for multi-supplier orders, count per
    supplier how often it was the UNIQUE last shipper — the
    "everyone else was done, this supplier kept the order waiting"
    signal. Q21's double-correlated EXISTS / NOT EXISTS self-joins
    (reference formulation) collapse into one pass of per-order
    window aggregates: 'another supplier exists' = distinct-supplier
    count > 1; 'no OTHER supplier shipped later or tied' = this
    line's supplier max equals the order max and the max is unique
    to one supplier.

    Plan shape: ONE shuffle. The narrow 3-column fact projection is
    hash-partitioned on orderkey once; every later grouping key —
    (orderkey, suppkey), (orderkey, last-date), orderkey — is
    orderkey-prefixed, so HashPartitioning(orderkey) satisfies all
    their clustering requirements and the whole three-level
    aggregation cascade runs exchange-free and sort-free on top of
    it (50x probe: 14s vs 23s for an orderkey window with its
    fact-scale sort, 31s for per-agg shuffles). The tie count rides
    along as the per-date group size, and max_by over the date picks
    the lone culprit without ordering rows within an order. Supplier
    names broadcast; final top-k is TakeOrderedAndProject."""
    per_supp = (
        lineitem.select("l_orderkey", "l_suppkey", "l_shipdate")
        .repartition("l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("l_shipdate").alias("supp_last"))
    )
    # suppliers per (order, exact last-date): group size = tie count at
    # that date; min() is THE supplier whenever that size is 1
    per_date = per_supp.groupBy("l_orderkey", "supp_last").agg(
        F.count("*").alias("n_at_date"),
        F.min("l_suppkey").alias("lone_supp"),
    )
    per_order = per_date.groupBy("l_orderkey").agg(
        F.sum("n_at_date").alias("n_supps"),
        F.max_by(F.struct("n_at_date", "lone_supp"), F.col("supp_last")).alias("top"),
    )
    culprits = (
        per_order.filter((F.col("n_supps") > 1) & (F.col("top.n_at_date") == 1))
        .groupBy(F.col("top.lone_supp").alias("l_suppkey"))
        .agg(F.count("*").alias("numwait"))
    )
    return (
        culprits.join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_suppkey")
        .limit(k)
    )


def source_mixture_weights(documents: DataFrame) -> DataFrame:
    """The mixing plan for corpus rebalancing: per-source token-mass
    shares and the sampling weight that would flatten the mixture to
    uniform (weight = target_share / actual_share, capped at 1 so no
    source is upsampled). Feeding these weights into
    sample_stratified-style key-hash gates is how a 100 TB crawl is
    reshaped to a target domain mixture without a shuffle.

    Plan shape: one partial-aggregated shuffle of |sources| rows;
    the global total is a window over the post-agg table (same
    single-scan rationale as top_supplier_revenue)."""
    from pyspark.sql.window import Window

    per_source = documents.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )
    w = Window.partitionBy()
    share = F.col("total_chars") / F.sum("total_chars").over(w)
    target = 1.0 / F.count("*").over(w)
    return (
        per_source.withColumn("share", share)
        .withColumn("weight", F.least(F.lit(1.0), target / F.col("share")))
        .select(
            "source",
            "n_docs",
            "total_chars",
            F.round("share", 6).alias("share"),
            F.round("weight", 6).alias("weight"),
        )
        .orderBy("source")
    )


def reservoir_per_key(
    documents: DataFrame, k: int = 5, key: str = "source"
) -> DataFrame:
    """Deterministic per-group k-sample: within each group, rank rows
    by a content-independent key hash and keep the first k — a
    reproducible 'uniformly random but stable' pick, the standard
    eval-set / spot-check constructor. Unlike reservoir sampling
    with RNG state, membership is a pure function of (doc_id, k):
    re-runs, partition layout, and unrelated inserts don't disturb
    picks that remain in the top k.

    Plan shape: one shuffle on the group key; rank cutoff applies
    per partition. With heavy skew the groupBy+slice(sort_array)
    form bounds memory, but k is small so the window is cheap."""
    from pyspark.sql.window import Window

    hash_order = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy(key).orderBy(hash_order, "doc_id")
    return (
        documents.withColumn("pick", F.row_number().over(w).cast("int"))
        .filter(F.col("pick") <= k)
        .select(key, "pick", "doc_id", "lang", "n_chars")
        .orderBy(key, "pick")
    )


def min_cost_supplier(
    lineitem: DataFrame,
    supplier: DataFrame,
    part: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    size: int = 15,
    type_suffix: str = "ANDARD",
    region_name: str = "EUROPE",
) -> DataFrame:
    """TPC-H Q2 shape: for each part of one size/type, the supplier in
    one region offering the minimum cost, where cost stands in as the
    supplier's cheapest observed line price for that part (the driver
    schema has no partsupp table). The correlated MIN subquery is
    decorrelated: per-(part, supplier) cost agg -> per-part min ->
    join back to keep only min-achieving suppliers.

    Plan shape: part/supplier/nation/region are all broadcast, so the
    only fact shuffle is the (partkey, suppkey) partial agg — and the
    part/region filters land BEFORE it, so at 100 TB the agg input is
    the filtered sliver, not the whole fact. The per-part min is a
    window over the already-aggregated frame: no second fact scan and
    no self-join of lineitem."""
    region_nations = (
        nation.join(
            F.broadcast(region.filter(F.col("r_name") == region_name)),
            nation.n_regionkey == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    region_suppliers = supplier.join(
        F.broadcast(region_nations), supplier.s_nationkey == F.col("n_nationkey")
    ).select("s_suppkey", "s_name", "s_acctbal", "n_name")
    wanted_parts = part.filter(
        (F.col("p_size") == size) & F.col("p_type").endswith(type_suffix)
    ).select("p_partkey", "p_brand", "p_type")
    costs = (
        lineitem.join(F.broadcast(wanted_parts), lineitem.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(region_suppliers), lineitem.l_suppkey == F.col("s_suppkey"))
        .groupBy("p_partkey", "p_brand", "p_type", "s_suppkey", "s_name", "s_acctbal", "n_name")
        .agg(F.min(F.col("l_extendedprice").cast("decimal(18,2)")).alias("supply_cost"))
    )
    w = Window.partitionBy("p_partkey")
    return (
        costs.withColumn("min_cost", F.min("supply_cost").over(w))
        .filter(F.col("supply_cost") == F.col("min_cost"))
        .select(
            F.round(F.col("s_acctbal"), 2).alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
            F.col("supply_cost").cast("double").alias("supply_cost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


def important_stock(
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    nation_name: str = "NATION_3",
    factor: float = 2.0,
) -> DataFrame:
    """TPC-H Q11 shape: parts whose shipped value via one nation's
    suppliers exceeds `factor` times the nation's MEAN per-part value
    (value = sum of line extended prices; the driver schema has no
    partsupp availqty/supplycost). Q11's fixed fraction-of-total cut
    is scaled by 1/SF in the spec; a mean-relative cut keeps the
    global-scalar-subquery shape while staying scale-free — the
    qualifying share of parts is stable as the corpus grows.

    Plan shape: the nation's suppliers broadcast into the fact scan,
    so only that nation's lines (~1/25) survive to the partkey agg —
    ONE fact shuffle. The global total is a window over the per-part
    aggregate (rows = |parts|), not a second scan; exact decimal sums
    keep the threshold comparison hash-stable."""
    nat_suppliers = (
        supplier.join(
            F.broadcast(nation.filter(F.col("n_name") == nation_name)),
            supplier.s_nationkey == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    per_part = (
        lineitem.join(F.broadcast(nat_suppliers), lineitem.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("part_value"))
    )
    w = Window.partitionBy()
    mean_value = F.sum("part_value").over(w) / F.count("*").over(w)
    return (
        per_part.withColumn("threshold", mean_value * F.lit(factor))
        .filter(F.col("part_value") > F.col("threshold"))
        .select(
            "l_partkey",
            F.col("part_value").cast("double").alias("part_value"),
        )
        .orderBy(F.desc("part_value"), "l_partkey")
    )


def supplier_part_counts(
    lineitem: DataFrame,
    supplier: DataFrame,
    part: DataFrame,
    excluded_brand: str = "Brand#4",
    type_prefix: str = "SMALL",
    sizes: tuple[int, ...] = (1, 4, 7, 10, 13, 16, 19, 22),
) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers can ship each
    (brand, type, size) combination, excluding one brand, one type
    prefix, and blacklisted suppliers (a low account balance (<1500) stands
    in for Q16's complaint-comment filter; the part<->supplier link is
    lineitem, as the driver schema has no partsupp).

    Plan shape: the supplier blacklist is an anti join against a
    broadcast few-row frame — no shuffle. Part filters broadcast into
    the fact scan, then one distinct-agg shuffle on (brand, type,
    size, suppkey) with map-side partial dedup; the final per-cell
    count reuses that clustering."""
    wanted_parts = part.filter(
        (F.col("p_brand") != excluded_brand)
        & ~F.col("p_type").startswith(type_prefix)
        & F.col("p_size").isin(*sizes)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    blacklist = supplier.filter(F.col("s_acctbal") < 1500).select("s_suppkey")
    return (
        lineitem.join(F.broadcast(wanted_parts), lineitem.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(blacklist), lineitem.l_suppkey == blacklist.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


def excess_inventory_suppliers(
    lineitem: DataFrame,
    supplier: DataFrame,
    part: DataFrame,
    nation: DataFrame,
    name_prefix: str = "blue",
    year: int = 1997,
    nation_name: str = "NATION_3",
    share: float = 0.5,
) -> DataFrame:
    """TPC-H Q20 shape: suppliers in one nation who dominate the
    supply of name-prefix parts — shipped more than `share` of a
    part's total quantity in one year (the availqty>half-of-shipped
    predicate re-expressed over lineitem, absent partsupp).

    Plan shape: Q20's nested IN subqueries decorrelate into one
    (partkey, suppkey) agg of the prefix-part year sliver, a per-part
    total as a window OVER that aggregate (no second fact scan), and
    a final semi join into broadcast nation suppliers. One fact
    shuffle total; the dominance filter runs on the small aggregate
    frame."""
    prefix_parts = part.filter(F.col("p_name").startswith(name_prefix)).select(
        "p_partkey"
    )
    shipped = (
        lineitem.filter(F.year("l_shipdate") == year)
        .join(F.broadcast(prefix_parts), lineitem.l_partkey == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("supp_qty"))
    )
    part_total = F.sum("supp_qty").over(Window.partitionBy("l_partkey"))
    dominant = (
        shipped.withColumn("part_qty", part_total)
        .filter(F.col("supp_qty") > F.lit(share) * F.col("part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    nat_suppliers = supplier.join(
        F.broadcast(nation.filter(F.col("n_name") == nation_name)),
        supplier.s_nationkey == F.col("n_nationkey"),
    )
    return (
        nat_suppliers.join(
            dominant, nat_suppliers.s_suppkey == dominant.l_suppkey, "left_semi"
        )
        .select("s_name", F.round("s_acctbal", 2).alias("s_acctbal"))
        .orderBy("s_name")
    )


def apply_mixture_weights(documents: DataFrame) -> DataFrame:
    """Applies the source_mixture_weights plan: deterministically
    downsample each source by its flattening weight, keeping a doc iff
    the first 4 hex digits of md5(doc_id) fall below weight*65536 —
    the same content-independent gate as sample_stratified, but with
    the rate COMPUTED from the corpus (weight = target_share /
    actual_share, capped at 1) instead of given. Together the two ops
    close the loop: plan the mixture, then execute it reproducibly.

    Plan shape: the weights frame is |sources| rows — broadcast back
    into a map-only filtered scan. The only shuffle is the tiny
    per-source aggregate; the gate itself is codegen'd md5+conv, no
    UDF, no sampling state, stable under re-runs and partition
    layout."""
    per_source = documents.groupBy("source").agg(
        F.sum("n_chars").alias("total_chars")
    )
    w = Window.partitionBy()
    share = F.col("total_chars") / F.sum("total_chars").over(w)
    target = 1.0 / F.count("*").over(w)
    weights = per_source.select(
        F.col("source").alias("w_source"),
        F.least(F.lit(1.0), target / share).alias("weight"),
    )
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("long")
    return (
        documents.join(F.broadcast(weights), F.col("source") == F.col("w_source"))
        .filter(bucket < F.floor(F.col("weight") * 65536))
        .select("doc_id", "source", "lang", "n_chars")
        .orderBy("doc_id")
    )


def priority_mix_shift(
    orders: DataFrame, year_a: int = 1995, year_b: int = 1996
) -> DataFrame:
    """Bag-semantics set difference: the multiset of order priorities
    placed in year A EXCEPT ALL year B — surviving multiplicity =
    how many MORE orders of each priority year A had. Distinct-set
    EXCEPT would erase the counts; exceptAll is its own physical
    operator (Spark rewrites it to a +1/-1 counted union + aggregate
    + generate), which this query pins alongside the distinct set ops.

    Plan shape: the rewrite is two scans unioned into ONE partial-agg
    shuffle keyed by the 5 priority values, then replicate — no join.
    The trailing count-by-priority collapses the replication, so the
    result is bounded by |priorities| at any scale."""
    a = orders.filter(F.year("o_orderdate") == year_a).select("o_orderpriority")
    b = orders.filter(F.year("o_orderdate") == year_b).select("o_orderpriority")
    return (
        a.exceptAll(b)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("surplus"))
        .orderBy("o_orderpriority")
    )


def props_map_stats(events: DataFrame) -> DataFrame:
    """Semi-structured map surface: parse the JSON `props` payload as
    MapType(string, long) — NOT a fixed struct, so unknown keys
    survive — then explode to (key, value) and aggregate per key.
    This is the schema-drift-tolerant census a pipeline runs before
    promoting loose JSON into typed columns (json_props_extract is
    the typed follow-up).

    Plan shape: from_json + explode are map-side; the per-key agg is
    one partial-agg shuffle bounded by |distinct keys|."""
    kv = events.select(
        F.explode(F.from_json(F.col("props"), "map<string,bigint>")).alias(
            "prop_key", "v"
        )
    )
    return (
        kv.groupBy("prop_key")
        .agg(
            F.count("*").alias("n"),
            F.min("v").alias("vmin"),
            F.max("v").alias("vmax"),
            F.sum("v").alias("vsum"),
        )
        .orderBy("prop_key")
    )


def gap_fill_locf(events: DataFrame) -> DataFrame:
    """Time-series gap filling (hypertable-style): roll events up to
    per-user hourly buckets, densify each user's series over its own
    [first, last] hour via sequence()+explode, and carry the last
    observed hourly value forward (LOCF) through the gaps — the
    standard regularization before downstream window features.

    Plan shape: the rollup is one partial-agg shuffle to (user, hour);
    spans reuse that frame (tiny second agg). The grid explode happens
    AFTER aggregation — sequence() emits hours-per-user rows, never
    raw events — and the left join + LOCF window share the user_id
    clustering, so AQE plans one more shuffle at most. Row count is
    bounded by users x span-hours regardless of event volume."""
    hourly = events.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
    spans = hourly.groupBy("user_id").agg(
        F.min("hour").alias("h0"), F.max("hour").alias("h1")
    )
    grid = spans.select(
        "user_id",
        F.explode(F.sequence("h0", "h1", F.expr("interval 1 hour"))).alias("hour"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(hourly, ["user_id", "hour"], "left")
        .select(
            "user_id",
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
            F.round(F.last("sum_value", ignorenulls=True).over(w), 4).alias(
                "filled_value"
            ),
        )
        .orderBy("user_id", "hour")
    )


def top_k_per_group_agg(events: DataFrame, k: int = 3) -> DataFrame:
    """Per-group top-k WITHOUT a window sort: aggregate each group's
    (count, user) pairs into an array, sort_array + slice the top k —
    the aggregate-form twin of window_rank's row_number()<=k. For
    k=1 max_by is cheaper (agg_minmax_by); for small k over bounded
    per-group cardinality this form skips the per-partition global
    sort a window imposes. Caveat that keeps it honest at 100 TB:
    collect_list gathers O(|users per group|) per group — for
    unbounded groups use the window form instead.

    Plan shape: two chained partial-agg shuffles ((type,user) then
    type); posexplode of a k-element array is trivial."""
    counts = events.groupBy("event_type", "user_id").agg(
        F.count("*").alias("cnt")
    )
    packed = counts.groupBy("event_type").agg(
        F.slice(
            F.sort_array(
                F.collect_list(F.struct(F.col("cnt"), F.col("user_id"))), asc=False
            ),
            1,
            k,
        ).alias("top")
    )
    return (
        packed.select(
            "event_type", F.posexplode("top").alias("pos", "entry")
        )
        .select(
            "event_type",
            (F.col("pos") + 1).cast("int").alias("rank"),
            F.col("entry.user_id").alias("user_id"),
            F.col("entry.cnt").alias("n_events"),
        )
        .orderBy("event_type", "rank")
    )


def bucketed_order_revenue(
    orders: DataFrame, lineitem: DataFrame, n_buckets: int = 8
) -> DataFrame:
    """Shuffle-free fact-to-fact join via bucketed storage: both sides
    are written bucketBy(orderkey) + sortBy into the warehouse, read
    back, and joined — the physical plan has ZERO Exchange operators
    on the join (buckets align), which is THE storage-layout lever for
    repeated 100 TB fact joins: pay the shuffle once at write time,
    never at query time.

    The write is part of the operator on purpose (like
    sink_parquet_partitioned): a layout decision is engine surface,
    and re-bucketing is idempotent. Output is the per-priority revenue
    rollup of the joined sides, so the result is small and oracle-able
    while the join itself runs over the full fact tables."""
    spark = orders.sparkSession
    import shutil

    for name, df, key in (
        ("bkt_orders", orders.select("o_orderkey", "o_orderpriority"), "o_orderkey"),
        (
            "bkt_lineitem",
            lineitem.select("l_orderkey", "l_extendedprice", "l_discount"),
            "l_orderkey",
        ),
    ):
        # external-table path pins storage to /tmp on ANY session (the
        # driver's warehouse dir may not be writable / may be the repo);
        # the in-memory catalog forgets tables across sessions but the
        # path persists, so clear both before rewriting
        path = scratch(f"ksr_bucketed/{name}")
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(path, ignore_errors=True)
        (
            # repartition on the bucket key BEFORE the write: bucketBy
            # does not repartition, so write parallelism (and the
            # per-task sort size) would otherwise be pinned to the
            # source file count — 25x slower on the 50x probe, where
            # the fact arrives as 3 files. This shuffle is the one-time
            # write cost the co-located read amortizes away.
            df.repartition(int(spark.conf.get("spark.sql.shuffle.partitions")), F.col(key))
            .write.bucketBy(n_buckets, key)
            .sortBy(key)
            .option("path", path)
            .mode("overwrite")
            .saveAsTable(name)
        )
    b_orders = spark.table("bkt_orders")
    b_lineitem = spark.table("bkt_lineitem")
    return (
        b_lineitem.join(
            b_orders.hint("merge"), b_lineitem.l_orderkey == b_orders.o_orderkey
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


def profile_columns(
    events: DataFrame, cols: tuple[str, ...] = ("event_id", "user_id", "event_type", "value")
) -> DataFrame:
    """Generic table profiling (deequ/DESCRIBE-style): one output row
    per column with null count, exact distinct count, and min/max
    rendered as strings — the first query a pipeline runs against an
    unfamiliar 100 TB table before writing real queries against it.

    Plan shape: one aggregation pass computes every per-column metric
    simultaneously (a single 1-row-per-partition shuffle); the
    row-per-column shape comes from stacking the already-aggregated
    scalars, NOT from scanning per column. Exact distincts share the
    pass via Spark's multi-count_distinct Expand; swap in
    approx_count_distinct when a 2% error is acceptable to drop the
    Expand factor."""
    aggs = []
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.count_distinct(F.col(c)).alias(f"{c}__distinct"),
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    one = events.agg(F.count("*").alias("__n"), *aggs)
    stacked = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col_name"),
                        F.col("__n").alias("n_rows"),
                        F.col(f"{c}__nulls").alias("n_nulls"),
                        F.col(f"{c}__distinct").alias("n_distinct"),
                        F.col(f"{c}__min").alias("min_str"),
                        F.col(f"{c}__max").alias("max_str"),
                    )
                    for c in cols
                ]
            )
        ).alias("p")
    )
    return stacked.select("p.*").orderBy("col_name")


def snapshot_old(orders: DataFrame) -> DataFrame:
    """Deterministic 'yesterday' snapshot of orders for snapshot_diff:
    drops keys ending in 3 (those become inserts in the new snapshot)."""
    return orders.filter(F.col("o_orderkey") % 10 != 3).select(
        "o_orderkey", F.col("o_totalprice").alias("price")
    )


def snapshot_new(orders: DataFrame) -> DataFrame:
    """Deterministic 'today' snapshot: drops keys ending in 7 (deletes)
    and bumps every fifth key's price by 10% (updates)."""
    return orders.filter(F.col("o_orderkey") % 10 != 7).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") * 1.1)
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
    )


def snapshot_diff(
    old: DataFrame, new: DataFrame, key: str = "o_orderkey", compare: tuple[str, ...] = ("price",)
) -> DataFrame:
    """CDC between two table snapshots: emit one row per inserted,
    deleted, or value-changed key — the diff a pipeline feeds into an
    incremental downstream refresh instead of reprocessing 100 TB.

    Plan shape: ONE full-outer sort-merge join co-partitioned on the
    key (both snapshots are full-size at scale, so neither side
    broadcasts); change classification is a codegen'd projection on the
    join output. Unchanged keys (the overwhelming majority in a daily
    diff) are filtered before anything downstream shuffles again."""
    o = old.select(
        F.col(key),
        F.lit(True).alias("_in_old"),
        *[F.col(c).alias(f"old_{c}") for c in compare],
    )
    n = new.select(
        F.col(key),
        F.lit(True).alias("_in_new"),
        *[F.col(c).alias(f"new_{c}") for c in compare],
    )
    j = o.join(n, on=key, how="full_outer")
    changed = F.lit(False)
    for c in compare:
        changed = changed | ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    change_type = (
        F.when(F.col("_in_old").isNull(), F.lit("insert"))
        .when(F.col("_in_new").isNull(), F.lit("delete"))
        .otherwise(F.lit("update"))
    )
    return (
        j.withColumn("change_type", change_type)
        .filter(F.col("_in_old").isNull() | F.col("_in_new").isNull() | changed)
        .select(key, "change_type", *[f"old_{c}" for c in compare], *[f"new_{c}" for c in compare])
    )


def scd2_from_changelog(events: DataFrame) -> DataFrame:
    """Slowly-changing-dimension type 2 from an append-only change log:
    collapse each user's event stream to state-change rows and attach
    [valid_from, valid_to) intervals (valid_to NULL = current state).

    Plan shape: both window passes share ONE hash partitioning on
    user_id — Catalyst plans a single Exchange and two Window nodes over
    the same sort, so building the dimension is one shuffle regardless
    of input size. The output is keyed by (user_id, valid_from), ready
    for an as-of join from any fact table."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn("_prev", F.lag("event_type").over(w))
        .filter(F.col("_prev").isNull() | (F.col("_prev") != F.col("event_type")))
    )
    # intervals emitted as epoch micros: raw timestamp columns hash-differ
    # on physical unit between engines (registry convention)
    return changes.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.unix_micros("ts").alias("valid_from_us"),
        F.unix_micros(F.lead("ts").over(w)).alias("valid_to_us"),
    )


def incremental_agg_merge(events: DataFrame, lookback_days: int = 7) -> DataFrame:
    """Incremental view maintenance: merge a pre-aggregated base state
    (everything older than the refresh horizon) with freshly aggregated
    delta rows, producing totals identical to a full recompute — the
    pattern that turns a daily 100 TB re-aggregation into an
    O(new data) job. COUNT and SUM are mergeable as-is; the same shape
    carries any commutative-monoid aggregate (min/max/HLL).

    Plan shape: each side partially aggregates before its shuffle, and
    the merge is a re-aggregation of two already-tiny keyed states."""
    horizon = events.agg(
        (F.max("ts") - F.expr(f"INTERVAL {lookback_days} DAYS")).alias("_cut")
    )
    tagged = events.join(F.broadcast(horizon))
    base = (
        tagged.filter(F.col("ts") < F.col("_cut"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
    )
    delta = (
        tagged.filter(F.col("ts") >= F.col("_cut"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
    )
    return (
        base.unionByName(delta)
        .groupBy("event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.round(F.sum("sum_value"), 4).alias("sum_value"),
        )
    )


def hll_mergeable_distinct(events: DataFrame) -> DataFrame:
    """Distinct users per event_type via Datasketches HLL: build one
    sketch per (event_type, day) partition, then merge the daily
    sketches with hll_union_agg and estimate. The two-level shape is
    the point — per-partition sketches are tiny, mergeable, and
    STORABLE, so at 100 TB the daily sketches are computed once and any
    date-range distinct count is a sketch-merge, never a re-scan
    (exact count_distinct would shuffle every user_id)."""
    daily = events.groupBy("event_type", F.date_trunc("day", "ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sketch")
    )
    return (
        daily.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("approx_users"))
        .orderBy("event_type")
    )


def corpus_shuffle_shards(documents: DataFrame, n_shards: int = 32) -> DataFrame:
    """Deterministic training-order shuffle: spread documents round-robin
    across shards, order each shard by a cryptographic hash of the key —
    the global read order (shard, position) is a reproducible
    pseudo-random permutation of the corpus, independent of input file
    layout. This is how a 100 TB pretraining corpus gets its epoch
    order: each shard is one writer task / one output file, and no
    global sort (single-partition window) ever happens — the only
    exchange is the hash partition on shard, and ranking runs
    per-shard.

    Seeded re-shuffles = salt the md5 input with the epoch number."""
    shard = (F.col("doc_id") % n_shards).alias("shard")
    w = Window.partitionBy("shard").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return documents.select("doc_id", shard).withColumn(
        "position", F.row_number().over(w)
    )


def pagerank_step(events: DataFrame, damping: float = 0.85) -> DataFrame:
    """One PageRank power-iteration over the user->contact interaction
    graph (edges derived from events), from uniform initial rank 1.0:
    rank'(v) = (1-d) + d * sum over incoming edges of 1/outdeg(src).
    The iterative-algorithm template alongside kmeans_step and the
    connected-components loop: a driver loop re-applies this step until
    convergence, each iteration a fixed declarative plan.

    Plan shape: the distinct-edge aggregation and the out-degree
    aggregation hash-partition on the SAME key (src), so Catalyst
    reuses the exchange for the contribution join; only the final
    per-destination sum re-partitions. Shuffles carry edges and ranks
    — never the raw event rows."""
    edges = (
        events.select(
            F.col("user_id").alias("src"), (F.col("event_id") % 500).alias("dst")
        )
        .distinct()
    )
    outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    # Engine-stable arithmetic: float summation is non-associative, so
    # Spark's partition-order sum and DuckDB's scan-order sum of
    # 1.0/outdeg can differ in the last ulp, flipping any subsequent
    # rounding at a midpoint (observed: rank 0.1765625 at sf0.001).
    # Quantize each contribution to an exact integer (1e9 DIV outdeg —
    # floor division, bit-identical everywhere), sum exactly, then run
    # ONE fixed float sequence (s/1e9, *d, +1-d, half-up floor) that
    # IEEE guarantees is deterministic across engines. The 1e-9
    # truncation per edge is far below the 1e-6 output rounding.
    contribs = edges.join(outdeg, "src").select(
        "dst", F.expr("1000000000 DIV outdeg").alias("contrib_u")
    )
    rank = F.lit(1 - damping) + F.lit(damping) * (F.sum("contrib_u") / F.lit(1e9))
    return (
        contribs.groupBy("dst")
        .agg((F.floor(rank * 1e6 + F.lit(0.5)) / 1e6).alias("rank"))
        .orderBy("dst")
    )


def pagerank_converged(
    events: DataFrame,
    damping: float = 0.85,
    max_iter: int = 10,
    tol: float = 1e-3,
) -> DataFrame:
    """PageRank to convergence: the driver re-applies the power
    iteration (pagerank_step's plan) until total rank movement drops
    under `tol` — same driver-loop template as the connected-components
    canonicalizer: each round is one fixed declarative plan, the only
    driver-side value is the scalar delta, and localCheckpoint
    truncates lineage so round N's plan doesn't replay rounds 1..N-1.

    Node space is the union of sources and destinations; dangling
    nodes (no out-edges) contribute nothing, per the simple variant.

    Checkpoint + convergence-check run every `check_every` rounds, not
    every round: at bench scale the loop cost is pure per-action
    overhead (two driver-synchronized jobs per round), so batching
    three lazy rounds per materialization cuts wall-clock ~2x for at
    most two extra (lazy, tiny) iterations of work.

    Ranks are carried as exact integer micro-units (1e-9): per-edge
    contribution is `rank_u DIV outdeg` (floor division), inflow is an
    exact bigint sum, and the damping update is one deterministic IEEE
    float op on an exact integer — so every iteration is bit-identical
    across engines and the whole loop (including the data-dependent
    stop) is oracle-checkable with a DuckDB recursive CTE. Float
    summation order never enters the picture."""
    edges = (
        events.select(
            F.col("user_id").alias("src"), (F.col("event_id") % 500).alias("dst")
        )
        .distinct()
        # lazy: the round-1 delta aggregate (full-partition) carries the
        # materialization — one fewer scheduled job per checkpoint
        .localCheckpoint(eager=False)
    )
    outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    # micro-rank units: 1.0 == 1e9; (1-d) and d*x quantized half-up
    base_u = int(math.floor((1 - damping) * 1e9 + 0.5))
    tol_u = int(tol * 1e9)
    ranks = nodes.select(
        "node", F.lit(1000000000).cast("long").alias("rank_u")
    ).localCheckpoint(eager=False)
    check_every = 3

    def step(r: DataFrame) -> DataFrame:
        contribs = (
            edges.join(outdeg, "src")
            .join(r.withColumnRenamed("node", "src"), "src")
            .select("dst", F.expr("rank_u DIV outdeg").alias("contrib_u"))
        )
        incoming = contribs.groupBy(F.col("dst").alias("node")).agg(
            F.sum("contrib_u").alias("inflow_u")
        )
        # carry the old rank through the same join so the convergence
        # delta is a cheap scan of the materialized result, not a
        # second join
        return (
            r.withColumnRenamed("rank_u", "old_rank_u")
            .join(incoming, "node", "left_outer")
            .select(
                "node",
                "old_rank_u",
                (
                    F.lit(base_u).cast("long")
                    + F.floor(
                        F.lit(damping)
                        * F.coalesce(F.col("inflow_u"), F.lit(0)).cast("double")
                        + F.lit(0.5)
                    ).cast("long")
                ).alias("rank_u"),
            )
        )

    done = 0
    while done < max_iter:
        batch = min(check_every, max_iter - done)
        stepped = ranks
        for _ in range(batch):
            stepped = step(stepped.select("node", "rank_u"))
        stepped = stepped.localCheckpoint(eager=False)
        done += batch
        delta_u = stepped.agg(
            F.sum(F.abs(F.col("rank_u") - F.col("old_rank_u"))).alias("d")
        ).first()[0]
        ranks = stepped.select("node", "rank_u")
        # SUM over an empty graph is NULL -> converged by definition
        if delta_u is None or delta_u < tol_u:
            break
    return ranks.select(
        "node",
        # half-up to 6 decimals, all-integer: (u + 500) DIV 1000 / 1e6
        (F.expr("(rank_u + 500) DIV 1000") / F.lit(1e6)).alias("rank"),
    ).orderBy("node")


def sample_weighted(documents: DataFrame, k: int = 100) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis-Spirakis):
    each doc draws key = u^(1/w) from a deterministic pseudo-uniform u
    and the global top-k keys win — quality-weighted corpus
    subsampling whose inclusion probabilities follow the weights, in
    one pass, reproducibly (same seed constant -> same sample).

    Plan shape: u is a Knuth multiplicative hash of the key column
    (codegen, no rand() — reproducible across retries/partitionings,
    which rand() is NOT under task retry); the global top-k is
    TakeOrderedAndProject, so nothing but k rows ever reaches the
    driver and no full sort happens. Weights here: document length."""
    u = ((F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)) / F.lit(
        4294967296.0
    )
    w = F.greatest(F.length("text").cast("double"), F.lit(1.0))
    key = F.pow(u, F.lit(1.0) / w)
    return (
        documents.select(
            "doc_id",
            "source",
            F.length("text").cast("long").alias("n_chars"),
            F.round(key, 6).alias("es_key"),
        )
        .orderBy(F.desc("es_key"), "doc_id")
        .limit(k)
    )


def source_overlap_matrix(documents: DataFrame) -> DataFrame:
    """Cross-source exact-duplicate overlap: for every ordered source
    pair, how many of the left source's documents have a fingerprint
    twin in the right source — the contamination/mixture diagnostic
    that tells a curation run which scrapes re-collect each other
    before near-dup spend.

    Plan shape: fingerprints aggregate to (fingerprint, source,
    n_docs) first — the self-join runs on the DISTINCT fingerprint
    relation (vocabulary-sized), never doc x doc; one shuffle on the
    fingerprint. The key is a 64-char normalized PREFIX fingerprint:
    catches shared leading boilerplate (the dominant cross-scrape
    overlap mode) that whole-text hashing misses."""
    fp = F.md5(
        F.substring(
            F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), 1, 64
        )
    )
    by_src = (
        documents.select(fp.alias("fp"), "source")
        .groupBy("fp", "source")
        .agg(F.count("*").alias("n_docs"))
    )
    left = by_src.select(
        "fp", F.col("source").alias("src_a"), F.col("n_docs").alias("n_a")
    )
    right = by_src.select("fp", F.col("source").alias("src_b"))
    return (
        left.join(right, "fp")
        .filter(F.col("src_a") != F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            F.count_distinct("fp").alias("shared_fingerprints"),
            F.sum("n_a").alias("docs_duplicated"),
        )
        .orderBy("src_a", "src_b")
    )


def feature_quantile_bins(
    events: DataFrame, buckets: int = 10, accuracy: int = 10000
) -> DataFrame:
    """Equal-frequency discretization of a numeric column per group:
    quantile-edge bucket ids plus per-bucket [n, lo, hi] — the feature-
    engineering binning step (and the bin-edge table a serving layer
    broadcasts to bucketize online traffic consistently with training).

    Scale shape: the old exact form (ntile over partitionBy(event_type))
    funnels each group through ONE sort partition — five event types
    means five giant sorts, a 9x blowup measured at 50x (SCALING.md).
    This form computes per-group decile edges with approx_percentile —
    a mergeable GK sketch, partial-aggregated map-side, memory bounded
    by `accuracy` not by group size — broadcasts the tiny edge table
    back, and assigns buckets with a codegen width_bucket-style
    comparison. No global sort anywhere; both stages are one shuffle of
    sketch/edge rows.

    With group sizes <= `accuracy` the GK sketch stores every value and
    the edges are EXACT order statistics (verified identical to
    DuckDB's quantile_disc at oracle scale — sf0.01 groups are ~2k
    rows, well under the 10k default); at 100 TB the same code degrades
    gracefully to epsilon = 1/accuracy rank error instead of OOMing.
    Sketch cost grows with `accuracy`, so don't oversize it: 1e4 keeps
    the decile error under 0.01% of rank while staying ~4x faster than
    1e5 at bench scale.

    Bucket semantics: bucket = 1 + #edges strictly below value (ties at
    an edge go to the lower bucket) — near-equal counts, deterministic
    on both engines, no per-row window."""
    probs = [i / buckets for i in range(1, buckets)]
    edges = events.groupBy("event_type").agg(
        F.percentile_approx("value", probs, accuracy).alias("edges")
    )
    binned = events.join(F.broadcast(edges), "event_type").select(
        "event_type",
        "value",
        (
            F.lit(1)
            + F.aggregate(
                F.col("edges"),
                F.lit(0),
                lambda acc, e: acc + F.when(F.col("value") > e, 1).otherwise(0),
            )
        ).alias("bucket"),
    )
    return (
        binned.groupBy("event_type", "bucket")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 6).alias("lo"),
            F.round(F.max("value"), 6).alias("hi"),
        )
        .orderBy("event_type", "bucket")
    )


def heavy_hitters_cms(
    events: DataFrame, d: int = 4, w: int = 256, k: int = 10
) -> DataFrame:
    """Count-min-sketch frequency estimates for the true top-k users —
    completing the mergeable-sketch family (HLL = distinct, GK =
    quantiles, CMS = frequency): the CMS table is d x w counters built
    with ONE partial-aggregated shuffle bounded by d*w cells, mergeable
    across partitions/days by cell-wise addition, and any key's
    estimate is min over its d cells — never an exact per-key shuffle.

    Hash rows are md5-derived (the _token_hash60 convention), so the
    DuckDB oracle rebuilds the identical table and estimates: the CMS
    one-sided guarantee (estimate >= exact, here checkable as
    `overcount >= 0`) is a driver-checked contract, not a pytest-only
    tolerance. Output: the exact top-k users (deterministic tie-break)
    with exact and estimated counts."""

    def cell(i: int):
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"cms{i}:"), F.col("user_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        return F.pmod(h, F.lit(w))

    probes_arr = F.array(
        *[F.struct(F.lit(i).alias("r"), cell(i).alias("c")) for i in range(d)]
    )
    cells = (
        events.select(F.explode(probes_arr).alias("rc"))
        .groupBy(F.col("rc.r").alias("r"), F.col("rc.c").alias("c"))
        .agg(F.count("*").alias("n"))
    )
    top = (
        events.groupBy("user_id")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), F.col("user_id"))
        .limit(k)
    )
    probes = top.select(
        "user_id", "exact_n", F.explode(probes_arr).alias("rc")
    ).select("user_id", "exact_n", F.col("rc.r").alias("r"), F.col("rc.c").alias("c"))
    return (
        probes.join(cells, ["r", "c"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("n").alias("cms_n"))
        .select(
            "user_id",
            "exact_n",
            "cms_n",
            (F.col("cms_n") - F.col("exact_n")).alias("overcount"),
        )
        .orderBy(F.col("exact_n").desc(), F.col("user_id"))
    )


def join_salted_skew(
    events: DataFrame, customer: DataFrame, salt: int = 8
) -> DataFrame:
    """Skew-mitigated equi-join: salt the (skewed) big side's key with
    a deterministic hash mod `salt`, replicate the small side `salt`
    ways via explode(sequence(...)) — never a cross join — and join on
    (key, salt). One hot key's rows now spread across `salt` reducers
    instead of melting one.

    Semantically identical to the plain join (the oracle IS the plain
    join); this is the manual form of what AQE skew-join does at
    runtime, needed when the skew is known ahead of time (power-law
    user activity) or the engine's skew threshold doesn't trigger —
    e.g. a 100 TB event log where one bot account is 5% of traffic.
    The small side's replication is broadcast anyway, so the only real
    cost is `salt` copies of a dimension that already fits in memory."""
    big = events.withColumn(
        "_salt", F.pmod(F.xxhash64("event_id"), F.lit(salt)).cast("int")
    )
    small = customer.select(
        "c_custkey",
        "c_nationkey",
        F.explode(F.sequence(F.lit(0), F.lit(salt - 1))).alias("_salt"),
    )
    return (
        big.join(
            F.broadcast(small),
            (big["user_id"] == small["c_custkey"]) & (big["_salt"] == small["_salt"]),
        )
        .select("event_id", "user_id", "c_nationkey")
        .orderBy("event_id")
    )


def feature_quantile_bins_exact(events: DataFrame, buckets: int = 10) -> DataFrame:
    """The exact ntile twin of feature_quantile_bins: equal-COUNT
    buckets via a per-group sort window. Kept as the small-data oracle
    twin and for callers who need exact equal-frequency semantics —
    NOT the 100 TB default, because partitionBy on a low-cardinality
    group key makes each group one giant sort partition."""
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    binned = events.select(
        "event_type", "value", F.ntile(buckets).over(w).alias("bucket")
    )
    return (
        binned.groupBy("event_type", "bucket")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 6).alias("lo"),
            F.round(F.max("value"), 6).alias("hi"),
        )
        .orderBy("event_type", "bucket")
    )


def ewma_smoothing(
    events: DataFrame, span: int = 10, alpha: float = 0.5
) -> DataFrame:
    """Exponentially-weighted moving average of `value` per user over a
    bounded trailing frame — the smoothing/denoising pass of metric
    pipelines, in closed form: weights alpha^distance over the last
    `span` observations, normalized by the geometric partial sum.

    Plan shape: one shuffle on user_id for the ordered frame; the
    weighted fold is a codegen'd higher-order transform over the
    collected frame (bounded at `span` elements, so per-row cost is
    O(span) regardless of history length — the property that makes the
    infinite-history EWMA recurrence, which Spark can't window,
    unnecessary in practice)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(span - 1), Window.currentRow)
    )
    arr = F.collect_list("value").over(w)
    frame = events.select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us"), arr.alias("vals")
    )
    n = F.size("vals")
    wsum = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.element_at(F.col("vals"), i)
            * F.pow(F.lit(alpha), (n - i).cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # geometric normalizer: sum_{d=0}^{n-1} alpha^d
    norm = (1 - F.pow(F.lit(alpha), n.cast("double"))) / (1 - alpha)
    return frame.select(
        "user_id", "event_id", "ts_us", F.round(wsum / norm, 6).alias("ewma")
    )


def agg_udaf_median(events: DataFrame) -> DataFrame:
    """Grouped-aggregate pandas UDF (the user-defined AGGREGATE surface,
    completing UDF/UDAF/UDTF alongside udtf_token_stats): exact median
    per group via one Arrow-batched numpy call per group.

    UDAF is the right escape hatch only for aggregates Catalyst lacks;
    exact median itself has a built-in (F.median) — the oracle proves
    the UDAF path computes the identical value, which is the contract a
    user extending the engine with a custom aggregate relies on. Whole
    groups must fit in executor memory (Arrow collects the group), so
    at 100 TB this shape fits bounded groups — unbounded ones should
    pre-aggregate or use approx_percentile."""

    @F.pandas_udf("double")
    def _median(v: pd.Series) -> float:
        return float(v.median())

    return (
        events.groupBy("event_type")
        .agg(F.round(_median("value"), 6).alias("median_value"))
        .orderBy("event_type")
    )


def join_asof_tolerance(
    events: DataFrame, orders: DataFrame, tolerance_days: int = 30
) -> DataFrame:
    """As-of join with a tolerance bound: the latest order at or before
    the event time, but only if it is at most `tolerance_days` old —
    stale matches become NULL (merge_asof's `tolerance` semantic; what
    point-in-time feature joins actually need, since a two-year-old
    feature row is usually worse than none).

    Same single shuffle+sort union trick as join_asof_latest_order; the
    running-last carries the matched ORDER TIME alongside the key, and
    the tolerance gate is a codegen'd post-projection — no second join,
    no extra exchange."""
    left = events.select(
        F.col("user_id").alias("uid"),
        F.col("ts").alias("t"),
        F.lit(0).alias("is_order"),
        F.col("event_id"),
        F.lit(None).cast("long").alias("o_orderkey"),
    )
    right = orders.select(
        F.col("o_custkey").alias("uid"),
        F.col("o_orderdate").cast("timestamp").alias("t"),
        F.lit(1).alias("is_order"),
        F.lit(None).cast("long").alias("event_id"),
        "o_orderkey",
    )
    # o_orderkey asc as the final sort key: deterministic tie-break at
    # equal (uid, t) — running-last = MAX(o_orderkey) among tied dates
    # (mirrored in the oracle by collapsing orders per (custkey, date))
    w = (
        Window.partitionBy("uid")
        .orderBy(F.col("t"), F.col("is_order").desc(), F.col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    order_struct = F.when(
        F.col("is_order") == 1, F.struct(F.col("t").alias("ot"), F.col("o_orderkey"))
    )
    merged = left.unionByName(right).withColumn(
        "asof", F.last(order_struct, ignorenulls=True).over(w)
    )
    fresh = F.col("asof.ot") >= F.col("t") - F.expr(f"INTERVAL {tolerance_days} DAYS")
    return merged.filter(F.col("is_order") == 0).select(
        "event_id",
        F.col("uid").alias("user_id"),
        F.when(fresh, F.col("asof.o_orderkey")).alias("near_orderkey"),
    )


def bloom_semi_filter(
    orders: DataFrame,
    customer: DataFrame,
    m: int = 4096,
    k: int = 3,
    member_since: str = "2001-01-01",
) -> DataFrame:
    """Bloom-filter approximate semi-join: build an m-bit Bloom filter
    over the orders' customer keys with ONE partial-aggregated shuffle
    bounded by m bits (never a per-key exchange), broadcast the bit
    set, and probe every customer row with k codegen hash lookups —
    the manual form of what Spark's runtime bloom-filter join rewrite
    (spark.sql.optimizer.runtime.bloomFilter.enabled) injects for
    selective joins, needed when the filter must be built ONCE and
    reused across many downstream scans (e.g. "seen this document
    fingerprint before" membership gates over a 100 TB crawl, where
    shipping a 16 MB bit set beats re-shuffling the corpus per probe).

    Completes the mergeable-sketch family (HLL = distinct, GK =
    quantiles, CMS = frequency, Bloom = membership): the bit set is
    mergeable across shards by OR. Hash bits are md5-derived (the
    heavy_hitters_cms convention) so a DuckDB oracle rebuilds the
    identical filter, and Bloom's one-sided guarantee — NO false
    negatives — is a driver-checked contract: the output confusion
    cells must show zero (bloom=false, actual=true) rows.

    Output: one row per (bloom_hit, actual_member) cell with customer
    counts — compact whatever the probe cardinality."""

    def bits(col):
        return F.array(
            *[
                F.pmod(
                    F.conv(
                        F.substring(
                            F.md5(F.concat(F.lit(f"bloom{i}:"), col.cast("string"))),
                            1,
                            15,
                        ),
                        16,
                        10,
                    ).cast("long"),
                    F.lit(m),
                )
                for i in range(k)
            ]
        )

    # membership = "bought since member_since" — a strict subset of the
    # probe universe, so the confusion matrix exercises true negatives
    # and Bloom false positives, not just members; the date predicate
    # pushes down to the orders scan
    member_keys = (
        orders.filter(F.col("o_orderdate") >= F.lit(member_since))
        .select(F.col("o_custkey").alias("key"))
        .distinct()
    )
    filter_bits = (
        member_keys.select(F.explode(bits(F.col("key"))).alias("bit")).distinct()
    )
    probes = customer.select(
        F.col("c_custkey").alias("key"), F.posexplode(bits(F.col("c_custkey")))
    ).select("key", F.col("col").alias("bit"))
    # a probe key is bloom-positive iff ALL k of its bits are set:
    # left-join each probe bit against the (broadcast) bit set and
    # require k hits — no driver-side bitmap materialization, the
    # "filter" stays a relation so the same plan works if m is huge
    bloom_hits = (
        probes.join(F.broadcast(filter_bits), "bit", "left_semi")
        .groupBy("key")
        .agg(F.count("*").alias("hits"))
        .filter(F.col("hits") == k)
        .select("key")
    )
    actual = member_keys.withColumn("actual_member", F.lit(True))
    return (
        customer.select(F.col("c_custkey").alias("key"))
        .join(bloom_hits.withColumn("bloom_hit", F.lit(True)), "key", "left")
        .join(actual, "key", "left")
        .select(
            F.coalesce("bloom_hit", F.lit(False)).alias("bloom_hit"),
            F.coalesce("actual_member", F.lit(False)).alias("actual_member"),
        )
        .groupBy("bloom_hit", "actual_member")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("bloom_hit", "actual_member")
    )


def gap_fill_interpolate(events: DataFrame) -> DataFrame:
    """Linear-interpolation gap filling — the companion to
    gap_fill_locf: the same hourly rollup + per-user densified grid,
    but interior gaps take the time-weighted average of the bracketing
    observations instead of carrying the last one forward (the
    hypertable `interpolate()` finisher; LOCF answers "what was the
    state", interpolation answers "what was the trend").

    Same plan shape as LOCF: rollup is one partial-agg shuffle, the
    grid explodes AFTER aggregation (rows bounded by users x
    span-hours, never event volume), and BOTH bracketing scans are
    window passes over the same (user_id, hour) clustering — prev via
    last(ignorenulls) forward, next via first(ignorenulls) backward —
    so AQE plans a single exchange for the join plus windows.

    Engine-stable arithmetic (pagerank_step convention): observed
    values quantize to exact micro-unit integers, the interpolation
    numerator/denominator stay in exact bigint arithmetic, and the
    ONE float op (the final /1e6) is IEEE-deterministic across
    engines."""
    hourly = events.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.floor(F.sum("value") * 1e6 + F.lit(0.5)).alias("v_u"))
    spans = hourly.groupBy("user_id").agg(
        F.min("hour").alias("h0"), F.max("hour").alias("h1")
    )
    grid = spans.select(
        "user_id",
        F.explode(F.sequence("h0", "h1", F.expr("interval 1 hour"))).alias("hour"),
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    t = F.unix_timestamp("hour")
    obs = F.when(F.col("v_u").isNotNull(), F.struct(t.alias("t"), F.col("v_u")))
    g = (
        grid.join(hourly, ["user_id", "hour"], "left")
        .withColumn("prev", F.last(obs, ignorenulls=True).over(wb))
        .withColumn("next", F.first(obs, ignorenulls=True).over(wf))
    )
    # exact-bigint time-weighted lerp; DuckDB's // and Spark's DIV both
    # truncate toward zero, and all terms here are non-negative anyway
    lerp_u = F.expr(
        "(prev.v_u * (next.t - unix_timestamp(hour))"
        " + next.v_u * (unix_timestamp(hour) - prev.t))"
        " DIV (next.t - prev.t)"
    )
    return (
        g.select(
            "user_id",
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            (F.col("v_u").isNotNull()).alias("observed"),
            (
                F.when(F.col("v_u").isNotNull(), F.col("v_u"))
                .when(F.col("prev").isNotNull() & F.col("next").isNotNull(), lerp_u)
                / F.lit(1e6)
            ).alias("filled_value"),
        )
        .orderBy("user_id", "hour")
    )


def pareto_frontier(part: DataFrame) -> DataFrame:
    """2-D Pareto frontier (skyline) — the multi-objective filter a
    curation pipeline uses to keep documents no other document
    dominates on (quality, length): here, parts where no other part is
    both smaller and pricier (minimize p_size, maximize
    p_retailprice). The window formulation replaces the naive
    quadratic all-pairs dominance test with ONE sort: scan in p_size
    order and keep a row iff its price strictly exceeds the running
    max over every strictly-smaller size — exactly the 2-D skyline.

    Plan shape: one global range-partitioned sort (Spark's sample-
    based RangePartitioner keeps it parallel at 100 TB) and a codegen
    running-max window; no join at all. Prices quantize to exact cent
    integers for the cross-engine max/compare (pagerank_step
    convention). Ties: equal sizes compete against smaller sizes
    only, so all co-frontier rows at one size survive; deterministic
    regardless of scan order."""
    price_u = F.floor(F.col("p_retailprice") * 100 + F.lit(0.5))
    w = (
        Window.orderBy("p_size")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    return (
        part.select("p_partkey", "p_size", price_u.alias("price_c"))
        .withColumn("best_smaller", F.max("price_c").over(w))
        .filter(
            F.col("best_smaller").isNull()
            | (F.col("price_c") > F.col("best_smaller"))
        )
        .select(
            "p_partkey",
            "p_size",
            (F.col("price_c") / 100).alias("p_retailprice"),
        )
        .orderBy("p_size", "p_partkey")
    )


def anomaly_mad(events: DataFrame, cutoff: int = 3) -> DataFrame:
    """Robust outlier detection via median absolute deviation — the
    heavy-tail-safe twin of anomaly_zscore (one extreme value drags a
    mean and explodes a stddev; medians don't move): per event type,
    med = median(value), mad = median(|value - med|), and a row is an
    outlier when |value - med| > cutoff * mad.

    Both medians use the DISCRETE percentile (an actual data value,
    percentile_disc semantics) so the statistic is engine-exact — no
    interpolation float whose last ulp could differ between JVM and
    DuckDB. Plan shape: two grouped-agg passes over the same
    event_type clustering (med, then mad over the residuals) and one
    broadcast join of the 5-row stats table back onto the scan —
    identical shape to anomaly_zscore, linear at any scale. (Exact
    grouped medians sort within partial aggregates; at 100 TB swap in
    approx_percentile the way feature_quantile_bins does, keeping
    this exact form as the oracle twin.)"""
    # percentile_approx at accuracy >> group size degenerates to the
    # exact discrete quantile (the agg_percentiles_approx convention:
    # quantile_disc is then an exact oracle twin)
    med = events.groupBy("event_type").agg(
        F.expr("percentile_approx(value, 0.5, 1000000)").alias("med")
    )
    resid = events.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = resid.groupBy("event_type").agg(
        F.expr("percentile_approx(adev, 0.5, 1000000)").alias("mad")
    )
    flagged = resid.join(F.broadcast(mad), "event_type").withColumn(
        "is_outlier", F.col("adev") > F.lit(cutoff) * F.col("mad")
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.count(F.when(F.col("is_outlier"), 1)).alias("n_outliers"),
            F.round(F.min("med"), 2).alias("med"),
            F.round(F.min("mad"), 2).alias("mad"),
            F.round(F.max(F.when(F.col("is_outlier"), F.col("value"))), 2).alias(
                "worst_value"
            ),
        )
        .orderBy("event_type")
    )


def source_mixture_temperature(
    documents: DataFrame, temperature_budget: int = 10000
) -> DataFrame:
    """Temperature-scaled mixture weights (the multilingual-corpus
    sampling rule: p_s proportional to n_s^alpha with alpha = 0.5) —
    the companion to source_mixture_weights' flattening plan:
    square-root scaling keeps big sources dominant but boosts small
    sources' share, and the output is each source's document quota out
    of a fixed sampling budget.

    Engine-exact arithmetic: IEEE sqrt is correctly rounded, so
    floor(sqrt(n_s * 1e6)) is the SAME bigint on any engine (the one
    transcendental-free exception: sqrt is exact, log/exp are not —
    which is why alpha is the canonical 0.5 and not a free parameter
    here), and quotas are exact integer proportions of the budget.
    Plan shape: one partial-agg shuffle bounded by the source
    cardinality, then a scalar-total broadcast join — identical to
    source_mixture_weights."""
    counts = documents.groupBy("source").agg(F.count("*").alias("n_docs"))
    weighted = counts.select(
        "source",
        "n_docs",
        F.floor(F.sqrt(F.col("n_docs") * F.lit(1000000))).cast("long").alias(
            "weight_u"
        ),
    )
    total = weighted.agg(F.sum("weight_u").alias("total_w"))
    return (
        weighted.join(F.broadcast(total))
        .select(
            "source",
            "n_docs",
            "weight_u",
            F.expr(f"{temperature_budget} * weight_u DIV total_w").alias("quota"),
        )
        .orderBy("source")
    )


def join_shuffle_hash_hint(events: DataFrame, orders: DataFrame) -> DataFrame:
    """The SHUFFLE_HASH join-strategy hint: when both sides are too
    big to broadcast but one side's partitions fit in memory, a
    shuffled hash join skips the sort phase a sort-merge join pays on
    BOTH sides — the right call for a large fact joining a
    medium-sized table at 100 TB (SMJ's sort is O(n log n) per
    partition; the hash build is O(n), and AQE can't always infer it
    from stale stats). Semantics are the hint-free join — the oracle
    is the plain SQL — while pytest asserts the physical plan actually
    contains ShuffledHashJoin, the same evidence pattern as
    join_bucketed_colocated's zero-Exchange assert.

    Output: per-priority (event x order) pair counts. The orders side
    pre-aggregates to (custkey, priority, n_orders) BEFORE the join —
    the aggregate-before-join rewrite that keeps a counting join's
    intermediate linear when both sides repeat keys (the raw pair
    relation grows as |events per user| x |orders per user|; the
    rolled-up join never materializes it, SUM(n_orders) counts it) —
    and the rolled-up side still scales with |customers|, far past
    broadcast size at 100 TB, which is exactly the SHJ sweet spot."""
    per_cust = orders.groupBy(
        F.col("o_custkey"), F.col("o_orderpriority")
    ).agg(F.count("*").alias("n_orders"))
    joined = events.hint("shuffle_hash").join(
        per_cust.hint("shuffle_hash"), events["user_id"] == per_cust["o_custkey"]
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(F.sum("n_orders").alias("n_pairs"))
        .orderBy("o_orderpriority")
    )


def expectations_check(
    events: DataFrame, orders: DataFrame, customer: DataFrame
) -> DataFrame:
    """Declarative data-quality expectations (the Great-Expectations /
    deequ constraint-suite shape) evaluated in ONE pass per table plus
    one referential probe — the admission gate a pipeline runs before
    letting a new data drop into training: each constraint row reports
    what was observed against its threshold and whether the drop
    passes.

    Suite: non-empty scan, primary-key uniqueness, required-column
    completeness, value-domain bound, categorical-domain closure, and
    orders->customer referential integrity. Plan shape: the five
    event constraints fold into ONE aggregate over the scan
    (conditional counts — profile_columns' shape), the referential
    check is a broadcast anti-join count, and the output is six
    constant-size rows whatever the input volume. Everything is exact
    integer counts: the report is engine-deterministic."""
    agg = events.agg(
        F.count("*").alias("n"),
        F.countDistinct("event_id").alias("n_ids"),
        F.count("user_id").alias("n_user"),
        F.count(F.when(F.col("value") >= 0, 1)).alias("n_nonneg"),
        F.count(
            F.when(
                F.col("event_type").isin(
                    "click", "view", "purchase", "signup", "error"
                ),
                1,
            )
        ).alias("n_domain"),
    )
    orphans = orders.join(
        F.broadcast(customer.select("c_custkey")),
        orders["o_custkey"] == F.col("c_custkey"),
        "left_anti",
    ).agg(F.count("*").alias("n_orphans"))
    rows = agg.join(F.broadcast(orphans)).select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("events_nonempty").alias("check_name"),
                    F.col("n").alias("observed"),
                    F.lit(1).cast("long").alias("threshold"),
                    (F.col("n") >= 1).alias("passed"),
                ),
                F.struct(
                    F.lit("event_id_unique").alias("check_name"),
                    F.col("n_ids").alias("observed"),
                    F.col("n").alias("threshold"),
                    (F.col("n_ids") == F.col("n")).alias("passed"),
                ),
                F.struct(
                    F.lit("user_id_complete").alias("check_name"),
                    F.col("n_user").alias("observed"),
                    F.col("n").alias("threshold"),
                    (F.col("n_user") == F.col("n")).alias("passed"),
                ),
                F.struct(
                    F.lit("value_nonnegative").alias("check_name"),
                    F.col("n_nonneg").alias("observed"),
                    F.col("n").alias("threshold"),
                    (F.col("n_nonneg") == F.col("n")).alias("passed"),
                ),
                F.struct(
                    F.lit("event_type_in_domain").alias("check_name"),
                    F.col("n_domain").alias("observed"),
                    F.col("n").alias("threshold"),
                    (F.col("n_domain") == F.col("n")).alias("passed"),
                ),
                F.struct(
                    F.lit("orders_custkey_refint").alias("check_name"),
                    F.col("n_orphans").alias("observed"),
                    F.lit(0).cast("long").alias("threshold"),
                    (F.col("n_orphans") == 0).alias("passed"),
                ),
            )
        ).alias("c")
    )
    return rows.select("c.check_name", "c.observed", "c.threshold", "c.passed").orderBy(
        "check_name"
    )


def drift_report(events: DataFrame, bucket_width: int = 50) -> DataFrame:
    """Distribution-drift report between two snapshots of the same
    feed — the monitoring step that catches a broken upstream before
    it poisons training data. Snapshots here are the deterministic
    halves A/B (event_id parity); in production they are yesterday's
    and today's partition. Values histogram into fixed-width buckets
    and each bucket reports its cross-multiplied deviation
    |n_a * N_b - n_b * N_a| — the exact-integer numerator of the
    total-variation distance (TVD = sum_dev / (2 * N_a * N_b)), so no
    float division or log (PSI's transcendental) ever runs: the whole
    report is bigint-exact on any engine.

    Plan shape: one conditional-count aggregate per (bucket) — a
    single partial-agg shuffle bounded by the histogram width — plus a
    broadcast of the 1-row totals; linear at any volume."""
    bucketed = events.select(
        F.floor(F.col("value") / bucket_width).cast("long").alias("bucket"),
        (F.col("event_id") % 2 == 0).alias("in_a"),
    )
    hist = bucketed.groupBy("bucket").agg(
        F.count(F.when(F.col("in_a"), 1)).alias("n_a"),
        F.count(F.when(~F.col("in_a"), 1)).alias("n_b"),
    )
    totals = hist.agg(
        F.sum("n_a").alias("t_a"), F.sum("n_b").alias("t_b")
    )
    return (
        hist.join(F.broadcast(totals))
        .select(
            "bucket",
            "n_a",
            "n_b",
            F.abs(F.col("n_a") * F.col("t_b") - F.col("n_b") * F.col("t_a")).alias(
                "dev_u"
            ),
        )
        .orderBy("bucket")
    )


def interval_coverage(orders: DataFrame, validity_days: int = 30) -> DataFrame:
    """Concurrent-interval counting by sweep line — "how many orders
    were inside their 30-day fulfillment window on each day": every
    interval contributes a +1 at its start day and a -1 after its end
    day, deltas aggregate per day, and one running sum over the
    calendar recovers the active count — the O(n log n) classic that
    replaces the quadratic day-x-interval containment join, and the
    occupancy primitive behind hypertable-style utilization views.

    Scale shape: the only shuffle is the per-day delta aggregation
    (bounded by distinct calendar days); the running-sum window sorts
    the DAY-aggregated relation — thousands of rows however many
    billions of intervals feed it — so the single-partition window is
    a non-issue by construction. Pure integer counts; oracle-exact."""
    starts = orders.select(
        F.to_date("o_orderdate").alias("day"), F.lit(1).alias("delta")
    )
    ends = orders.select(
        F.date_add(F.to_date("o_orderdate"), validity_days + 1).alias("day"),
        F.lit(-1).alias("delta"),
    )
    deltas = (
        starts.unionAll(ends)
        .groupBy("day")
        .agg(F.sum("delta").alias("d"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        deltas.withColumn("n_active", F.sum("d").over(w))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("n_active").cast("long").alias("n_active"),
        )
        .orderBy("day")
    )


def drift_ks(events: DataFrame) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the same parity
    snapshots as drift_report — the classic distribution test that
    catches shape changes a fixed-width histogram smooths over: D =
    max over observed values of |ECDF_a - ECDF_b|, computed as the
    exact integer max of |cum_a * N_b - cum_b * N_a| (cross-multiplied
    like drift_report, so no float division until the single final
    one).

    Plan shape: per-value conditional counts (one partial-agg shuffle
    bounded by distinct values), running sums over the value-ordered
    aggregate — the sort input is the distinct-value relation, not the
    events — and a one-row max. Output: one row (n_a, n_b, d_num,
    ks_d)."""
    per_val = events.select(
        "value", (F.col("event_id") % 2 == 0).alias("in_a")
    ).groupBy("value").agg(
        F.count(F.when(F.col("in_a"), 1)).alias("n_a"),
        F.count(F.when(~F.col("in_a"), 1)).alias("n_b"),
    )
    w = Window.orderBy("value").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per_val.select(
        F.sum("n_a").over(w).alias("cum_a"),
        F.sum("n_b").over(w).alias("cum_b"),
    )
    totals = per_val.agg(
        F.sum("n_a").alias("t_a"), F.sum("n_b").alias("t_b")
    )
    return (
        cum.join(F.broadcast(totals))
        .agg(
            F.min("t_a").alias("n_a"),
            F.min("t_b").alias("n_b"),
            F.max(
                F.abs(F.col("cum_a") * F.col("t_b") - F.col("cum_b") * F.col("t_a"))
            ).alias("d_num"),
        )
        .select(
            "n_a",
            "n_b",
            "d_num",
            (
                F.floor(
                    F.col("d_num") / (F.col("n_a") * F.col("n_b")) * 1e6 + F.lit(0.5)
                )
                / 1e6
            ).alias("ks_d"),
        )
    )


def table_checksum(
    events: DataFrame, orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """Order-independent table checksums — the cross-system migration
    validation primitive (exactly what proves THIS engine against the
    system it replaces): per table, XOR of md5-derived 60-bit row
    hashes plus the row count. XOR is commutative, associative, and
    overflow-free, so the checksum is partition-order-independent at
    any scale and mergeable across shards — unlike a SUM of hashes,
    which overflows, or any ordered digest, which forces a global
    sort. Two tables are (almost surely) identical iff (n, checksum)
    match.

    Plan shape: one map-side hash + XOR partial aggregate per table —
    no shuffle wider than one row each — then a 3-row union.
    Timestamps hash via their formatted string so engines with
    different physical timestamp encodings agree."""

    def row_hash(cols) -> F.Column:
        return F.conv(
            F.substring(F.md5(F.concat_ws("\x1f", *cols)), 1, 15), 16, 10
        ).cast("long")

    def leg(name: str, df: DataFrame, cols) -> DataFrame:
        return df.agg(
            F.lit(name).alias("table_name"),
            F.count("*").alias("n_rows"),
            F.expr("bit_xor(h)").alias("checksum"),
        )

    ev = events.select(
        row_hash(
            [
                F.col("event_id").cast("string"),
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("t"),
                F.col("user_id").cast("string"),
                F.col("event_type"),
                # quantized int, not a double->string cast: float
                # formatting (shortest-repr vs printf) differs between
                # engines, exact micro-units do not
                F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("string"),
            ]
        ).alias("h")
    )
    od = orders.select(
        row_hash(
            [
                F.col("o_orderkey").cast("string"),
                F.col("o_custkey").cast("string"),
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("string"),
            ]
        ).alias("h")
    )
    li = lineitem.select(
        row_hash(
            [
                F.col("l_orderkey").cast("string"),
                F.col("l_linenumber").cast("string"),
                F.floor(F.col("l_quantity") * 100 + F.lit(0.5)).cast("string"),
            ]
        ).alias("h")
    )
    return (
        leg("events", ev, None)
        .unionByName(leg("orders", od, None))
        .unionByName(leg("lineitem", li, None))
        .orderBy("table_name")
    )


def funnel_asof_chain(events: DataFrame, tolerance_hours: int = 2) -> DataFrame:
    """Time-bounded sequence-pattern matching (the MATCH_RECOGNIZE /
    window-funnel shape): for every purchase, the latest click at or
    before it within `tolerance_hours`, and for that click the latest
    view at or before IT within the same bound — view -> click ->
    purchase attribution as TWO chained as-of joins, each the engine's
    union + running-last window primitive (join_asof_tolerance), so
    the whole pattern costs two user-keyed window passes and zero
    theta joins.

    Ties collapse to MAX(event_id) per (user, ts) BEFORE the as-of
    (the join_asof_tolerance determinism rule, mirrored in the
    oracle's pre-collapsed ASOF legs). A stale click (outside the
    bound) nulls both itself and its view leg. Output: one row per
    purchase with the resolved chain."""
    tol = f"INTERVAL {tolerance_hours} HOURS"

    def leg(etype: str):
        return (
            events.filter(F.col("event_type") == etype)
            .groupBy("user_id", "ts")
            .agg(F.max("event_id").alias("event_id"))
        )

    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    )
    clicks, views = leg("click"), leg("view")

    def asof(left: DataFrame, l_ts: str, right: DataFrame, out: str) -> DataFrame:
        l = left.withColumn("t", F.col(l_ts)).withColumn("is_r", F.lit(0))
        r = right.select(
            "user_id",
            F.col("ts").alias("t"),
            F.struct(F.col("ts").alias("rt"), F.col("event_id").alias("rid")).alias(
                "rs"
            ),
        ).withColumn("is_r", F.lit(1))
        merged = l.unionByName(r, allowMissingColumns=True)
        w = (
            Window.partitionBy("user_id")
            .orderBy(F.col("t"), F.col("is_r").desc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return (
            merged.withColumn("m", F.last("rs", ignorenulls=True).over(w))
            .filter(F.col("is_r") == 0)
            .select(
                *[c for c in left.columns],
                F.col("m.rt").alias(f"{out}_ts"),
                F.col("m.rid").alias(f"{out}_id_raw"),
            )
        )

    step1 = asof(purchases, "p_ts", clicks, "click")
    step2 = asof(step1, "click_ts", views, "view")
    click_ok = F.col("click_ts") >= F.col("p_ts") - F.expr(tol)
    view_ok = click_ok & (
        F.col("view_ts") >= F.col("click_ts") - F.expr(tol)
    )
    return step2.select(
        "user_id",
        "purchase_id",
        F.when(click_ok, F.col("click_id_raw")).alias("click_id"),
        F.when(view_ok, F.col("view_id_raw")).alias("view_id"),
    ).orderBy("purchase_id")


def agg_boxplot(events: DataFrame) -> DataFrame:
    """Per-group five-number summary + Tukey outlier counts — the
    boxplot aggregate behind every distribution dashboard: discrete
    Q1/median/Q3 (percentile_approx at degenerate accuracy = exact
    data values, the anomaly_mad convention), IQR whiskers at 1.5x,
    and the count of points outside them. Two passes: one grouped
    quantile aggregate, one broadcast-join flag count — linear, no
    per-group sort partition."""
    q = events.groupBy("event_type").agg(
        F.expr("percentile_approx(value, 0.25, 1000000)").alias("q1"),
        F.expr("percentile_approx(value, 0.5, 1000000)").alias("med"),
        F.expr("percentile_approx(value, 0.75, 1000000)").alias("q3"),
    )
    flagged = events.join(F.broadcast(q), "event_type")
    iqr = F.col("q3") - F.col("q1")
    lo = F.col("q1") - 1.5 * iqr
    hi = F.col("q3") + 1.5 * iqr
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("q1"), 2).alias("q1"),
            F.round(F.min("med"), 2).alias("med"),
            F.round(F.min("q3"), 2).alias("q3"),
            F.count(F.when(F.col("value") < lo, 1)).alias("n_low_outliers"),
            F.count(F.when(F.col("value") > hi, 1)).alias("n_high_outliers"),
        )
        .orderBy("event_type")
    )


def k_anonymity_report(events: DataFrame, k: int = 5) -> DataFrame:
    """k-anonymity audit over quasi-identifiers — the privacy gate a
    training-data release runs next to pii_scrub: group the release by
    its quasi-identifier tuple (here event_type x hour-of-day x coarse
    user cohort) and report how many equivalence classes fall below k
    members and how many rows they expose. One partial-agg shuffle
    bounded by the quasi-identifier domain; exact integers.

    Output: one row — n_rows, n_classes, min_class_size,
    n_classes_below_k, n_rows_at_risk."""
    classes = events.groupBy(
        "event_type",
        F.hour("ts").alias("hod"),
        (F.col("user_id") % 100).alias("cohort"),
    ).agg(F.count("*").alias("sz"))
    return classes.agg(
        F.sum("sz").alias("n_rows"),
        F.count("*").alias("n_classes"),
        F.min("sz").alias("min_class_size"),
        F.count(F.when(F.col("sz") < k, 1)).alias("n_classes_below_k"),
        F.sum(F.when(F.col("sz") < k, F.col("sz")).otherwise(F.lit(0))).alias(
            "n_rows_at_risk"
        ),
    )


def chi2_independence(events: DataFrame) -> DataFrame:
    """Pearson chi-squared test of independence between event_type and
    day-of-week — the categorical-association member of the statistics
    family (drift_report is TV distance on one margin, drift_ks is
    continuous ECDF distance; this crosses two margins).

    Engine-stable arithmetic: per cell, (O*N - R*C) is an exact bigint
    (cast to double only for the final square/divide — both IEEE-exact
    conversions), the per-cell term is quantized half-up to 1e-6 and
    combined by an EXACT integer sum, so float summation order never
    enters. chi2 = sum over cells of (O - RC/N)^2 / (RC/N), computed as
    t^2 / (R*C*N) with t = O*N - R*C.

    Plan shape: one partial-agg shuffle bounded by the (type, dow)
    domain (5x7 cells); marginals derive from the cell relation itself
    (two tiny re-aggregations, broadcast back). Nothing row-scale ever
    re-shuffles. At 100 TB the cell table is still 35 rows."""
    cells = events.groupBy(
        F.col("event_type").alias("r"), F.dayofweek("ts").alias("c")
    ).agg(F.count("*").alias("o"))
    rows = cells.groupBy("r").agg(F.sum("o").alias("rm"))
    cols = cells.groupBy("c").agg(F.sum("o").alias("cm"))
    n = cells.agg(F.sum("o").alias("n"))
    t = (F.col("o") * F.col("n") - F.col("rm") * F.col("cm")).cast("double")
    term = t * t / (F.col("rm") * F.col("cm") * F.col("n")).cast("double")
    per_cell = (
        cells.join(F.broadcast(rows), "r")
        .join(F.broadcast(cols), "c")
        .join(F.broadcast(n))
        .select(
            "r",
            "c",
            "o",
            F.floor(term * 1e6 + F.lit(0.5)).cast("long").alias("term_u"),
        )
    )
    return per_cell.agg(
        F.count("*").alias("n_cells"),
        (
            (F.count_distinct("r") - 1) * (F.count_distinct("c") - 1)
        ).alias("dof"),
        F.sum("o").alias("n"),
        (F.sum("term_u") / F.lit(1e6)).alias("chi2"),
    )


def trend_lines(events: DataFrame) -> DataFrame:
    """Per-key ordinary-least-squares trend: slope and intercept of
    daily value against the day index, per event_type — the regression
    member of the statistics family (agg_correlation reports the
    normalized moment; this reports the fitted line a dashboard draws).

    Engine-stable arithmetic: y is quantized to exact integer cents
    (the source values carry two decimals), x is the integer day
    offset, so every moment (n, Sx, Sy, Sxx, Sxy) is an exact bigint;
    the closed-form slope/intercept numerators are combined in
    DECIMAL(38,0) (exact at any realistic scale) and the ONLY float
    ops are the two final divisions, one fixed IEEE sequence mirrored
    in the oracle.

    Plan shape: one partial-agg shuffle keyed by event_type computes
    all five moments in a single pass (no per-key sort, no window);
    the slope algebra is per-group scalar arithmetic on the 5-row
    aggregate. At 100 TB this is the canonical 'fit a line per key'
    one-pass plan."""
    first_day = events.agg(
        F.to_date(F.min("ts")).alias("d0")
    )
    base = events.join(F.broadcast(first_day)).select(
        "event_type",
        F.datediff(F.to_date("ts"), F.col("d0")).cast("long").alias("x"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("yu"),
    )
    m = base.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("yu").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("yu")).alias("sxy"),
    )
    dec = "decimal(38,0)"
    num = F.col("n").cast(dec) * F.col("sxy").cast(dec) - F.col("sx").cast(
        dec
    ) * F.col("sy").cast(dec)
    den = F.col("n").cast(dec) * F.col("sxx").cast(dec) - F.col("sx").cast(
        dec
    ) * F.col("sx").cast(dec)
    slope = num.cast("double") / den.cast("double") / F.lit(100.0)
    intercept = (
        F.col("sy").cast("double") / F.lit(100.0) - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    return m.select(
        "event_type",
        "n",
        (F.floor(slope * 1e6 + F.lit(0.5)) / F.lit(1e6)).alias("slope_per_day"),
        (F.floor(intercept * 1e6 + F.lit(0.5)) / F.lit(1e6)).alias("intercept"),
    ).orderBy("event_type")


def acf_daily(events: DataFrame, max_lag: int = 7) -> DataFrame:
    """Autocorrelation function of the daily event-count series at lags
    1..max_lag — the time-series-memory member of the statistics family
    (ewma_smoothing filters the series; this measures its structure,
    the seasonality/persistence diagnostic a pipeline runs before
    choosing window sizes).

    Engine-stable arithmetic: the series is exact integer counts; with
    D days and total S, each centered term is the exact bigint
    D*x_t - S (n-scaled centering avoids rational means), so both the
    lag-k numerator and the variance denominator are exact bigint sums.
    One float division per lag at the end, half-up 1e-6.

    Plan shape: the day series is a partial-agg rollup (one shuffle,
    |days| rows); the lag pairing is a self-join of that tiny series
    on d = d+k after a broadcast of the lag table — at 100 TB the
    series relation stays |days| rows, so the whole ACF costs one
    row-scale pass plus day-scale joins."""
    days = events.groupBy(F.to_date("ts").alias("d")).agg(
        F.count("*").alias("x")
    )
    tot = days.agg(
        F.count("*").alias("nd"), F.sum("x").alias("s")
    )
    lags = events.sparkSession.range(1, max_lag + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = days.alias("a")
    b = days.alias("b")
    dev = lambda side: (
        F.col("nd") * F.col(f"{side}.x") - F.col("s")
    )  # noqa: E731
    pairs = (
        a.join(F.broadcast(lags))
        .join(
            b,
            F.datediff(F.col("b.d"), F.col("a.d")) == F.col("lag"),
        )
        .join(F.broadcast(tot))
        .groupBy("lag")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(dev("a") * dev("b")).alias("num"),
        )
    )
    denom = days.join(F.broadcast(tot)).agg(
        F.sum(
            (F.col("nd") * F.col("x") - F.col("s"))
            * (F.col("nd") * F.col("x") - F.col("s"))
        ).alias("den")
    )
    return (
        pairs.join(F.broadcast(denom))
        .select(
            "lag",
            "n_pairs",
            (
                F.floor(
                    F.col("num").cast("double") / F.col("den").cast("double") * 1e6
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("acf"),
        )
        .orderBy("lag")
    )


def cusum_changepoint(events: DataFrame) -> DataFrame:
    """Tabular CUSUM change detection over the daily event-count
    series: upward and downward cumulative sums of deviation from the
    series mean, via the prefix-sum identity
    S+_t = P_t - min(P_0..P_t, 0) (and the max mirror for S-), which
    turns the clipped recursion max(0, S_{t-1} + dev_t) into TWO
    stock window passes — running sum then running extremum — with no
    per-row iteration anywhere.

    Engine-stable arithmetic: deviations are n-scaled exact bigints
    (D*x_t - S, summing to zero over the series), so prefix sums,
    running minima and both CUSUM statistics are exact integers; the
    only float op is the final /D presentation scaling, half-up 1e-6.

    Plan shape: one row-scale partial-agg to the day series, then two
    window passes over a single |days|-row partition — the window is
    over the global day order, fine at day cardinality forever (36.5k
    rows per century). Flags mark days whose CUSUM exceeds 4x the
    series' mean daily level."""
    days = events.groupBy(F.to_date("ts").alias("d")).agg(
        F.count("*").alias("x")
    )
    tot = days.agg(F.count("*").alias("nd"), F.sum("x").alias("s"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    base = days.join(F.broadcast(tot)).select(
        "d",
        "x",
        "nd",
        "s",
        (F.col("nd") * F.col("x") - F.col("s")).alias("dev"),
    )
    pref = base.withColumn("p", F.sum("dev").over(w))
    cusum = pref.select(
        "d",
        "x",
        "nd",
        "s",
        (F.col("p") - F.least(F.min("p").over(w), F.lit(0))).alias("up_u"),
        (F.greatest(F.max("p").over(w), F.lit(0)) - F.col("p")).alias("down_u"),
    )
    thresh = F.lit(4) * F.col("s")  # 4 * nd * mean  ==  4 * S
    return cusum.select(
        F.col("d").cast("string").alias("d"),
        "x",
        (F.floor(F.col("up_u") / F.col("nd").cast("double") * 1e6 + F.lit(0.5)) / 1e6).alias(
            "cusum_up"
        ),
        (
            F.floor(F.col("down_u") / F.col("nd").cast("double") * 1e6 + F.lit(0.5)) / 1e6
        ).alias("cusum_down"),
        (F.col("up_u") > thresh).alias("alarm_up"),
        (F.col("down_u") > thresh).alias("alarm_down"),
    ).orderBy("d")


def assoc_rules(
    lineitem: DataFrame, part: DataFrame, min_support_denom: int = 200
) -> DataFrame:
    """Market-basket association rules over order baskets of part
    brands: support / confidence / lift for every qualifying brand
    pair — the A-priori first-and-second pass expressed relationally
    (the co-occurrence census IS the candidate generation; TPC-H-ish
    baskets are bounded, so no candidate explosion).

    Engine-stable arithmetic: all counts are exact; the support
    threshold is the integer cross-multiplication cooc*denom >= n;
    confidence and lift are single float divisions of exact bigint
    products, quantized half-up to 1e-6.

    Plan shape at 100 TB: the basket relation is one distinct over the
    (order, brand) projection (brand arrives via a broadcast part
    join); the pair census self-joins baskets on the order key —
    co-partitioned, fan-out bounded by brands-per-order (<= 25 brands
    total, so <= 300 pairs/basket worst case); every aggregation is
    partial-agg'd. Ranking orders the RULE relation (pair-count-sized),
    never baskets."""
    # ONE shuffle total for candidate generation: collect_set collapses
    # each basket straight to its distinct sorted item array (no
    # separate distinct pass — set-dedup happens inside the aggregate),
    # then the x<y pairs are emitted MAP-SIDE from the array (codegen
    # transform/slice/flatten). The 50x probe measured the naive basket
    # self-join at 30x wall (duplicate-key pair fan-out through the
    # join); this aggregate-first shape is the same lesson
    # join_shuffle_hash_hint teaches.
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
                lambda x, i: F.transform(
                    F.slice(F.col("items"), i + 2, F.size(F.col("items"))),
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
    )
    ca = item_counts.select(
        F.col("item").alias("item_a"), F.col("cnt").alias("ca")
    )
    cb = item_counts.select(
        F.col("item").alias("item_b"), F.col("cnt").alias("cb")
    )
    q = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return (
        pairs.join(F.broadcast(ca), "item_a")
        .join(F.broadcast(cb), "item_b")
        .join(F.broadcast(n))
        .filter(F.col("cooc") * min_support_denom >= F.col("n"))
        .select(
            "item_a",
            "item_b",
            "cooc",
            q(F.col("cooc").cast("double") / F.col("n").cast("double")).alias(
                "support"
            ),
            q(F.col("cooc").cast("double") / F.col("ca").cast("double")).alias(
                "confidence"
            ),
            q(
                (F.col("cooc") * F.col("n")).cast("double")
                / (F.col("ca") * F.col("cb")).cast("double")
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "item_a", "item_b")
        .limit(50)
    )


def shortest_path_bounded(events: DataFrame, hops: int = 4) -> DataFrame:
    """K-hop-bounded single-source shortest path (Bellman-Ford, K
    relaxation rounds) over the pagerank_step interaction graph, from
    the minimum user node — the weighted-path member of the iterative
    family (components propagate ids, pagerank propagates mass, label
    propagation propagates votes; this propagates min-plus distance).

    Weights are exact small integers (MIN(event_id % 9) + 1 per edge),
    so every distance is an exact bigint and the K-round unrolled
    oracle is bit-identical — no float anywhere.

    Plan shape: each round is relax-then-min — a join of the frontier
    relation against edges on the source key plus one partial-agg min;
    shuffles carry (node, dist) pairs and edges, never events. K is a
    fixed bound (k-hop cheapest path is the declared semantics), so
    the plan is K chained rounds, lazily composed — no driver-side
    data access at all."""
    # edges is joined by every relaxation round and each round references
    # the previous dist TWICE (identity + relax arm): un-checkpointed,
    # the plan doubles per round (2^hops embedded copies of the source
    # aggregate, `hops` copies of the events groupBy). Lazy checkpoints
    # keep each round one join + one min-aggregate over materialized
    # inputs — the linear-in-rounds shape the docstring promises.
    edges = events.groupBy(
        F.col("user_id").alias("src"), (F.col("event_id") % 500).alias("dst")
    ).agg((F.min(F.col("event_id") % 9) + 1).alias("w")).localCheckpoint(eager=False)
    source = events.agg(F.min("user_id").alias("node")).select(
        "node", F.lit(0).cast("long").alias("dist")
    )
    dist = source
    for _ in range(hops):
        relax = dist.join(edges, dist.node == edges.src).select(
            F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("dist")
        )
        dist = (
            dist.unionByName(relax)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)
        )
    return dist.orderBy("node")


def kmv_intersection(events: DataFrame, k: int = 64) -> DataFrame:
    """Theta-sketch (KMV: k minimum hash values) distinct-count and
    set-intersection estimation between event-type user sets — the
    SET-OPERATION member of the mergeable-sketch family (HLL counts,
    GK quantiles, CMS frequencies, Bloom membership; KMV is the one
    that supports intersection estimates, Datasketches theta-sketch
    semantics).

    Fully deterministic: hashes are 60-bit md5-derived, the sketch is
    the k smallest per set (row_number over an exact integer order),
    theta is the k-th smallest, and estimates are single float
    divisions of exact bigints — so the WHOLE sketch, not just a
    bound, is mirrored in the oracle. exact_intersection rides along
    for the accuracy report (the minhash_estimate_report pattern).

    Plan shape at 100 TB: per-set sketches are top-k windows over the
    distinct-user relation (per-partition TakeOrdered under the hood);
    the intersection combines k-row sketches — driver-free, and the
    sketch relation is what a 1000-executor rollup would actually
    merge."""
    pairs = [("click", "view"), ("click", "purchase"), ("view", "purchase")]
    spark = events.sparkSession
    pair_df = tiny_df(spark, pairs, "type_a string, type_b string")
    hashed = (
        events.select("event_type", "user_id")
        .distinct()
        .select(
            "event_type",
            F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
            .cast("long")
            .alias("h"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("h")
    sk = hashed.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    theta = sk.groupBy("event_type").agg(
        F.max("h").alias("theta"), F.count("*").alias("n_kept")
    )
    two60 = float(2**60)
    est = theta.select(
        "event_type",
        "n_kept",
        "theta",
        F.when(F.col("n_kept") < k, F.col("n_kept").cast("double"))
        .otherwise(
            F.lit(float(k - 1)) * F.lit(two60) / F.col("theta").cast("double")
        )
        .alias("est"),
    )
    inter = (
        pair_df.join(
            sk.select(F.col("event_type").alias("type_a"), F.col("h").alias("ha")),
            "type_a",
        )
        .join(
            sk.select(F.col("event_type").alias("type_b"), F.col("h").alias("hb")),
            "type_b",
        )
        .filter(F.col("ha") == F.col("hb"))
        .join(
            est.select(F.col("event_type").alias("type_a"), F.col("theta").alias("ta"), F.col("n_kept").alias("ka")),
            "type_a",
        )
        .join(
            est.select(
                F.col("event_type").alias("type_b"),
                F.col("theta").alias("tb"),
                F.col("n_kept").alias("kb"),
            ),
            "type_b",
        )
        .filter(
            F.col("ha")
            <= F.least(
                F.when(F.col("ka") < k, F.lit(2**60)).otherwise(F.col("ta")),
                F.when(F.col("kb") < k, F.lit(2**60)).otherwise(F.col("tb")),
            )
        )
        .groupBy("type_a", "type_b")
        .agg(
            F.count("*").alias("n_common"),
            F.min(
                F.least(
                    F.when(F.col("ka") < k, F.lit(2**60)).otherwise(F.col("ta")),
                    F.when(F.col("kb") < k, F.lit(2**60)).otherwise(F.col("tb")),
                )
            ).alias("theta_min"),
        )
    )
    exact = (
        events.select(F.col("event_type").alias("type_a"), "user_id")
        .distinct()
        .join(
            events.select(F.col("event_type").alias("type_b"), "user_id").distinct(),
            "user_id",
        )
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("exact_intersection"))
    )
    q = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    ea = est.select(
        F.col("event_type").alias("type_a"), F.col("est").alias("est_a")
    )
    eb = est.select(
        F.col("event_type").alias("type_b"), F.col("est").alias("est_b")
    )
    return (
        pair_df.join(F.broadcast(inter), ["type_a", "type_b"], "left")
        .join(F.broadcast(ea), "type_a")
        .join(F.broadcast(eb), "type_b")
        .join(F.broadcast(exact), ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            q(F.col("est_a")).alias("est_a"),
            q(F.col("est_b")).alias("est_b"),
            F.coalesce("n_common", F.lit(0)).alias("n_common"),
            q(
                F.coalesce(
                    F.col("n_common").cast("double")
                    * F.lit(two60)
                    / F.col("theta_min").cast("double"),
                    F.lit(0.0),
                )
            ).alias("est_intersection"),
            F.coalesce("exact_intersection", F.lit(0)).alias("exact_intersection"),
        )
        .orderBy("type_a", "type_b")
    )


def grid_radius_join(events: DataFrame, radius: int = 5, cell: int = 5) -> DataFrame:
    """Grid-bucketed radius join: synthetic integer point coordinates
    are derived per event, and 'click' points are matched to 'error'
    points within L2 radius via a 3x3 neighbor-cell join — the spatial
    join at scale pattern (grid bucketing prunes the quadratic
    candidate space to co-located cells; the exact integer distance
    check runs only on candidates).

    Output is a one-row audit (match count + checksums), so the oracle
    can be the BRUTE-FORCE cross product in DuckDB — the strongest
    possible completeness check of the grid: any pair the 3x3 probe
    missed (or double-counted) breaks the comparison.

    Plan shape at 100 TB: cell id is the shuffle key (points land with
    their 9-cell neighborhood via a broadcast offset explode of the
    smaller side); per-cell candidate sets are bounded by local
    density, never |A| x |B|. All exact integers end to end."""
    pts = events.select(
        "event_id",
        "event_type",
        (((F.col("event_id") % 1000003) * 2654435761) % 1000).alias("x"),
        (((F.col("user_id") % 1000003) * 40503 + (F.col("event_id") % 1000003) * 97) % 1000).alias("y"),
    )
    a = pts.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("a_id"), F.col("x").alias("ax"), F.col("y").alias("ay")
    )
    b = pts.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("b_id"), F.col("x").alias("bx"), F.col("y").alias("by")
    )
    offsets = tiny_df(
        events.sparkSession,
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)], "dx int, dy int"
    )
    a_cells = a.join(F.broadcast(offsets)).select(
        "a_id",
        "ax",
        "ay",
        (F.floor(F.col("ax") / cell) + F.col("dx")).alias("cx"),
        (F.floor(F.col("ay") / cell) + F.col("dy")).alias("cy"),
    )
    b_cells = b.select(
        "b_id",
        "bx",
        "by",
        F.floor(F.col("bx") / cell).alias("cx"),
        F.floor(F.col("by") / cell).alias("cy"),
    )
    d2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    matches = a_cells.join(b_cells, ["cx", "cy"]).filter(d2 <= radius * radius)
    return matches.agg(
        F.count("*").alias("n_matches"),
        F.count_distinct("a_id").alias("n_a_matched"),
        F.count_distinct("b_id").alias("n_b_matched"),
        F.coalesce(F.sum(F.col("a_id") + F.col("b_id")), F.lit(0)).alias("id_sum"),
        F.coalesce(F.sum(d2), F.lit(0)).alias("d2_sum"),
    )


# Poisson(1) CDF thresholds scaled to the 55-bit mixed-hash space —
# exact integer literals so both engines draw identical weights.
_POISSON1_CDF = (0.36787944117144233, 0.7357588823428847, 0.9196986029286058, 0.9810118431238462)
_POISSON1_THRESH = tuple(int(p * (1 << 55)) for p in _POISSON1_CDF)


def bootstrap_ci(events: DataFrame, n_reps: int = 32) -> DataFrame:
    """Deterministic Poisson bootstrap confidence interval for the
    per-event_type mean value: each (row, replicate) draws a
    Poisson(1) weight from its md5 hash (the distributed bootstrap —
    no resampling pass needs the full dataset on one machine), each
    replicate's weighted mean is computed by partial aggregation, and
    the CI is the central order statistics of the replicate means.

    Deterministic end to end: weights come from exact integer
    threshold comparisons on the 60-bit hash, replicate means are one
    float division of exact bigint sums, and the order statistics
    (2nd / 31st of 32) are discrete picks — fully mirrored in SQL.

    Plan shape at 100 TB: the replicate dimension fans out map-side
    (broadcast range join: x32 rows INSIDE the scan stage, no shuffle
    of the fan-out), and partial agg collapses to (type, rep) pairs
    before the only shuffle. The quantile step runs on B rows per
    key."""
    # ONE md5 per row and NO row replication at all: every replicate's
    # (sum-of-weights, weighted-sum) pair is a conditional aggregate in
    # a SINGLE pass — 2*n_reps codegen aggregate expressions replace
    # the x n_reps row fan-out (the 50x probe measured the fan-out form
    # at ~150s; this form aggregates map-side into n_types rows).
    # Replicate b draws its Poisson(1) weight via an odd-multiplier
    # permutation of the row hash mod 2^55 — a bijection per replicate,
    # so every marginal stays uniform and the mix is three integer ops.
    h0 = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 15), 16, 10
        ).cast("long"),
        F.lit(1 << 55),
    )
    t = _POISSON1_THRESH
    base = events.select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("yu"),
        h0.alias("h0"),
    )
    aggs = []
    for b in range(n_reps):
        h_b = F.pmod(F.col("h0") * F.lit(2 * b + 1), F.lit(1 << 55))
        w_b = (
            F.when(h_b < t[0], 0)
            .when(h_b < t[1], 1)
            .when(h_b < t[2], 2)
            .when(h_b < t[3], 3)
            .otherwise(4)
        )
        aggs.append(F.sum(w_b).alias(f"sw{b}"))
        aggs.append(F.sum(w_b * F.col("yu")).alias(f"swy{b}"))
    wide = base.groupBy("event_type").agg(*aggs)
    stack_args = ", ".join(f"{b}, sw{b}, swy{b}" for b in range(n_reps))
    rep_means = wide.select(
        "event_type",
        F.expr(f"stack({n_reps}, {stack_args}) AS (b, sw, swy)"),
    ).select(
        "event_type",
        F.col("b").cast("long").alias("b"),
        F.floor(
            F.col("swy").cast("double") / F.col("sw").cast("double") * 1e4
            + F.lit(0.5)
        )
        .cast("long")
        .alias("m_u"),
    )
    wnd = Window.partitionBy("event_type").orderBy("m_u", "b")
    ranked = rep_means.withColumn("rn", F.row_number().over(wnd))
    ci = (
        ranked.filter((F.col("rn") == 2) | (F.col("rn") == n_reps - 1))
        .groupBy("event_type")
        .agg(
            (F.min("m_u") / F.lit(1e6)).alias("ci_lo"),
            (F.max("m_u") / F.lit(1e6)).alias("ci_hi"),
        )
    )
    point = base.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.floor(
            F.sum("yu").cast("double") / F.count("*").cast("double") * 1e4
            + F.lit(0.5)
        )
        .cast("long")
        .alias("mean_u"),
    )
    return (
        point.join(ci, "event_type")
        .select(
            "event_type",
            "n",
            (F.col("mean_u") / F.lit(1e6)).alias("mean"),
            "ci_lo",
            "ci_hi",
        )
        .orderBy("event_type")
    )


def l_diversity_report(events: DataFrame, l_threshold: int = 3) -> DataFrame:
    """l-diversity privacy audit: within each quasi-identifier
    equivalence class (the k_anonymity_report classes), count DISTINCT
    sensitive values (the value-bucket attribute) — a class can be
    k-anonymous yet expose its sensitive attribute if all members
    share one value; this is the audit that catches it (Machanavajjhala
    et al. 2007, the release gate after k_anonymity_report).

    One exploded-free pass: class cardinalities and distinct-sensitive
    counts come from a single partial-agg'd groupBy over the
    quasi-identifier + sensitive projection; exact integers only.

    Output: one row — n_classes, min_l, n_classes_below_l,
    n_rows_at_risk, n_sensitive_values."""
    per_class = (
        events.select(
            "event_type",
            F.hour("ts").alias("hod"),
            (F.col("user_id") % 100).alias("cohort"),
            F.floor(F.col("value") / 100).cast("long").alias("sens"),
        )
        .groupBy("event_type", "hod", "cohort")
        .agg(F.count("*").alias("sz"), F.count_distinct("sens").alias("l"))
    )
    n_sens = events.select(
        F.count_distinct(F.floor(F.col("value") / 100).cast("long")).alias(
            "n_sensitive_values"
        )
    )
    return per_class.join(F.broadcast(n_sens)).agg(
        F.count("*").alias("n_classes"),
        F.min("l").alias("min_l"),
        F.count(F.when(F.col("l") < l_threshold, 1)).alias("n_classes_below_l"),
        F.sum(
            F.when(F.col("l") < l_threshold, F.col("sz")).otherwise(F.lit(0))
        ).alias("n_rows_at_risk"),
        F.max("n_sensitive_values").alias("n_sensitive_values"),
    )


def window_percent_rank(events: DataFrame) -> DataFrame:
    """percent_rank + cume_dist per event_type over value — the
    normalized-rank members of the window family (window_rank covers
    rank/dense_rank; these are the distribution positions feature
    pipelines feed to models as scale-free covariates).

    Both are rational functions of exact integer ranks ((rank-1)/(n-1)
    and peer_count/n), one float division each — deterministic. The
    output is gated to a deterministic 1-in-199 event sample AFTER the
    window pass, so the driver compare stays light while every rank
    still reflects the full partition.

    Plan shape: one shuffle on event_type, per-partition sort on
    value; the sample filter cannot push below the window (it would
    change ranks) and Catalyst correctly keeps it above."""
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    q = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return (
        events.select(
            "event_id",
            "event_type",
            "value",
            q(F.percent_rank().over(w)).alias("pr"),
            q(F.cume_dist().over(w)).alias("cd"),
        )
        .filter(F.col("event_id") % 199 == 0)
        .orderBy("event_id")
    )


def temporal_reachability(events: DataFrame, rounds: int = 3) -> DataFrame:
    """Time-respecting (temporal) reachability: earliest-arrival
    propagation over the interaction graph where each edge can only be
    taken AT OR AFTER the traveler's arrival at its source — the
    temporal-graph member of the iterative family (information-flow /
    contagion semantics: a plain reachability overcounts paths that go
    backwards in time).

    Exact integer algebra: edge timestamps are floor-epoch seconds,
    arrival times propagate as MIN aggregates, the time-respecting
    constraint is an equi-join residual (t >= arrival) — every round is
    bit-identical and the oracle unrolls them as chained CTEs.

    Plan shape: per round, one equi-join of the (node, arrival)
    frontier against edges on the source key plus a partial-agg MIN;
    shuffles carry the edge relation and the node-bounded frontier.
    Rounds compose lazily — no driver data access."""
    # edges is joined by every round and each round references the
    # previous arr TWICE (identity + relax arm): lazy checkpoints stop
    # the 2^rounds subtree doubling and re-scan of events per round
    # (the shortest_path_bounded shape)
    edges = events.select(
        F.col("user_id").alias("src"),
        (F.col("event_id") % 500).alias("dst"),
        F.unix_timestamp("ts").alias("t"),
    ).localCheckpoint(eager=False)
    arr = events.agg(F.min("user_id").alias("node")).select(
        "node", F.lit(0).cast("long").alias("arrival")
    )
    for _ in range(rounds):
        relax = (
            arr.join(edges, arr.node == edges.src)
            .filter(F.col("t") >= F.col("arrival"))
            .select(F.col("dst").alias("node"), F.col("t").alias("arrival"))
        )
        arr = (
            arr.unionByName(relax)
            .groupBy("node")
            .agg(F.min("arrival").alias("arrival"))
            .localCheckpoint(eager=False)
        )
    return arr.orderBy("node")


def sequence_motifs(events: DataFrame, min_count: int = 5) -> DataFrame:
    """Frequent behavioral 3-motifs: the ordered event-type trigrams of
    each user's timeline, censused corpus-wide — sequential-pattern
    mining's first pass (the n-gram view of user behavior that feeds
    funnel design; funnel_counts checks ONE hypothesized order, this
    discovers which orders actually occur).

    One shuffle: the per-user timeline sort is a window (lead x2) over
    the user partition; the motif census is a partial agg bounded by
    |event_types|^3 = 125 cells. Ties in ts break on event_id, so the
    sequence — and therefore every count — is deterministic.

    Output: motif (a->b->c), n occurrences, n distinct users."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (
        events.select(
            "user_id",
            F.col("event_type").alias("e0"),
            F.lead("event_type", 1).over(w).alias("e1"),
            F.lead("event_type", 2).over(w).alias("e2"),
        )
        .filter(F.col("e2").isNotNull())
    )
    return (
        tri.groupBy("e0", "e1", "e2")
        .agg(
            F.count("*").alias("n"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .filter(F.col("n") >= min_count)
        .select(
            F.concat_ws("->", "e0", "e1", "e2").alias("motif"),
            "n",
            "n_users",
        )
        .orderBy(F.desc("n"), "motif")
    )


def cohort_retention(events: DataFrame, max_weeks: int = 8) -> DataFrame:
    """Weekly cohort-retention matrix: users grouped by first-seen
    week, each cohort's share of users still active N weeks later —
    THE product-analytics query (and a pipeline-health one: data
    sources that silently die show up as a retention cliff).

    Exact integers end to end: week indices are day-offsets DIV 7 from
    the corpus start, cohort sizes and active counts are exact
    distinct-user counts, the rate is one float division half-up 1e-6.

    Plan shape: one pass to (user, week) distinct activity (partial
    agg), one min-aggregate for cohorts, one co-partitioned join back
    on user, and a cells-bounded final aggregate (cohorts x offsets).
    The user-keyed join reuses the exchange of the distinct. Nothing
    row-scale shuffles twice."""
    d0 = events.agg(F.to_date(F.min("ts")).alias("d0"))
    act = (
        events.join(F.broadcast(d0))
        .select(
            "user_id",
            (F.datediff(F.to_date("ts"), F.col("d0")) / 7)
            .cast("long")
            .alias("week"),
        )
        .distinct()
    )
    cohorts = act.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    cohort_sizes = cohorts.groupBy("cohort_week").agg(
        F.count("*").alias("cohort_size")
    )
    cells = (
        act.join(cohorts, "user_id")
        .select(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
            "user_id",
        )
        .filter(F.col("week_offset") <= max_weeks)
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
    )
    return (
        cells.join(F.broadcast(cohort_sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            "cohort_size",
            (
                F.floor(
                    F.col("n_active").cast("double")
                    / F.col("cohort_size").cast("double")
                    * 1e6
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("retention"),
        )
        .orderBy("cohort_week", "week_offset")
    )


def forecast_backtest(events: DataFrame) -> DataFrame:
    """Seasonal-naive forecast backtest per event_type: predict each
    day's count with the count 7 days earlier (the standard baseline
    every real forecaster must beat), scored with MAE (exact bigint)
    and MAPE (per-day quantized ratios, exact sum) — the
    model-evaluation loop for the time-series family (acf_daily
    diagnoses the seasonality this baseline exploits).

    Plan shape: the day series is a partial agg; the lag pairing is a
    LAG window over (type, day) — day-cardinality state; the scores
    are one more tiny aggregate. Row-scale work is the single census
    pass, forever."""
    days = events.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count("*").alias("x"))
    w = Window.partitionBy("event_type").orderBy("d")
    paired = days.withColumn("pred", F.lag("x", 7).over(w)).filter(
        F.col("pred").isNotNull() & (F.col("x") > 0)
    )
    ape_u = F.floor(
        F.abs(F.col("x") - F.col("pred")).cast("double")
        / F.col("x").cast("double")
        * 1e6
        + F.lit(0.5)
    ).cast("long")
    return (
        paired.select("event_type", "x", "pred", ape_u.alias("ape_u"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_days"),
            F.sum(F.abs(F.col("x") - F.col("pred"))).alias("abs_err_sum"),
            (
                F.floor(
                    F.sum("ape_u").cast("double") / F.count("*").cast("double")
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("mape"),
        )
        .orderBy("event_type")
    )


def ab_test_report(events: DataFrame) -> DataFrame:
    """Two-sample proportion z-test for an A/B split (variant = user
    parity; metric = user ever purchases): the experiment-analysis
    twin of chi2_independence (that tests association generally; this
    reports effect direction and a decision for one planned contrast).

    Engine-stable: counts are exact; p1, p2, the pooled rate, the
    standard error (one IEEE sqrt) and z run in one fixed float
    sequence, quantized half-up 1e-6; the significance flag compares
    the QUANTIZED z against 1.96 so both engines decide identically.

    Plan shape: one distinct-user aggregate (variant, converted) — the
    z algebra runs on a 2-row relation."""
    # metric: user ever makes a HIGH-VALUE purchase — a partial
    # conversion (plain "ever purchases" saturates to 100% on dense
    # fixtures, collapsing the pooled variance)
    per_user = (
        events.select(
            "user_id",
            (F.col("user_id") % 2).alias("variant"),
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 150), 1
            )
            .otherwise(0)
            .alias("conv"),
        )
        .groupBy("user_id", "variant")
        .agg(F.max("conv").alias("converted"))
    )
    stats = per_user.groupBy("variant").agg(
        F.count("*").alias("n"), F.sum("converted").alias("k")
    )
    a = stats.filter(F.col("variant") == 0).select(
        F.col("n").alias("n0"), F.col("k").alias("k0")
    )
    b = stats.filter(F.col("variant") == 1).select(
        F.col("n").alias("n1"), F.col("k").alias("k1")
    )
    j = a.join(b)
    p0 = F.col("k0").cast("double") / F.col("n0").cast("double")
    p1 = F.col("k1").cast("double") / F.col("n1").cast("double")
    pp = (F.col("k0") + F.col("k1")).cast("double") / (
        F.col("n0") + F.col("n1")
    ).cast("double")
    se = F.sqrt(
        pp
        * (F.lit(1.0) - pp)
        * (
            F.lit(1.0) / F.col("n0").cast("double")
            + F.lit(1.0) / F.col("n1").cast("double")
        )
    )
    q = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    z = q((p1 - p0) / se)
    return j.select(
        "n0",
        "k0",
        "n1",
        "k1",
        q(p0).alias("p0"),
        q(p1).alias("p1"),
        z.alias("z"),
        (F.abs(z) > 1.96).alias("significant"),
    )


def pseudonymize_consistent(events: DataFrame, orders: DataFrame) -> DataFrame:
    """Consistent pseudonymization audit: user ids are replaced by a
    keyed deterministic token (md5-derived — the release-time
    tokenization step after the k-anonymity / l-diversity gates), and
    the audit proves REFERENTIAL CONSISTENCY survives: the same user
    maps to the same token everywhere, so every cross-table join
    cardinality is preserved exactly.

    Output: one row — distinct users, distinct tokens (must equal:
    collision check over the 60-bit space), join cardinality on raw
    ids vs on tokens (must equal), and a collision flag.

    Plan shape: tokenization is a map-only codegen expression (no
    lookup table to shuffle or leak — the token IS the function);
    the audit joins are key-aggregated before comparing."""
    tok = lambda c: F.substring(  # noqa: E731
        F.md5(F.concat(F.lit("pseu:"), c.cast("string"))), 1, 15
    )
    ev = events.select(F.col("user_id").alias("uid"), tok(F.col("user_id")).alias("utok"))
    cust = orders.select(
        F.col("o_custkey").alias("uid"), tok(F.col("o_custkey")).alias("utok")
    )
    raw_join = (
        ev.select("uid")
        .distinct()
        .join(cust.select("uid").distinct(), "uid")
        .agg(F.count("*").alias("raw_join_keys"))
    )
    tok_join = (
        ev.select("utok")
        .distinct()
        .join(cust.select("utok").distinct(), "utok")
        .agg(F.count("*").alias("tok_join_keys"))
    )
    card = ev.agg(
        F.count_distinct("uid").alias("n_users"),
        F.count_distinct("utok").alias("n_tokens"),
    )
    return (
        card.join(F.broadcast(raw_join))
        .join(F.broadcast(tok_join))
        .select(
            "n_users",
            "n_tokens",
            "raw_join_keys",
            "tok_join_keys",
            (F.col("n_users") == F.col("n_tokens")).alias("collision_free"),
            (F.col("raw_join_keys") == F.col("tok_join_keys")).alias(
                "join_preserving"
            ),
        )
    )


def training_matrix_pit(events: DataFrame) -> DataFrame:
    """Point-in-time-correct training-matrix assembly (the feature
    store's defining query): for every label event (a purchase), the
    user's feature vector as of STRICTLY BEFORE the label timestamp —
    trailing behavior counts and value mass — with zero possibility of
    label leakage, because the frame ends at the previous row.

    No as-of join needed when features derive from the same stream:
    one user-keyed window with frame (unbounded, -1) computes every
    trailing feature in a single pass — the plan a naive per-feature
    as-of join would need J shuffles for.

    Output gated to a deterministic 1-in-97 label sample after the
    window (ranks reflect the full history). Exact integers; the value
    mass is exact cents."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    feat = events.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "click", 1)).over(w), F.lit(0)
        ).alias("prior_clicks"),
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "view", 1)).over(w), F.lit(0)
        ).alias("prior_views"),
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "purchase", 1)).over(w), F.lit(0)
        ).alias("prior_purchases"),
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "purchase", cents)).over(w),
            F.lit(0),
        ).alias("prior_purchase_cents"),
        F.coalesce(F.count("*").over(w), F.lit(0)).alias("prior_events"),
    )
    return (
        feat.filter(
            (F.col("event_type") == "purchase") & (F.col("event_id") % 97 == 0)
        )
        .select(
            "event_id",
            "user_id",
            "prior_clicks",
            "prior_views",
            "prior_purchases",
            "prior_purchase_cents",
            "prior_events",
        )
        .orderBy("event_id")
    )


def target_encode_loo(lineitem: DataFrame) -> DataFrame:
    """Leakage-safe (leave-one-out) target encoding of a categorical
    column: each row's encoding is the category's mean target computed
    WITHOUT that row — (S_cat - y_i) / (n_cat - 1) — the standard
    anti-leakage construction for high-cardinality categorical
    features (plain target means leak the row's own label).

    One category-keyed partial agg supplies (S, n); the per-row
    encoding is pure algebra on the joined pair — no window, no
    second pass, exact integer cents with one quantized division.

    Output gated to a deterministic 1-in-199 orderkey sample."""
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    base = lineitem.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_returnflag").alias("cat"),
        cents.alias("y"),
    )
    agg = base.groupBy("cat").agg(
        F.sum("y").alias("s"), F.count("*").alias("n")
    )
    enc = (
        F.floor(
            (F.col("s") - F.col("y")).cast("double")
            / (F.col("n") - 1).cast("double")
            / F.lit(100.0)
            * 1e6
            + F.lit(0.5)
        )
        / F.lit(1e6)
    )
    return (
        base.join(F.broadcast(agg), "cat")
        .filter(F.col("l_orderkey") % 199 == 0)
        .select("l_orderkey", "l_linenumber", "cat", "y", enc.alias("loo_mean"))
        .orderBy("l_orderkey", "l_linenumber")
    )


def timeseries_topk_similar(
    events: DataFrame, query_user: int = 0, k: int = 10
) -> DataFrame:
    """Distributed top-k time-series similarity search (the
    REPOSE/streaming-similarity query shape): align every user's daily
    event-count series onto the corpus day grid (absent days = 0),
    z-normalize per user, and rank by squared Euclidean distance to
    the query user's normalized series — 'which users behave like this
    one over time', the retrieval primitive behind cohort lookalikes
    and anomaly triage.

    Engine-stable: counts are exact ints; mean is one IEEE division,
    std one correctly-rounded sqrt, and the distance is an ORDERED
    left fold over the day-sorted array (the cosine convention), so
    both engines produce bit-identical doubles. Plan: one (user, day)
    partial agg, a |users| x |days| grid join (days is the tiny
    broadcast side), per-user array assembly, broadcast query vector,
    TakeOrdered top-k — the corpus shuffles once on user_id."""
    day = F.to_date("ts").alias("day")
    counts = events.groupBy("user_id", day).agg(F.count("*").alias("c"))
    days = events.select(day).distinct()
    users = events.select("user_id").distinct()
    grid = (
        users.join(F.broadcast(days))
        .join(counts, ["user_id", "day"], "left")
        .fillna(0, ["c"])
    )
    vec = grid.groupBy("user_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "c"))),
            lambda s: s.getField("c").cast("double"),
        ).alias("v")
    )
    n = F.size("v").cast("double")
    mean = (
        F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x) / n
    )
    with_mean = vec.select("user_id", "v", mean.alias("m"))
    var = (
        F.aggregate(
            "v",
            F.lit(0.0),
            lambda acc, x: acc + (x - F.col("m")) * (x - F.col("m")),
        )
        / n
    )
    with_std = with_mean.select(
        "user_id",
        "v",
        "m",
        F.when(F.sqrt(var) == 0.0, F.lit(1.0)).otherwise(F.sqrt(var)).alias("s"),
    )
    # referenced twice (the query-vector filter and the scored scan):
    # checkpoint so the grid assembly + per-user z-normalization chain
    # (interpreted array folds) executes once
    znorm = with_std.select(
        "user_id",
        F.transform("v", lambda x: (x - F.col("m")) / F.col("s")).alias("z"),
    ).localCheckpoint(eager=False)
    q = znorm.filter(F.col("user_id") == query_user).select(F.col("z").alias("qz"))
    dist = F.aggregate(
        F.zip_with("z", "qz", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        znorm.join(F.broadcast(q))
        .filter(F.col("user_id") != query_user)
        .select("user_id", F.round(dist, 6).alias("znorm_dist"))
        .orderBy("znorm_dist", "user_id")
        .limit(k)
    )


def kaplan_meier_survival(events: DataFrame, horizon_hours: int = 72) -> DataFrame:
    """Kaplan-Meier survival estimator (Kaplan & Meier 1958 — public
    method) for time-to-first-purchase: per user, the clock starts at
    their first event; users whose first 'purchase' lands within
    `horizon_hours` are events at t = whole hours elapsed, everyone
    else is right-censored at the horizon. Output is the KM curve —
    one row per distinct event/censor time with the at-risk count,
    event count, censor count, and the product-limit survival
    estimate S(t) = prod_{t_i <= t} (1 - d_i / n_i).

    Determinism: elapsed hours are exact bigint micros DIV 3.6e9 (no
    calendar-boundary semantics to disagree on); counts are exact
    ints; each per-time factor is ONE IEEE division and the prefix
    product is a fixed left-to-right fold (IEEE multiply is exactly
    specified), so S(t) is bit-identical across engines.

    Plan shape: one shuffle on user_id builds the per-subject
    (t, event) table; everything after is a VALUE CENSUS bounded by
    horizon_hours+1 cells — the at-risk prefix sums, the sorted
    factor list (collected once, <=73 doubles), and the per-row
    prefix fold all run on the census relation, never on rows. At
    100 TB the shuffle carries users; the curve math touches ~73
    cells."""
    us = 3_600_000_000  # micros per hour
    per_user = events.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("tp"),
    )
    dh = (F.unix_micros(F.col("tp")) - F.unix_micros(F.col("t0"))) / F.lit(us)
    dh = F.floor(dh).cast("long")
    subj = per_user.select(
        F.when(
            F.col("tp").isNotNull() & (dh <= horizon_hours), dh
        )
        .otherwise(F.lit(horizon_hours))
        .alias("t"),
        (F.col("tp").isNotNull() & (dh <= horizon_hours)).cast("int").alias("event"),
    )
    census = subj.groupBy("t").agg(
        F.count("*").alias("n_at"),
        F.sum("event").alias("d_events"),
    )
    w_before = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.partitionBy()
    w_rn = Window.orderBy("t")
    risk = census.select(
        "t",
        "d_events",
        (F.col("n_at") - F.col("d_events")).alias("n_censored"),
        (
            F.sum("n_at").over(w_all)
            - F.coalesce(F.sum("n_at").over(w_before), F.lit(0))
        ).alias("n_risk"),
        F.row_number().over(w_rn).alias("rn"),
    ).withColumn(
        "factor",
        (F.col("n_risk") - F.col("d_events")).cast("double")
        / F.col("n_risk").cast("double"),
    )
    # collect_list order is not execution-stable; sort_array on the
    # (t, factor) struct pins the fold order to t ascending
    packed = risk.agg(
        F.expr(
            "transform(sort_array(collect_list(struct(t, factor))),"
            " x -> x.factor)"
        ).alias("fs")
    )
    out = risk.join(F.broadcast(packed)).select(
        "t",
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d_events").cast("long").alias("d_events"),
        F.col("n_censored").cast("long").alias("n_censored"),
        (
            F.floor(
                F.expr(
                    "aggregate(slice(fs, 1, rn), CAST(1.0 AS DOUBLE),"
                    " (a, x) -> a * x)"
                )
                * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("survival"),
    )
    return out.orderBy("t")


def logrank_test(events: DataFrame, horizon_hours: int = 72) -> DataFrame:
    """Two-group log-rank test (Mantel 1966, Peto & Peto 1972 — public
    method) comparing time-to-first-purchase between the user_id-parity
    arms, on the same subjects/censoring contract as
    kaplan_meier_survival: at each event time, observed arm-0 events
    vs the hypergeometric expectation d * n0/n, variance
    d*(n0/n)*(1-n0/n)*(n-d)/(n-1); chi2 = (O-E)^2 / V summed over
    event times — KM draws the two curves, this says whether they
    differ.

    Determinism: per-time O/E/V terms quantize to exact 1e-9 ints
    BEFORE summation (float sums over the census would be
    order-nondeterministic); the final chi2 is a fixed IEEE sequence.

    Plan shape: one user_id shuffle to subjects, then everything runs
    on the (arm, t) census (<=2*(horizon+1) cells): per-arm at-risk
    prefix sums, the per-time 2x2 algebra, and a one-row reduce."""
    us = 3_600_000_000
    per_user = events.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("tp"),
    )
    dh = F.floor(
        (F.unix_micros(F.col("tp")) - F.unix_micros(F.col("t0"))) / F.lit(us)
    ).cast("long")
    subj = per_user.select(
        F.pmod(F.col("user_id"), F.lit(2)).alias("arm"),
        F.when(F.col("tp").isNotNull() & (dh <= horizon_hours), dh)
        .otherwise(F.lit(horizon_hours))
        .alias("t"),
        (F.col("tp").isNotNull() & (dh <= horizon_hours)).cast("int").alias(
            "event"
        ),
    )
    census = subj.groupBy("arm", "t").agg(
        F.count("*").alias("n_at"), F.sum("event").alias("d")
    )
    w_arm = (
        Window.partitionBy("arm")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_tot = Window.partitionBy("arm")
    risk = census.select(
        "arm",
        "t",
        "d",
        (
            F.sum("n_at").over(w_tot)
            - F.coalesce(F.sum("n_at").over(w_arm), F.lit(0))
        ).alias("n_risk"),
    )
    a0 = risk.filter(F.col("arm") == 0).select(
        "t", F.col("d").alias("d0"), F.col("n_risk").alias("n0")
    )
    a1 = risk.filter(F.col("arm") == 1).select(
        "t", F.col("d").alias("d1"), F.col("n_risk").alias("n1")
    )
    # an arm with no subject AT this exact time still has everyone
    # not-yet-failed at risk; reconstruct its n_risk from the nearest
    # later census row is overkill at census scale — instead join on
    # the UNION of times with per-arm LOCF on at-risk counts
    times = a0.select("t").union(a1.select("t")).distinct()
    w_locf = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    g0 = times.join(a0, "t", "left").select(
        "t",
        F.coalesce(F.col("d0"), F.lit(0)).alias("d0"),
        F.last("n0", ignorenulls=True)
        .over(Window.orderBy(F.col("t").desc()).rowsBetween(Window.unboundedPreceding, 0))
        .alias("n0"),
    )
    g1 = times.join(a1, "t", "left").select(
        "t",
        F.coalesce(F.col("d1"), F.lit(0)).alias("d1"),
        F.last("n1", ignorenulls=True)
        .over(Window.orderBy(F.col("t").desc()).rowsBetween(Window.unboundedPreceding, 0))
        .alias("n1"),
    )
    both = (
        g0.join(g1, "t")
        .select(
            "t",
            "d0",
            "d1",
            F.coalesce(F.col("n0"), F.lit(0)).alias("n0"),
            F.coalesce(F.col("n1"), F.lit(0)).alias("n1"),
        )
        .withColumn("d", F.col("d0") + F.col("d1"))
        .withColumn("n", F.col("n0") + F.col("n1"))
        .filter((F.col("d") > 0) & (F.col("n") > 1))
    )
    frac0 = F.col("n0").cast("double") / F.col("n").cast("double")
    e0 = F.col("d").cast("double") * frac0
    v = (
        F.col("d").cast("double")
        * frac0
        * (F.lit(1.0) - frac0)
        * (F.col("n") - F.col("d")).cast("double")
        / (F.col("n") - 1).cast("double")
    )
    terms = both.select(
        "d0",
        F.floor(e0 * 1e9 + F.lit(0.5)).cast("long").alias("e0q"),
        F.floor(v * 1e9 + F.lit(0.5)).cast("long").alias("vq"),
    )
    agg = terms.agg(
        F.count("*").alias("n_times"),
        F.sum("d0").alias("o0"),
        F.sum("e0q").alias("se0"),
        F.sum("vq").alias("sv"),
    )
    num = F.col("o0").cast("double") - F.col("se0") / F.lit(1e9)
    chi2 = num * num / (F.col("sv") / F.lit(1e9))
    q = lambda c, s: F.floor(c * F.lit(s) + F.lit(0.5)) / F.lit(s)  # noqa: E731
    return agg.select(
        F.col("n_times").cast("long").alias("n_times"),
        F.col("o0").cast("long").alias("o0"),
        q(F.col("se0") / F.lit(1e9), 1e6).alias("e0"),
        q(chi2, 1e4).alias("chi2"),
        (chi2 > 3.841).alias("significant"),
    )


def seasonal_decompose(orders: DataFrame) -> DataFrame:
    """Additive seasonal decomposition of the daily-revenue series
    (classic moving-average method, Kendall & Stuart — public): trend =
    centered 7-day moving average, seasonal = re-centered per-weekday
    mean of the detrended series, residual = the rest. The engine adds
    it as the diagnostic twin of holt_linear_smoothing — WHERE the
    weekly cycle lives vs the smoothed level.

    Determinism: the day census is exact cents; the trend is ONE IEEE
    division of a 7-day integer sum, immediately re-quantized to exact
    cents, so the detrended series is integer; weekday means and the
    recentering mean are each one division over integer sums, quantized
    back to cents before subtraction. Weekday comes from epoch-day mod
    7 (identical arithmetic on both engines — no locale/DOW-origin
    dependence).

    Plan shape: one partial-agg shuffle to the ~2.4k-cell day census;
    the 7-row frame, the 7-cell weekday census, and the final joins all
    run on census-sized relations. Linear in fact rows at 100 TB."""
    census = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("yc")
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    trended = census.select(
        "day",
        "yc",
        F.when(
            F.count("*").over(w7) == 7,
            F.floor(
                F.sum("yc").over(w7).cast("double") / F.lit(7.0) + F.lit(0.5)
            ).cast("long"),
        ).alias("trend_c"),
    ).withColumn(
        "wd", F.pmod(F.datediff(F.col("day"), F.lit("1970-01-01")), F.lit(7))
    )
    det = trended.withColumn("det_c", F.col("yc") - F.col("trend_c"))
    wk = (
        det.filter(F.col("det_c").isNotNull())
        .groupBy("wd")
        .agg(
            F.floor(
                F.sum("det_c").cast("double") / F.count("*") + F.lit(0.5)
            )
            .cast("long")
            .alias("raw_s")
        )
    )
    center = wk.agg(
        F.floor(F.sum("raw_s").cast("double") / F.count("*") + F.lit(0.5))
        .cast("long")
        .alias("mean_s")
    )
    seasonal = wk.join(F.broadcast(center)).select(
        "wd", (F.col("raw_s") - F.col("mean_s")).alias("seasonal_c")
    )
    q2 = lambda c: F.floor(c.cast("double") / 100.0 * 100 + F.lit(0.5)) / 100.0  # noqa: E731
    return (
        det.join(F.broadcast(seasonal), "wd")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            q2(F.col("yc")).alias("revenue"),
            q2(F.col("trend_c")).alias("trend"),
            q2(F.col("seasonal_c")).alias("seasonal"),
            q2(
                F.col("yc") - F.col("trend_c") - F.col("seasonal_c")
            ).alias("residual"),
        )
        .filter(F.col("trend").isNotNull())
        .orderBy("day")
    )


def shapley_attribution(events: DataFrame) -> DataFrame:
    """EXACT Shapley-value attribution (Shapley 1953; marketing use per
    Dalessandro et al. 2012 — public methods) of conversions to the
    four touch channels (click/view/signup/error): coalition value
    v(S) = number of converting users whose touch-channel set is a
    subset of S, and each channel's credit is the classic weighted
    marginal sum. With 4 channels the subset lattice has 16 cells, so
    the whole computation is algebra over a 16-row census — no
    sampling, no driver loop.

    Determinism: phi is computed in units of 1/4! — the weights
    |S|!*(4-|S|-1)! are the exact integers {6,2,2,6}, so phi24 is an
    exact integer sum and sum(phi) = v(full) - v(empty) exactly
    (efficiency property, asserted in tests).

    Plan shape: ONE user_id shuffle builds the per-user channel
    bitmask + converted flag; everything downstream (mask census,
    subset lattice join, marginal sums) is broadcast algebra on <=64
    rows. Linear in events at 100 TB."""
    spark = events.sparkSession
    ch = F.col("event_type")
    per_user = events.groupBy("user_id").agg(
        (
            F.max(F.when(ch == "click", 1).otherwise(0))
            + F.max(F.when(ch == "view", 2).otherwise(0))
            + F.max(F.when(ch == "signup", 4).otherwise(0))
            + F.max(F.when(ch == "error", 8).otherwise(0))
        ).alias("mask"),
        F.max(F.when(ch == "purchase", 1).otherwise(0)).alias("conv"),
    )
    census = per_user.groupBy("mask").agg(F.sum("conv").alias("n_conv"))
    subsets = spark.range(16).select(F.col("id").cast("int").alias("s"))
    v = (
        subsets.join(
            F.broadcast(census),
            F.expr("(mask & s) = mask"),
            "left",
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("n_conv"), F.lit(0)).alias("v"))
    )
    channels = tiny_df(
        spark,
        [(0, "click"), (1, "view"), (2, "signup"), (3, "error")],
        "ch_bit int, channel string",
    )
    pairs = channels.join(
        subsets, F.expr("((s >> ch_bit) & 1) = 0")
    ).withColumn(
        "size_s",
        F.expr("((s >> 0) & 1) + ((s >> 1) & 1) + ((s >> 2) & 1) + ((s >> 3) & 1)"),
    ).withColumn(
        "w",
        F.when(F.col("size_s") == 0, 6)
        .when(F.col("size_s") == 3, 6)
        .otherwise(2),
    ).withColumn("s_with", F.expr("s | (1 << ch_bit)"))
    vs = v.select(F.col("s").alias("vs_s"), F.col("v").alias("v_without"))
    vw = v.select(F.col("s").alias("vw_s"), F.col("v").alias("v_with"))
    phi = (
        pairs.join(F.broadcast(vs), F.col("s") == F.col("vs_s"))
        .join(F.broadcast(vw), F.col("s_with") == F.col("vw_s"))
        .groupBy("ch_bit", "channel")
        .agg(
            F.sum(
                F.col("w") * (F.col("v_with") - F.col("v_without"))
            ).alias("phi24")
        )
    )
    tot = phi.agg(F.sum("phi24").alias("tot24"))
    return (
        phi.join(F.broadcast(tot))
        .select(
            "channel",
            F.col("phi24").cast("long").alias("phi24"),
            (
                F.floor(F.col("phi24").cast("double") / 24.0 * 1e6 + F.lit(0.5))
                / 1e6
            ).alias("phi"),
            (
                F.floor(
                    F.col("phi24").cast("double")
                    / F.col("tot24").cast("double")
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("credit_share"),
        )
        .orderBy("channel")
    )


def seasonal_anomaly_flags(orders: DataFrame, cutoff: float = 3.0) -> DataFrame:
    """Seasonality-aware anomaly detection: flag the days whose
    seasonal_decompose RESIDUAL is a robust outlier (|r - med| >
    cutoff * 1.4826 * MAD) — the composition anomaly_mad can't do
    (a raw-value gate fires on every holiday peak; gating the residual
    fires only on deviations the weekly cycle does NOT explain).

    Determinism: residuals are exact cents; both medians are DISCRETE
    percentiles (actual data values — the anomaly_mad convention);
    the score is one fixed IEEE sequence, quantized 1e-4.

    Plan shape: seasonal_decompose's census algebra + two one-row
    discrete-percentile aggregates over the ~2.4k-cell day census and
    a broadcast stats join. Linear at 100 TB."""
    dec = seasonal_decompose(orders)
    resid = dec.select(
        "day",
        "revenue",
        "residual",
        F.floor(F.col("residual") * 100 + F.lit(0.5)).cast("long").alias("rc"),
    )
    med = resid.agg(
        F.expr("percentile_approx(rc, 0.5, 1000000)").alias("med")
    )
    dev = resid.join(F.broadcast(med)).withColumn(
        "adev", F.abs(F.col("rc") - F.col("med"))
    )
    mad = dev.agg(F.expr("percentile_approx(adev, 0.5, 1000000)").alias("mad"))
    q4 = lambda c: F.floor(c * 1e4 + F.lit(0.5)) / 1e4  # noqa: E731
    return (
        dev.join(F.broadcast(mad))
        .filter(
            F.col("adev").cast("double")
            > F.lit(cutoff * 1.4826) * F.col("mad").cast("double")
        )
        .select(
            "day",
            "revenue",
            "residual",
            q4(
                F.col("adev").cast("double")
                / (F.lit(1.4826) * F.col("mad").cast("double"))
            ).alias("robust_score"),
        )
        .orderBy("day")
    )


def join_asof_next_order(events: DataFrame, orders: DataFrame) -> DataFrame:
    """FORWARD as-of join: for each event, the EARLIEST order of that
    user STRICTLY AFTER the event time — completes the as-of matrix
    (backward / nearest / tolerance / forward); the "what did the user
    do next" primitive behind conversion-lag and next-touch features.

    Same union + one-window shape as join_asof_latest_order, run
    forward: the frame is [current row, end) and order rows sort
    BEFORE event rows at equal time, so a same-instant order falls
    outside the event's frame — strictly-after semantics, by
    construction. Ties on the same future date resolve to the MIN
    o_orderkey (first() over the o_orderkey-ascending order). ONE
    shuffle + sort on the user key."""
    left = events.select(
        F.col("user_id").alias("uid"),
        F.col("ts").alias("t"),
        F.lit(0).alias("is_order"),
        F.col("event_id"),
        F.lit(None).cast("long").alias("o_orderkey"),
    )
    right = orders.select(
        F.col("o_custkey").alias("uid"),
        F.col("o_orderdate").cast("timestamp").alias("t"),
        F.lit(1).alias("is_order"),
        F.lit(None).cast("long").alias("event_id"),
        "o_orderkey",
    )
    w = (
        Window.partitionBy("uid")
        .orderBy(F.col("t"), F.col("is_order").desc(), F.col("o_orderkey"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    merged = left.unionByName(right).withColumn(
        "next_orderkey", F.first("o_orderkey", ignorenulls=True).over(w)
    )
    return merged.filter(F.col("is_order") == 0).select(
        "event_id", F.col("uid").alias("user_id"), "next_orderkey"
    )


def bradley_terry_strengths(events: DataFrame, rounds: int = 12) -> DataFrame:
    """Arena-style pairwise-strength fit (Bradley-Terry 1952, public
    model; the LLM-eval 'chatbot arena' ranking shape): consecutive
    events of one user form a MATCH between their event_types, won by
    the higher `value` (ties and same-type pairs dropped); the BT
    strength s_i then satisfies the minorization fixed point
    s_i = W_i / sum_j m_ij / (s_i + s_j), iterated a FIXED `rounds`
    times from s = 1 with mean-1 rescaling each round.

    Exact-integer micro-units (the pagerank_converged trick): strengths
    are bigint 1e6-units, each denominator term is one bigint floor
    division (m_ij * 1e12 DIV (s_i + s_j)), sums are exact, and the
    rescale is another floor division — every iteration is
    bit-identical across engines, so the whole fit is oracle-checkable
    with a DuckDB recursive CTE over score LISTS. Float summation order
    never enters.

    Plan shape: one user-clustered window pass builds matches; the
    match census (|entities|^2 cells — kilobytes for an arena roster)
    absorbs the corpus, and the fixed-rounds minorization then runs as
    driver algebra over the collected census in exact Python ints (the
    same floor-division arithmetic, bit-identical to the recursive-CTE
    oracle) — paying ONE Spark action instead of ~2 scheduled jobs per
    round on a <=5-row table. At 100 TB only the census pass touches
    data."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt_type = F.lead("event_type").over(w)
    nxt_value = F.lead("value").over(w)
    matches = (
        events.select(
            "user_id",
            "ts",
            "event_id",
            "event_type",
            "value",
            nxt_type.alias("b_type"),
            nxt_value.alias("b_value"),
        )
        .filter(
            F.col("b_type").isNotNull()
            & (F.col("b_type") != F.col("event_type"))
            & (F.col("value") != F.col("b_value"))
        )
        .select(
            F.when(F.col("value") > F.col("b_value"), F.col("event_type"))
            .otherwise(F.col("b_type"))
            .alias("winner"),
            F.when(F.col("value") > F.col("b_value"), F.col("b_type"))
            .otherwise(F.col("event_type"))
            .alias("loser"),
        )
    )
    # ONE action: the directed-win census (bounded by |entities|^2 —
    # an arena roster is hundreds of models, so the census is kilobytes).
    # The fixed-point iteration then runs as DRIVER ALGEBRA over the
    # census in exact Python ints — the same arithmetic the old 12-round
    # DataFrame loop ran (floor division on non-negative bigints, where
    # Spark's `div` and Python's `//` agree), without paying ~2 Spark
    # jobs of scheduling per round for a <=5-row table. Only the census
    # pass touches corpus-scale data.
    directed = matches.groupBy("winner", "loser").agg(F.count("*").alias("n")).collect()
    m: dict[tuple[str, str], int] = {}
    w_tot: dict[str, int] = {}
    for r in directed:
        m[(r.winner, r.loser)] = m.get((r.winner, r.loser), 0) + r.n
        m[(r.loser, r.winner)] = m.get((r.loser, r.winner), 0) + r.n
        w_tot[r.winner] = w_tot.get(r.winner, 0) + r.n
    types = sorted({i for i, _ in m})
    s_u = {i: 1_000_000 for i in types}
    for _ in range(rounds):
        denom = {i: 0 for i in types}
        for (i, j), mij in m.items():
            denom[i] += mij * 1_000_000_000_000 // (s_u[i] + s_u[j])
        stepped = {
            i: (w_tot.get(i, 0) * 1_000_000_000_000 // denom[i])
            if denom[i] > 0
            else s_u[i]
            for i in types
        }
        total = sum(stepped.values())
        cnt = len(types)
        s_u = {i: stepped[i] * cnt * 1_000_000 // total for i in types}
    n_matches = {i: 0 for i in types}
    for (i, _), mij in m.items():
        n_matches[i] += mij
    rows = [
        (i, w_tot.get(i, 0), n_matches[i], s_u[i] / 1e6) for i in types
    ]
    ranked = sorted(rows, key=lambda r: (-r[3], r[0]))
    rank_of = {r[0]: k + 1 for k, r in enumerate(ranked)}
    spark = events.sparkSession
    return tiny_df(
        spark,
        [(i, w, nm, s, rank_of[i]) for i, w, nm, s in rows],
        "event_type STRING, n_wins LONG, n_matches LONG, bt_score DOUBLE, rank LONG",
    ).orderBy("event_type")


def kcore_decomposition(events: DataFrame, k: int = 3, max_iter: int = 250) -> DataFrame:
    """k-core decomposition (Seidman 1983, public method): iteratively
    peel nodes of degree < k until the remaining subgraph — the k-core,
    the standard dense-community backbone a graph-curation stage keeps
    — is stable. Graph = the dense-id bipartite projection of events
    (user_id % 100 <-> 100 + event_id % 100, distinct undirected
    edges), matching the other graph-family fixtures.

    Driver-loop template (components/pagerank): each round is one
    degree aggregate + two semi joins that shrink the edge list; the
    only driver-side value is the surviving-node COUNT (the convergence
    scalar), and localCheckpoint truncates lineage. Rounds are bounded
    by the peeling depth (worst case O(|V|), typically a handful);
    everything shuffled is (u, v) longs, monotonically shrinking — at
    100 TB the first degree census is the only corpus-sized pass.
    Raises on an exhausted round budget rather than returning a
    non-fixed-point, like dedup_components."""
    e = events.select(
        (F.col("user_id") % 100).alias("u"),
        (100 + F.col("event_id") % 100).alias("v"),
    ).distinct()
    edges = (
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        # lazy: materialization rides the next round's keep.count()
        .localCheckpoint(eager=False)
    )
    prev = None
    converged = False
    for _ in range(max_iter):
        keep = (
            edges.groupBy("u")
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= k)
            .select("u")
            # lazy checkpoint BEFORE the count: the count both returns n
            # and materializes the survivor set in one job
            .localCheckpoint(eager=False)
        )
        n = keep.count()
        if n == prev:
            converged = True
            break
        prev = n
        edges = (
            edges.join(keep, "u", "left_semi")
            .join(keep.select(F.col("u").alias("v")), "v", "left_semi")
            .localCheckpoint(eager=False)
        )
    if not converged:
        raise RuntimeError(
            f"kcore_decomposition: peeling not stable after {max_iter} "
            f"rounds; raise max_iter"
        )
    return (
        edges.groupBy("u")
        .agg(F.count("*").alias("core_degree"))
        .select(
            F.col("u").cast("long").alias("node"),
            F.col("core_degree").cast("long").alias("core_degree"),
        )
        .orderBy("node")
    )
