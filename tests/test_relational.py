"""Relational operator unit tests: salted aggregation equivalence and
sketch-estimate tolerance."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from kinesis_stream_reader_spark.operators import graph, relational
from kinesis_stream_reader_spark.sources.tables import load_events, load_table


def test_salted_agg_equals_direct(spark, sf_dir):
    events = load_events(spark, sf_dir)
    direct = {
        (r.user_id, r.event_type): (r.n_events, r.sum_value)
        for r in relational.agg_count_by_key(events).collect()
    }
    salted = {
        (r.user_id, r.event_type): (r.n_events, r.sum_value)
        for r in relational.agg_count_by_key_salted(events).collect()
    }
    assert salted == direct


def test_approx_distinct_within_tolerance(spark, sf_dir):
    events = load_events(spark, sf_dir)
    exact = {
        r.event_type: r.n_users
        for r in relational.distinct_users_per_type(events).collect()
    }
    approx = {
        r.event_type: r.approx_users
        for r in relational.approx_distinct_users(events, rsd=0.02).collect()
    }
    for etype, n in exact.items():
        assert abs(approx[etype] - n) <= max(3, 0.1 * n)


def test_asof_join_respects_time_bound(spark, sf_dir):
    events = load_events(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    out = relational.join_asof_latest_order(events, orders)
    # joined back against orders: every matched order is at or before
    # the event time and belongs to the event's user
    from pyspark.sql import functions as F

    joined = (
        out.filter(F.col("asof_orderkey").isNotNull())
        .join(orders, out.asof_orderkey == orders.o_orderkey)
        .join(events.select("event_id", "ts"), "event_id")
    )
    bad = joined.filter(
        (F.col("o_custkey") != F.col("user_id"))
        | (F.col("o_orderdate").cast("timestamp") > F.col("ts"))
    )
    assert bad.count() == 0
    assert out.count() == events.count()  # left semantics: every event kept


def test_semi_join_never_duplicates_orders(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    out = relational.late_shipment_priorities(orders, lineitem)
    # semi-join: per-priority late count can never exceed the order count
    totals = {r.o_orderpriority: r.n for r in
              orders.groupBy("o_orderpriority").agg(F.count("*").alias("n")).collect()}
    for r in out.collect():
        assert 0 < r.n_late <= totals[r.o_orderpriority]


def test_large_volume_orders_all_above_threshold(spark, sf_dir):
    out = relational.large_volume_orders(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        qty_threshold=150.0,
    ).collect()
    assert all(r.total_qty > 150.0 for r in out)
    prices = [r.o_totalprice for r in out]
    assert prices == sorted(prices, reverse=True)


def test_orders_above_customer_avg_filter(spark, sf_dir):
    out = relational.orders_above_customer_avg(load_table(spark, sf_dir, "orders"))
    bad = out.filter(
        F.col("o_totalprice") <= 1.5 * F.col("cust_sum") / F.col("n_orders")
    )
    assert bad.count() == 0


def test_window_ntile_buckets_balanced(spark, sf_dir):
    events = load_events(spark, sf_dir)
    out = relational.window_ntile_stats(events, buckets=4)
    sizes = (
        out.groupBy("event_type", "quartile").agg(F.count("*").alias("n"))
        .groupBy("event_type")
        .agg(F.max("n").alias("mx"), F.min("n").alias("mn"))
    )
    # ntile guarantee: bucket sizes differ by at most 1 within a partition
    assert sizes.filter(F.col("mx") - F.col("mn") > 1).count() == 0
    assert out.agg(F.max("cume_dist")).first()[0] == 1.0


def test_approx_percentiles_close_to_exact(spark, sf_dir):
    events = load_events(spark, sf_dir)
    exact = {r.event_type: (r.p50, r.p95) for r in relational.agg_percentiles(events).collect()}
    approx = {r.event_type: (r.p50, r.p95) for r in relational.approx_percentiles(events).collect()}
    for etype, (p50, p95) in exact.items():
        a50, a95 = approx[etype]
        # percentile_approx error is bounded by rank, not value; at this
        # accuracy the value gap stays well within a few percent
        assert abs(a50 - p50) <= max(1.0, 0.05 * abs(p50))
        assert abs(a95 - p95) <= max(1.0, 0.05 * abs(p95))


def test_compact_latest_state_matches_window_form(spark, sf_dir):
    from pyspark.sql.window import Window

    events = load_events(spark, sf_dir)
    compact = {
        (r.user_id, r.event_type): (r.latest_event_id, r.latest_value)
        for r in relational.compact_latest_state(events).collect()
    }
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    windowed = {
        (r.user_id, r.event_type): (r.event_id, r.value)
        for r in events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    assert compact == windowed


def test_sliding_windows_double_count_tumbling(spark, sf_dir):
    events = load_events(spark, sf_dir)
    sliding_total = (
        relational.window_sliding_counts(events).agg(F.sum("n_events")).first()[0]
    )
    # width/slide = 2: every event is counted in exactly two windows
    assert sliding_total == 2 * events.count()


def test_sessionize_batch_invariants(spark, sf_dir):
    """Per-user session stats: totals add up, sessions split only on
    >gap boundaries (checked against a hand-rolled recount for a few
    users)."""
    events = load_events(spark, sf_dir)
    out = {r.user_id: r for r in relational.sessionize_batch(events, 30).collect()}
    totals = {
        r.user_id: r.n
        for r in events.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert set(out) == set(totals)
    for uid, row in out.items():
        assert row.total_events == totals[uid]
        assert 1 <= row.n_sessions <= row.total_events
        assert row.max_session_events <= row.total_events
    # hand recount for three users
    for uid in sorted(out)[:3]:
        ts = [
            r.ts
            for r in events.filter(F.col("user_id") == uid)
            .orderBy("ts", "event_id")
            .collect()
        ]
        n_sessions = 1 + sum(
            1
            for a, b in zip(ts, ts[1:])
            if (b - a).total_seconds() > 30 * 60
        )
        assert out[uid].n_sessions == n_sessions


def test_small_quantity_revenue_matches_window_form(spark, sf_dir):
    """The decorrelated agg+join must equal the window-function
    formulation of the same correlated subquery."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    from pyspark.sql.window import Window

    brand_lines = lineitem.join(
        part.filter(F.col("p_brand") == "Brand#3").select("p_partkey"),
        lineitem.l_partkey == F.col("p_partkey"),
    )
    w = Window.partitionBy("l_partkey")
    expected = (
        brand_lines.withColumn("avg_qty", F.avg("l_quantity").over(w))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            F.round(
                (F.sum(F.col("l_extendedprice").cast("decimal(18,2)")) / 7.0).cast(
                    "double"
                ),
                4,
            ).alias("avg_yearly")
        )
        .collect()[0]
    )
    got = relational.small_quantity_revenue(lineitem, part).collect()[0]
    assert got.avg_yearly == expected.avg_yearly


def test_order_priority_counts_semi_join_bound(spark, sf_dir):
    """Every counted order is unique (semi join: no fan-out) and the
    total never exceeds the quarter's order count."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    out = relational.order_priority_counts(orders, lineitem).collect()
    in_window = orders.filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-04-01")
    ).count()
    assert sum(r.order_count for r in out) <= in_window


def test_market_share_bounded(spark, sf_dir):
    out = relational.market_share(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    ).collect()
    assert out, "market_share should produce rows at sf>=0.01"
    assert all(0.0 <= r.mkt_share <= 1.0 for r in out)


def test_customer_order_distribution_accounts_for_all_customers(spark, sf_dir):
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    out = relational.customer_order_distribution(customer, orders).collect()
    assert sum(r.custdist for r in out) == customer.count()
    assert sum(r.c_count * r.custdist for r in out) == orders.count()


def test_skew_profile_top1_matches_direct(spark, sf_dir):
    events = load_events(spark, sf_dir)
    out = relational.skew_profile(events, k=10).collect()
    assert len(out) == 10
    assert [r.n_events for r in out] == sorted(
        [r.n_events for r in out], reverse=True
    )
    top_direct = (
        events.groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "user_id")
        .first()
    )
    assert out[0].user_id == top_direct.user_id
    assert sum(r.share for r in out) <= 1.0 + 1e-9


def test_rolling_active_users_brute_force(spark, sf_dir):
    events = load_events(spark, sf_dir)
    out = {
        r.day: r.active_users
        for r in relational.rolling_active_users(events, 7).collect()
    }
    pairs = {
        (r.day.isoformat(), r.user_id)
        for r in events.select(
            F.to_date("ts").alias("day"), "user_id"
        ).distinct().collect()
    }
    import datetime

    days = sorted({d for d, _ in pairs})
    for d in days:
        d0 = datetime.date.fromisoformat(d)
        expect = len(
            {
                u
                for (pd_, u) in pairs
                if 0 <= (d0 - datetime.date.fromisoformat(pd_)).days <= 6
            }
        )
        assert out[d] == expect, d


def test_product_profit_covers_only_matching_parts(spark, sf_dir):
    """Profit rows only for nations that supply a 'gear' part line;
    re-deriving the grand total through an independent ungrouped sum
    must match the grouped sum."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    nation = load_table(spark, sf_dir, "nation")
    out = relational.product_profit(lineitem, orders, supplier, part, nation).collect()
    from decimal import Decimal

    total_grouped = round(sum(Decimal(str(r.profit)) for r in out), 2)
    direct = (
        lineitem.join(part, lineitem.l_partkey == part.p_partkey)
        .filter(F.col("p_name").contains("gear"))
        .agg(
            F.sum(
                (
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    - F.col("p_retailprice") * F.col("l_quantity")
                ).cast("decimal(18,4)")
            ).alias("total")
        )
        .collect()[0]
        .total
    )
    assert abs(total_grouped - round(Decimal(direct), 2)) <= Decimal("0.01") * len(out)


def test_waiting_suppliers_brute_force(spark, sf_dir):
    """Unique-last-shipper counts in multi-supplier orders, re-derived
    row-at-a-time from raw lines."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    out = relational.waiting_suppliers(lineitem, supplier, k=10).collect()
    per = {}
    for r in lineitem.collect():
        key = (r.l_orderkey, r.l_suppkey)
        per[key] = max(per.get(key, r.l_shipdate), r.l_shipdate)
    orders = {}
    for (ok, sk), last in per.items():
        orders.setdefault(ok, []).append((sk, last))
    waits = {}
    for ok, supps in orders.items():
        if len(supps) < 2:
            continue
        last = max(t for _, t in supps)
        at_max = [sk for sk, t in supps if t == last]
        if len(at_max) == 1:
            waits[at_max[0]] = waits.get(at_max[0], 0) + 1
    expect = sorted(waits.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert [(r.s_suppkey, r.numwait) for r in out] == expect


def test_source_mixture_weights_invariants(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = relational.source_mixture_weights(docs).collect()
    assert abs(sum(r.share for r in out) - 1.0) < 1e-4
    assert docs.count() == sum(r.n_docs for r in out)
    target = 1.0 / len(out)
    for r in out:
        assert 0 < r.weight <= 1.0
        if r.share <= target:  # under-represented sources are never downsampled
            assert r.weight == 1.0


def test_reservoir_per_key_stability(spark, sf_dir):
    """Picks are k smallest md5 orders per group, and survive deletion
    of rows outside the reservoir."""
    import hashlib

    docs = load_table(spark, sf_dir, "documents")
    out = relational.reservoir_per_key(docs, k=5).collect()
    by_src = {}
    for r in docs.select("source", "doc_id").collect():
        h = hashlib.md5(str(r.doc_id).encode()).hexdigest()
        by_src.setdefault(r.source, []).append((h, r.doc_id))
    for src, rows in by_src.items():
        expect = [d for _, d in sorted(rows)[:5]]
        got = [r.doc_id for r in out if r.source == src]
        assert got == expect, src
    # deleting rows outside the reservoir never disturbs the picks:
    # the old top-k hashes are still the top-k among any superset of them
    picked = {r.doc_id for r in out}
    survivors = docs.filter(
        F.col("doc_id").isin(list(picked)) | (F.col("doc_id") % 3 == 0)
    )
    again = relational.reservoir_per_key(survivors, k=5).collect()
    assert [(r.source, r.pick, r.doc_id) for r in again] == [
        (r.source, r.pick, r.doc_id) for r in out
    ]


def test_min_cost_supplier_achieves_per_part_min(spark, sf_dir):
    """Every returned (part, supplier) pair must achieve the true
    minimum line price for that part among region suppliers — the
    decorrelated window must not leak a non-min row."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    out = relational.min_cost_supplier(
        lineitem, supplier, part, nation, region
    ).collect()
    if not out:
        return
    euro_sup = {
        r.s_suppkey
        for r in supplier.join(
            nation, supplier.s_nationkey == nation.n_nationkey
        )
        .join(region, nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == "EUROPE")
        .collect()
    }
    mins = {}
    for r in (
        lineitem.join(part, lineitem.l_partkey == part.p_partkey)
        .filter((F.col("p_size") == 15) & F.col("p_type").endswith("ANDARD"))
        .collect()
    ):
        if r.l_suppkey in euro_sup:
            key = r.l_partkey
            price = round(r.l_extendedprice, 2)
            mins[key] = min(mins.get(key, price), price)
    for row in out:
        assert abs(row.supply_cost - mins[row.p_partkey]) < 1e-6


def test_important_stock_threshold_and_total(spark, sf_dir):
    """Returned parts each exceed fraction*total; the excluded rest
    must not (brute-force recheck of the window-computed threshold)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    out = {
        r.l_partkey: r.part_value
        for r in relational.important_stock(lineitem, supplier, nation).collect()
    }
    nat_sup = {
        r.s_suppkey
        for r in supplier.join(nation, supplier.s_nationkey == nation.n_nationkey)
        .filter(F.col("n_name") == "NATION_3")
        .collect()
    }
    per_part = {}
    for r in lineitem.collect():
        if r.l_suppkey in nat_sup:
            per_part[r.l_partkey] = per_part.get(r.l_partkey, 0.0) + round(
                r.l_extendedprice, 2
            )
    threshold = sum(per_part.values()) / len(per_part) * 2.0
    expect = {k for k, v in per_part.items() if v > threshold}
    assert set(out) == expect


def test_supplier_part_counts_excludes_blacklist(spark, sf_dir):
    """No blacklisted (acctbal<1500) supplier may contribute to any
    cell, and counts are bounded by the supplier population."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    out = relational.supplier_part_counts(lineitem, supplier, part).collect()
    n_ok_suppliers = supplier.filter(F.col("s_acctbal") >= 1500).count()
    assert out, "expected at least one (brand, type, size) cell"
    for row in out:
        assert 0 < row.supplier_cnt <= n_ok_suppliers
        assert row.p_brand != "Brand#4"
        assert not row.p_type.startswith("SMALL")


def test_excess_inventory_suppliers_dominance(spark, sf_dir):
    """Each returned supplier must truly dominate (>50% of the 1997
    shipped quantity) at least one blue-prefix part."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    nation = load_table(spark, sf_dir, "nation")
    out = relational.excess_inventory_suppliers(
        lineitem, supplier, part, nation
    ).collect()
    blue = {r.p_partkey for r in part.filter(F.col("p_name").startswith("blue")).collect()}
    shipped = {}
    for r in lineitem.filter(F.year("l_shipdate") == 1997).collect():
        if r.l_partkey in blue:
            k = (r.l_partkey, r.l_suppkey)
            shipped[k] = shipped.get(k, 0.0) + r.l_quantity
    part_total = {}
    for (pk, _sk), q in shipped.items():
        part_total[pk] = part_total.get(pk, 0.0) + q
    dominant = {sk for (pk, sk), q in shipped.items() if q > 0.5 * part_total[pk]}
    name_of = {r.s_suppkey: r.s_name for r in supplier.collect()}
    dominant_names = {name_of[s] for s in dominant}
    for row in out:
        assert row.s_name in dominant_names


def test_apply_mixture_weights_subset_and_rates(spark, sf_dir):
    """Survivors are a subset of the corpus; a weight-1.0 source (the
    smallest) keeps every doc; heavier sources are downsampled to
    roughly their flattening weight."""
    docs = load_table(spark, sf_dir, "documents")
    out = relational.apply_mixture_weights(docs)
    kept = {r.doc_id for r in out.collect()}
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    assert kept <= all_ids
    weights = {
        r.source: r.weight
        for r in relational.source_mixture_weights(docs).collect()
    }
    per_source_total = {
        r.source: r.n for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    per_source_kept = {
        r.source: r.n
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    for src, w in weights.items():
        n, k = per_source_total[src], per_source_kept.get(src, 0)
        if w >= 0.999999:
            assert k == n, f"{src}: weight-1 source must keep all docs"
        else:
            # md5 gate is uniform: expect ~w*n, allow generous slack
            assert abs(k - w * n) <= max(6, 0.35 * n * w), (src, k, w * n)


def test_priority_mix_shift_matches_counter_difference(spark, sf_dir):
    """exceptAll multiplicity must equal max(0, count_a - count_b)
    per priority — the bag-semantics contract distinct EXCEPT loses."""
    from collections import Counter

    orders = load_table(spark, sf_dir, "orders")
    got = {
        r.o_orderpriority: r.surplus
        for r in relational.priority_mix_shift(orders).collect()
    }
    rows = orders.select(
        F.year("o_orderdate").alias("y"), "o_orderpriority"
    ).collect()
    ca = Counter(r.o_orderpriority for r in rows if r.y == 1995)
    cb = Counter(r.o_orderpriority for r in rows if r.y == 1996)
    expect = {p: ca[p] - cb[p] for p in ca if ca[p] > cb[p]}
    assert got == expect


def test_props_map_stats_unknown_keys_survive(spark, sf_dir):
    """The map parse must keep keys a fixed struct schema would drop."""
    df = spark.createDataFrame(
        [('{"k": 1}',), ('{"k": 2, "extra": 10}',), ('{"other": 5}',)],
        "props string",
    )
    got = {r.prop_key: (r.n, r.vsum) for r in relational.props_map_stats(df).collect()}
    assert got == {"k": (2, 3), "extra": (1, 10), "other": (1, 5)}


def test_gap_fill_locf_invariants(spark, sf_dir):
    """Dense grid per user (consecutive hours, no holes), observed
    hours keep their values, gap hours carry the previous value."""
    events = load_events(spark, sf_dir)
    rows = relational.gap_fill_locf(events).collect()
    from collections import defaultdict
    from datetime import datetime, timedelta

    by_user = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append(r)
    assert len(by_user) == events.select("user_id").distinct().count()
    for uid, rs in list(by_user.items())[:20]:
        hours = [datetime.strptime(r.hour, "%Y-%m-%d %H:%M:%S") for r in rs]
        assert all(
            b - a == timedelta(hours=1) for a, b in zip(hours, hours[1:])
        ), f"user {uid}: grid not dense"
        assert rs[0].n_events > 0, "series must start at first observation"
        prev = None
        for r in rs:
            if r.n_events == 0:
                assert r.filled_value == prev, "gap must carry last value"
            prev = r.filled_value


def test_top_k_per_group_agg_matches_window_form(spark, sf_dir):
    """The aggregate top-k must equal the row_number()<=k window form."""
    from pyspark.sql.window import Window

    events = load_events(spark, sf_dir)
    agg_form = {
        (r.event_type, r.rank): (r.user_id, r.n_events)
        for r in relational.top_k_per_group_agg(events, k=3).collect()
    }
    counts = events.groupBy("event_type", "user_id").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("event_type").orderBy(
        F.col("cnt").desc(), F.col("user_id").desc()
    )
    win_form = {
        (r.event_type, r.rn): (r.user_id, r.cnt)
        for r in counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .collect()
    }
    assert agg_form == win_form


def test_snapshot_diff_classifies_all_three_change_types(spark, sf_dir):
    """Every key ending in 3 is an insert, ending in 7 a delete, and
    multiples of 5 (present in both snapshots) an update; nothing else
    appears in the diff."""
    orders = load_table(spark, sf_dir, "orders")
    diff = relational.snapshot_diff(
        relational.snapshot_old(orders), relational.snapshot_new(orders)
    ).collect()
    assert diff
    for r in diff:
        k = r.o_orderkey
        if r.change_type == "insert":
            assert k % 10 == 3 and r.old_price is None
        elif r.change_type == "delete":
            assert k % 10 == 7 and r.new_price is None
        else:
            assert r.change_type == "update" and k % 5 == 0
            assert abs(r.new_price - r.old_price * 1.1) < 1e-6


def test_scd2_intervals_tile_each_user_without_overlap(spark, sf_dir):
    """Per user: intervals are disjoint, contiguous (valid_to == next
    valid_from), and exactly one open (NULL valid_to) current row."""
    events = load_events(spark, sf_dir)
    rows = relational.scd2_from_changelog(events).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    assert by_user
    for user, ivs in by_user.items():
        ivs.sort(key=lambda r: r.valid_from_us)
        assert sum(1 for r in ivs if r.valid_to_us is None) == 1
        assert ivs[-1].valid_to_us is None
        for a, b in zip(ivs, ivs[1:]):
            assert a.valid_to_us == b.valid_from_us
            assert a.state != b.state


def test_incremental_merge_equals_full_recompute(spark, sf_dir):
    events = load_events(spark, sf_dir)
    full = {
        r.event_type: (r.n_events, round(r.sum_value, 4))
        for r in events.groupBy("event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .collect()
    }
    merged = {
        r.event_type: (r.n_events, r.sum_value)
        for r in relational.incremental_agg_merge(events).collect()
    }
    assert merged == full


def test_hll_mergeable_estimate_within_tolerance(spark, sf_dir):
    """Merging per-day HLL sketches must estimate per-type distinct
    users within sketch error of the exact count."""
    events = load_events(spark, sf_dir)
    exact = {
        r.event_type: r.n_users
        for r in relational.distinct_users_per_type(events).collect()
    }
    approx = {
        r.event_type: r.approx_users
        for r in relational.hll_mergeable_distinct(events).collect()
    }
    for etype, n in exact.items():
        assert abs(approx[etype] - n) <= max(3, 0.05 * n)


def test_corpus_shuffle_is_a_contiguous_permutation(spark, sf_dir):
    """Positions are dense 1..n per shard and the hash order is not the
    identity (the corpus really is permuted)."""
    docs = load_table(spark, sf_dir, "documents")
    rows = relational.corpus_shuffle_shards(docs, n_shards=8).collect()
    assert len(rows) == docs.count()
    by_shard: dict[int, list] = {}
    for r in rows:
        assert r.shard == r.doc_id % 8
        by_shard.setdefault(r.shard, []).append(r)
    identity = True
    for members in by_shard.values():
        members.sort(key=lambda r: r.position)
        assert [r.position for r in members] == list(range(1, len(members) + 1))
        ids = [r.doc_id for r in members]
        if ids != sorted(ids):
            identity = False
    assert not identity


def test_pagerank_step_conserves_damped_mass(spark, sf_dir):
    """Every source distributes exactly rank 1.0 across its out-edges,
    so sum(rank') = 0.15 * |dst nodes| + 0.85 * |src nodes|."""
    events = load_events(spark, sf_dir)
    ranks = relational.pagerank_step(events).collect()
    n_dst = len(ranks)
    n_src = (
        events.select("user_id", (F.col("event_id") % 500).alias("d"))
        .distinct()
        .select("user_id")
        .distinct()
        .count()
    )
    total = sum(r.rank for r in ranks)
    assert abs(total - (0.15 * n_dst + 0.85 * n_src)) < 1e-3
    assert all(r.rank > 0 for r in ranks)


def test_pagerank_converged_reaches_stationary_mass_balance(spark, sf_dir):
    """At the fixed point, total rank equals 0.15*|V| + 0.85*(rank mass
    sitting on nodes that have out-edges) — dangling nodes leak exactly
    their damped mass in the simple variant."""
    events = load_events(spark, sf_dir)
    ranks = {r.node: r.rank for r in relational.pagerank_converged(events).collect()}
    edges = (
        events.select(F.col("user_id").alias("src"), (F.col("event_id") % 500).alias("dst"))
        .distinct()
    )
    srcs = {r.src for r in edges.select("src").distinct().collect()}
    total = sum(ranks.values())
    src_mass = sum(v for k, v in ranks.items() if k in srcs)
    assert abs(total - (0.15 * len(ranks) + 0.85 * src_mass)) < 0.05
    assert all(v >= 0.15 - 1e-9 for v in ranks.values())


def test_source_quality_report_rates_bounded_and_counts_add_up(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    from kinesis_stream_reader_spark.operators.text import source_quality_report

    rows = source_quality_report(docs).collect()
    assert sum(r.n_docs for r in rows) == docs.count()
    for r in rows:
        assert 0.0 <= r.len_retention <= 1.0
        assert 0.0 <= r.dup_rate <= 1.0
        assert r.total_tokens > 0 and r.n_langs >= 1


def test_sample_weighted_prefers_heavier_docs_and_is_reproducible(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    s1 = relational.sample_weighted(docs, k=50).collect()
    s2 = relational.sample_weighted(docs, k=50).collect()
    assert [r.doc_id for r in s1] == [r.doc_id for r in s2]  # deterministic
    keys = [r.es_key for r in s1]
    assert keys == sorted(keys, reverse=True)
    # weighting bias: sampled docs should be longer than the corpus mean
    sampled_mean = sum(r.n_chars for r in s1) / len(s1)
    corpus_mean = docs.agg(F.avg(F.length("text"))).first()[0]
    assert sampled_mean > corpus_mean


def test_source_overlap_matrix_is_symmetric_in_membership(spark):
    sf_dir = "/root/testdata/sf0.01"  # sf0.001 has no cross-source prefix dups
    docs = load_table(spark, sf_dir, "documents")
    rows = relational.source_overlap_matrix(docs).collect()
    assert rows
    pairs = {(r.src_a, r.src_b) for r in rows}
    for a, b in pairs:
        assert (b, a) in pairs  # sharing is mutual


def test_feature_quantile_bins_balanced_and_ordered(spark, sf_dir):
    events = load_events(spark, sf_dir)
    rows = relational.feature_quantile_bins(events, buckets=10).collect()
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for members in by_type.values():
        members.sort(key=lambda r: r.bucket)
        sizes = [r.n for r in members]
        assert max(sizes) - min(sizes) <= 1  # ntile balance guarantee
        for a, b in zip(members, members[1:]):
            assert a.hi <= b.lo or abs(a.hi - b.lo) < 1e-9  # edges ordered


def test_ewma_smoothing_tracks_pandas_reference(spark, sf_dir):
    """Cross-check the windowed closed form against a plain Python
    recomputation for a few users."""
    import math

    events = load_events(spark, sf_dir)
    out = {
        (r.user_id, r.event_id): r.ewma
        for r in relational.ewma_smoothing(events, span=10, alpha=0.5).collect()
    }
    for uid in [0, 1, 2]:
        rows = (
            events.filter(F.col("user_id") == uid)
            .orderBy("ts", "event_id")
            .select("event_id", "value")
            .collect()
        )
        vals = [r.value for r in rows]
        for i, r in enumerate(rows):
            frame = vals[max(0, i - 9) : i + 1]
            n = len(frame)
            wsum = sum(v * 0.5 ** (n - 1 - j) for j, v in enumerate(frame))
            norm = (1 - 0.5**n) / 0.5
            assert abs(out[(uid, r.event_id)] - round(wsum / norm, 6)) < 1e-6


def test_udaf_median_matches_builtin(spark, sf_dir):
    events = load_events(spark, sf_dir)
    udaf = {r.event_type: r.median_value for r in relational.agg_udaf_median(events).collect()}
    builtin = {
        r.event_type: round(r.m, 6)
        for r in events.groupBy("event_type").agg(F.median("value").alias("m")).collect()
    }
    assert udaf == builtin


def test_asof_tolerance_nulls_only_stale_matches(spark, sf_dir):
    """Compared row-by-row with the unbounded as-of join: wherever the
    tolerance form keeps a key it must equal the unbounded match, and
    wherever it nulls one, the unbounded match must exist but be older
    than the tolerance."""
    events = load_events(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    bounded = {
        r.event_id: r.near_orderkey
        for r in relational.join_asof_tolerance(events, orders, 30).collect()
    }
    unbounded = {
        r.event_id: r.asof_orderkey
        for r in relational.join_asof_latest_order(events, orders).collect()
    }
    dates = {r.o_orderkey: r.o_orderdate for r in orders.collect()}
    ts_by_event = {r.event_id: r.ts for r in events.select("event_id", "ts").collect()}
    assert set(bounded) == set(unbounded)
    nulled_stale = 0
    for eid, near in bounded.items():
        if near is not None:
            assert near == unbounded[eid]
        elif unbounded[eid] is not None:
            age = ts_by_event[eid] - dates[unbounded[eid]]
            assert age.days >= 30
            nulled_stale += 1
    assert nulled_stale > 0  # the tolerance actually bites on this data


def test_join_salted_skew_matches_plain_join(spark, sf_dir):
    """Salting is plan-internal: result set == plain equi-join, and the
    salted plan broadcasts the replicated small side."""
    from kinesis_stream_reader_spark.operators.relational import join_salted_skew
    from kinesis_stream_reader_spark.sources.tables import load_events, load_table

    events = load_events(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer")
    got = join_salted_skew(events, customer).collect()
    want = (
        events.join(customer, events.user_id == customer.c_custkey)
        .select("event_id", "user_id", "c_nationkey")
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    plan = join_salted_skew(events, customer)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_bloom_semi_filter_no_false_negatives(spark, sf_dir):
    """Bloom's one-sided guarantee: every actual member is bloom-
    positive — the (bloom_hit=False, actual_member=True) cell must not
    exist — and the cells partition the probe universe."""
    cells = {
        (r.bloom_hit, r.actual_member): r.n_customers
        for r in relational.bloom_semi_filter(
            load_table(spark, sf_dir, "orders"),
            load_table(spark, sf_dir, "customer"),
        ).collect()
    }
    assert (False, True) not in cells
    n_cust = load_table(spark, sf_dir, "customer").count()
    assert sum(cells.values()) == n_cust
    # the member gate must be a strict subset so negatives exist
    assert any(not actual for (_, actual) in cells)


def test_triangle_count_matches_bruteforce(spark, sf_dir):
    """Oriented wedge-join count equals a brute-force triple check on
    the same derived edge set."""
    events = load_events(spark, sf_dir)
    out = {r.vertex: r.n_triangles for r in graph.triangle_count(events).collect()}
    edges = {
        (min(r.p, r.q), max(r.p, r.q))
        for r in events.select(
            (F.col("user_id") % 200).alias("p"), (F.col("event_id") % 199).alias("q")
        )
        .filter(F.col("p") != F.col("q"))
        .distinct()
        .collect()
    }

    nodes = sorted({x for e in edges for x in e})
    adj = {n: set() for n in nodes}
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    total = 0
    for u, v in edges:
        total += len(adj[u] & adj[v] & {w for w in nodes if w > v})
    assert out[-1] == total
    # every triangle credits each of its 3 vertices once
    assert sum(v for k, v in out.items() if k != -1) <= 3 * total


def test_gap_fill_interpolate_brackets(spark, sf_dir):
    """Interpolated values lie within [min, max] of the bracketing
    observations and observed hours keep their exact rollup value."""
    events = load_events(spark, sf_dir)
    rows = relational.gap_fill_interpolate(events).collect()
    from collections import defaultdict

    by_user = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append(r)
    checked = 0
    for uid, rs in list(by_user.items())[:30]:
        obs_idx = [i for i, r in enumerate(rs) if r.observed]
        for a, b in zip(obs_idx, obs_idx[1:]):
            lo = min(rs[a].filled_value, rs[b].filled_value)
            hi = max(rs[a].filled_value, rs[b].filled_value)
            for i in range(a + 1, b):
                assert lo - 1e-6 <= rs[i].filled_value <= hi + 1e-6
                checked += 1
    assert checked > 0, "fixture must contain interior gaps"


def test_pareto_frontier_is_undominated(spark, sf_dir):
    """No returned part is strictly dominated (smaller size AND higher
    price) by any part in the table, and every non-returned part IS
    dominated."""
    part = load_table(spark, sf_dir, "part")
    frontier = relational.pareto_frontier(part).collect()
    allp = [
        (r.p_partkey, r.p_size, round(r.p_retailprice * 100))
        for r in part.select("p_partkey", "p_size", "p_retailprice").collect()
    ]
    fkeys = {r.p_partkey for r in frontier}
    assert 0 < len(fkeys) < len(allp)
    for r in frontier:
        pc = round(r.p_retailprice * 100)
        assert not any(
            s < r.p_size and c > pc for (_, s, c) in allp
        ), f"part {r.p_partkey} is dominated"
    # non-returned parts are at least weakly dominated: some strictly
    # smaller part has price >= theirs (the operator's drop condition)
    for key, size, pc in allp:
        if key not in fkeys:
            assert any(s < size and c >= pc for (_, s, c) in allp)


def test_label_propagation_matches_python_rounds(spark, sf_dir):
    """Three synchronous LPA rounds with min-label tie-break equal a
    driver-side reference implementation on the same edge set."""
    events = load_events(spark, sf_dir)
    got = {r.vertex: r.label for r in graph.label_propagation(events).collect()}
    edges = {
        (min(r.p, r.q), max(r.p, r.q))
        for r in events.select(
            (F.col("user_id") % 200).alias("p"), (F.col("event_id") % 199).alias("q")
        )
        .filter(F.col("p") != F.col("q"))
        .distinct()
        .collect()
    }
    from collections import Counter, defaultdict

    adj = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    labels = {v: v for v in adj}
    for _ in range(3):
        new = {}
        for v in adj:
            c = Counter(labels[n] for n in adj[v])
            best = max(c.items(), key=lambda kv: (kv[1], -kv[0]))
            new[v] = best[0]
        labels = new
    assert got == labels
    # communities actually merged: fewer distinct labels than vertices
    assert len(set(got.values())) < len(got)


def test_anomaly_mad_robust_to_injected_outlier(spark, sf_dir):
    """MAD statistics barely move when one extreme value is injected,
    and the injected row is flagged."""
    events = load_events(spark, sf_dir)
    base = {r.event_type: r for r in relational.anomaly_mad(events).collect()}
    spike = events.limit(1).select(
        "event_id", "ts", "user_id", "event_type",
        F.lit(1e9).alias("value"), "props",
    )
    etype = spike.collect()[0].event_type
    polluted = {
        r.event_type: r
        for r in relational.anomaly_mad(
            events.select(
                "event_id", "ts", "user_id", "event_type", "value", "props"
            ).unionByName(spike)
        ).collect()
    }
    b, p = base[etype], polluted[etype]
    assert p.n_outliers >= b.n_outliers + 1
    assert abs(p.med - b.med) <= max(1.0, 0.05 * abs(b.med))
    assert p.worst_value == 1e9
    for r in base.values():
        assert 0 <= r.n_outliers < r.n_events and r.mad >= 0


def test_join_shuffle_hash_hint_plan_and_semantics(spark, sf_dir):
    """The hint changes the physical join strategy, not the answer."""
    events = load_events(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    out = relational.join_shuffle_hash_hint(events, orders)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan
    plain = {
        r.o_orderpriority: r.n_pairs
        for r in events.join(orders, events.user_id == orders.o_custkey)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_pairs"))
        .collect()
    }
    assert {r.o_orderpriority: r.n_pairs for r in out.collect()} == plain


def test_source_mixture_temperature_flattens(spark, sf_dir):
    """Sqrt scaling: quota shares sit between uniform and proportional
    — small sources gain share, big sources lose share, quotas fit the
    budget."""
    docs = load_table(spark, sf_dir, "documents")
    rows = relational.source_mixture_temperature(docs).collect()
    n_total = sum(r.n_docs for r in rows)
    assert sum(r.quota for r in rows) <= 10000
    for r in rows:
        prop_share = r.n_docs / n_total
        quota_share = r.quota / 10000
        uniform = 1 / len(rows)
        lo, hi = sorted((prop_share, uniform))
        assert lo - 0.01 <= quota_share <= hi + 0.01, (r.source, quota_share)


def test_expectations_check_all_pass_and_detect_breakage(spark, sf_dir):
    """The clean fixtures pass every constraint; a corrupted drop
    (duplicated ids, negative values) fails the right ones."""
    events = load_events(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    clean = {r.check_name: r.passed for r in
             relational.expectations_check(events, orders, customer).collect()}
    assert all(clean.values()) and len(clean) == 6
    corrupted = events.unionByName(
        events.limit(5).select(
            "event_id", "ts", "user_id", "event_type",
            (F.col("value") * -1).alias("value"), "props",
        )
    )
    broken = {r.check_name: r.passed for r in
              relational.expectations_check(corrupted, orders, customer).collect()}
    assert not broken["event_id_unique"]
    assert not broken["value_nonnegative"]
    assert broken["events_nonempty"] and broken["orders_custkey_refint"]


def test_drift_report_detects_injected_shift(spark, sf_dir):
    """Parity halves of one feed barely deviate; shifting half B's
    values by two bucket widths makes total deviation explode."""
    events = load_events(spark, sf_dir)
    base = relational.drift_report(events).collect()
    t_a = sum(r.n_a for r in base)
    t_b = sum(r.n_b for r in base)
    base_tvd = sum(r.dev_u for r in base) / (2 * t_a * t_b)
    shifted = events.select(
        "event_id", "ts", "user_id", "event_type",
        F.when(F.col("event_id") % 2 != 0, F.col("value") + 100)
        .otherwise(F.col("value"))
        .alias("value"),
        "props",
    )
    drifted = relational.drift_report(shifted).collect()
    drift_tvd = sum(r.dev_u for r in drifted) / (2 * t_a * t_b)
    assert base_tvd < 0.1
    assert drift_tvd > 5 * base_tvd


def test_interval_coverage_matches_containment_join(spark, sf_dir):
    """Sweep-line counts equal the naive day-in-interval containment
    check for a sample of days, and totals conserve (ends return to
    zero)."""
    orders = load_table(spark, sf_dir, "orders")
    rows = relational.interval_coverage(orders).collect()
    assert rows[-1].n_active == 0, "all intervals must close"
    assert all(r.n_active >= 0 for r in rows)
    from datetime import datetime, timedelta

    dates = [r.o_orderdate for r in orders.select("o_orderdate").collect()]
    for r in rows[:: max(1, len(rows) // 7)]:
        day = datetime.strptime(r.day, "%Y-%m-%d")
        naive = sum(1 for d in dates if d <= day <= d + timedelta(days=30))
        assert r.n_active == naive, r.day


def test_drift_ks_matches_scipy_free_bruteforce(spark, sf_dir):
    """The integer KS statistic equals a driver-side two-sample ECDF
    max-gap computation, and an injected shift inflates it."""
    events = load_events(spark, sf_dir)
    row = relational.drift_ks(events).collect()[0]
    vals = [(r.value, r.event_id % 2 == 0) for r in events.collect()]
    a = sorted(v for v, in_a in vals if in_a)
    b = sorted(v for v, in_a in vals if not in_a)
    import bisect

    d = max(
        abs(bisect.bisect_right(a, v) * len(b) - bisect.bisect_right(b, v) * len(a))
        for v in set(x[0] for x in vals)
    )
    assert (row.n_a, row.n_b, row.d_num) == (len(a), len(b), d)
    shifted = events.select(
        "event_id", "ts", "user_id", "event_type",
        F.when(F.col("event_id") % 2 != 0, F.col("value") + 100)
        .otherwise(F.col("value")).alias("value"),
        "props",
    )
    assert relational.drift_ks(shifted).collect()[0].ks_d > row.ks_d * 2


def test_table_checksum_detects_single_row_change(spark, sf_dir):
    """Identical inputs agree; flipping one value flips exactly the
    affected table's checksum while counts stay equal."""
    events = load_events(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    base = {r.table_name: (r.n_rows, r.checksum)
            for r in relational.table_checksum(events, orders, lineitem).collect()}
    mutated = events.select(
        "event_id", "ts", "user_id", "event_type",
        F.when(F.col("event_id") == events.first().event_id, F.col("value") + 1)
        .otherwise(F.col("value")).alias("value"), "props",
    )
    changed = {r.table_name: (r.n_rows, r.checksum)
               for r in relational.table_checksum(mutated, orders, lineitem).collect()}
    assert changed["orders"] == base["orders"]
    assert changed["lineitem"] == base["lineitem"]
    assert changed["events"][0] == base["events"][0]
    assert changed["events"][1] != base["events"][1]


def test_funnel_asof_chain_ordering_invariants(spark, sf_dir):
    """Resolved chains are time-ordered (view <= click <= purchase
    within bounds) and a hand recount for a few users matches."""
    events = load_events(spark, sf_dir)
    out = relational.funnel_asof_chain(events).collect()
    ts_by_id = {r.event_id: r.ts for r in events.collect()}
    n_full = 0
    for r in out:
        pts = ts_by_id[r.purchase_id]
        if r.click_id is not None:
            cts = ts_by_id[r.click_id]
            assert cts <= pts and (pts - cts).total_seconds() <= 7200
            if r.view_id is not None:
                vts = ts_by_id[r.view_id]
                assert vts <= cts and (cts - vts).total_seconds() <= 7200
                n_full += 1
        else:
            assert r.view_id is None, "view leg must null with a stale click"
    assert any(r.click_id is not None for r in out), "no attributions at all"
    # a wide tolerance must surface complete funnels on this fixture
    wide = relational.funnel_asof_chain(events, tolerance_hours=96).collect()
    assert any(r.view_id is not None for r in wide), "no funnels even at 96h"


def test_agg_boxplot_invariants(spark, sf_dir):
    """Quartiles are ordered data values; outlier counts bounded."""
    out = relational.agg_boxplot(load_events(spark, sf_dir)).collect()
    assert len(out) == 5
    for r in out:
        assert r.q1 <= r.med <= r.q3
        assert 0 <= r.n_low_outliers + r.n_high_outliers < r.n


def test_k_anonymity_flags_unique_rows(spark, sf_dir):
    """Totals reconcile, and making every row unique (distinct cohort)
    puts every row at risk."""
    events = load_events(spark, sf_dir)
    r = relational.k_anonymity_report(events).collect()[0]
    assert r.n_rows == events.count()
    assert 0 <= r.n_rows_at_risk <= r.n_rows
    assert r.min_class_size >= 1
    unique = events.select(
        "event_id", "ts", F.col("event_id").alias("user_id"), "event_type",
        "value", "props",
    )
    r2 = relational.k_anonymity_report(unique).collect()[0]
    # fragmenting cohorts can only increase exposure (tiny fixtures may
    # already be fully at risk, so monotone, not strict)
    assert r2.min_class_size == 1 and r2.n_rows_at_risk >= r.n_rows_at_risk


def test_chi2_independence_reference(spark, sf_dir):
    """Chi-squared statistic must match scipy-free NumPy contingency
    math (same micro-unit quantization)."""
    import math
    from collections import Counter

    from kinesis_stream_reader_spark.operators.relational import chi2_independence
    from kinesis_stream_reader_spark.sources.tables import load_events

    events = load_events(spark, sf_dir)
    row = chi2_independence(events).collect()[0]
    obs = Counter()
    for r in events.select("event_type", "ts").collect():
        # Python weekday(): Monday=0; Spark dayofweek: Sunday=1
        dow = (r.ts.weekday() + 1) % 7 + 1
        obs[(r.event_type, dow)] += 1
    n = sum(obs.values())
    rm = Counter()
    cm = Counter()
    for (r_, c_), o in obs.items():
        rm[r_] += o
        cm[c_] += o
    su = 0
    for (r_, c_), o in obs.items():
        t = float(o * n - rm[r_] * cm[c_])
        su += math.floor(t * t / float(rm[r_] * cm[c_] * n) * 1e6 + 0.5)
    assert row.n == n
    assert row.n_cells == len(obs)
    assert row.dof == (len(rm) - 1) * (len(cm) - 1)
    assert abs(row.chi2 - su / 1e6) < 1e-9


def test_trend_lines_least_squares(spark, sf_dir):
    """Slope/intercept must minimize squared error: compare against
    numpy.polyfit on the same quantized series."""
    import numpy as np

    from kinesis_stream_reader_spark.operators.relational import trend_lines
    from kinesis_stream_reader_spark.sources.tables import load_events

    events = load_events(spark, sf_dir)
    got = {r.event_type: r for r in trend_lines(events).collect()}
    rows = events.select("event_type", "ts", "value").collect()
    d0 = min(r.ts for r in rows).date()
    by_type = {}
    for r in rows:
        x = (r.ts.date() - d0).days
        yu = math.floor(r.value * 100 + 0.5)
        by_type.setdefault(r.event_type, []).append((x, yu / 100.0))
    for et, pts in by_type.items():
        xs = np.array([p[0] for p in pts], dtype=float)
        ys = np.array([p[1] for p in pts], dtype=float)
        slope, intercept = np.polyfit(xs, ys, 1)
        assert got[et].n == len(pts)
        assert abs(got[et].slope_per_day - slope) < 1e-4
        assert abs(got[et].intercept - intercept) < 1e-2


def test_acf_daily_reference(spark, sf_dir):
    """ACF at each lag must match the numpy centered cross-product on
    the daily count series."""
    import numpy as np

    from kinesis_stream_reader_spark.operators.relational import acf_daily
    from kinesis_stream_reader_spark.sources.tables import load_events

    events = load_events(spark, sf_dir)
    got = {r.lag: r for r in acf_daily(events).collect()}
    days = (
        events.groupBy(F.to_date("ts").alias("d")).count().orderBy("d").collect()
    )
    xs = np.array([r["count"] for r in days], dtype=float)
    dates = [r.d for r in days]
    mean = xs.mean()
    den = ((xs - mean) ** 2).sum()
    by_date = dict(zip(dates, xs))
    import datetime

    for lag in range(1, 8):
        num = 0.0
        n_pairs = 0
        for d, x in by_date.items():
            d2 = d + datetime.timedelta(days=lag)
            if d2 in by_date:
                num += (x - mean) * (by_date[d2] - mean)
                n_pairs += 1
        assert got[lag].n_pairs == n_pairs
        assert abs(got[lag].acf - num / den) < 1e-5


def test_cusum_changepoint_recursion(spark, sf_dir):
    """The prefix-sum identity must equal the literal clipped
    recursion S_t = max(0, S_{t-1} + dev_t) computed row by row."""
    from kinesis_stream_reader_spark.operators.relational import cusum_changepoint
    from kinesis_stream_reader_spark.sources.tables import load_events

    events = load_events(spark, sf_dir)
    out = cusum_changepoint(events).collect()
    days = (
        events.groupBy(F.to_date("ts").alias("d")).count().orderBy("d").collect()
    )
    nd = len(days)
    s = sum(r["count"] for r in days)
    su = sd = 0
    for row, r in zip(out, days):
        dev = nd * r["count"] - s
        su = max(0, su + dev)
        sd = max(0, sd - dev)
        assert abs(row.cusum_up - math.floor(su / nd * 1e6 + 0.5) / 1e6) < 1e-9
        assert abs(row.cusum_down - math.floor(sd / nd * 1e6 + 0.5) / 1e6) < 1e-9
        assert row.alarm_up == (su > 4 * s)
        assert row.alarm_down == (sd > 4 * s)


def test_assoc_rules_brute_force(spark, sf_dir):
    """Support/confidence/lift must match a driver-side basket scan."""
    from collections import Counter

    from kinesis_stream_reader_spark.operators.relational import assoc_rules

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    got = {
        (r.item_a, r.item_b): r for r in assoc_rules(li, part).collect()
    }
    brand = {r.p_partkey: r.p_brand for r in part.collect()}
    baskets = {}
    for r in li.select("l_orderkey", "l_partkey").collect():
        baskets.setdefault(r.l_orderkey, set()).add(brand[r.l_partkey])
    n = len(baskets)
    ic = Counter()
    cooc = Counter()
    for items in baskets.values():
        ic.update(items)
        s = sorted(items)
        for i in range(len(s)):
            for j in range(i + 1, len(s)):
                cooc[(s[i], s[j])] += 1
    expect = {p: c for p, c in cooc.items() if c * 200 >= n}
    ranked = sorted(
        expect.items(),
        key=lambda kv: (
            -math.floor(kv[1] * n / (ic[kv[0][0]] * ic[kv[0][1]]) * 1e6 + 0.5),
            kv[0],
        ),
    )[:50]
    assert set(got) == {p for p, _ in ranked}
    for (a, b), c in ranked:
        r = got[(a, b)]
        assert r.cooc == c
        assert abs(r.support - c / n) < 2e-6
        assert abs(r.confidence - c / ic[a]) < 2e-6
        assert abs(r.lift - c * n / (ic[a] * ic[b])) < 2e-6


def test_shortest_path_bounded_bellman_ford(spark, sf_dir):
    """4-round relax-and-min must equal a literal Bellman-Ford."""
    from kinesis_stream_reader_spark.operators.relational import (
        shortest_path_bounded,
    )

    events = load_events(spark, sf_dir)
    got = {r.node: r.dist for r in shortest_path_bounded(events).collect()}
    edges = {}
    src_min = None
    for r in events.select("user_id", "event_id").collect():
        k = (r.user_id, r.event_id % 500)
        w = r.event_id % 9
        edges[k] = min(edges.get(k, 99), w)
        src_min = r.user_id if src_min is None else min(src_min, r.user_id)
    dist = {src_min: 0}
    for _ in range(4):
        nxt = dict(dist)
        for (s, d), w in edges.items():
            if s in dist:
                cand = dist[s] + w + 1
                if cand < nxt.get(d, 1 << 60):
                    nxt[d] = cand
        dist = nxt
    assert got == dist


def test_kmv_intersection_accuracy(spark, sf_dir):
    """KMV estimates must be close to exact cardinalities (k=64 ->
    ~12% rse; allow 4 sigma) and n_common bounded by k."""
    from kinesis_stream_reader_spark.operators.relational import kmv_intersection

    events = load_events(spark, sf_dir)
    rows = kmv_intersection(events).collect()
    assert len(rows) == 3
    exact_card = {
        r.event_type: r.n
        for r in events.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    for r in rows:
        assert r.n_common <= 64
        for est, tp in ((r.est_a, r.type_a), (r.est_b, r.type_b)):
            ex = exact_card[tp]
            assert abs(est - ex) <= max(4 * ex / 8.0, 4.0), (tp, est, ex)
        if r.exact_intersection:
            assert abs(r.est_intersection - r.exact_intersection) <= max(
                0.6 * r.exact_intersection, 8.0
            )


def test_grid_radius_join_brute_force(spark, sf_dir):
    """Grid 3x3 probe must find exactly the brute-force pair set."""
    from kinesis_stream_reader_spark.operators.relational import grid_radius_join

    events = load_events(spark, sf_dir)
    row = grid_radius_join(events).collect()[0]
    pts = [
        (r.event_id, r.event_type, ((r.event_id % 1000003) * 2654435761) % 1000,
         ((r.user_id % 1000003) * 40503 + (r.event_id % 1000003) * 97) % 1000)
        for r in events.select("event_id", "event_type", "user_id").collect()
    ]
    a = [(i, x, y) for i, t, x, y in pts if t == "click"]
    b = [(i, x, y) for i, t, x, y in pts if t == "error"]
    matches = [
        (ai, bi, (ax - bx) ** 2 + (ay - by) ** 2)
        for ai, ax, ay in a
        for bi, bx, by in b
        if (ax - bx) ** 2 + (ay - by) ** 2 <= 25
    ]
    assert row.n_matches == len(matches)
    assert row.n_a_matched == len({m[0] for m in matches})
    assert row.n_b_matched == len({m[1] for m in matches})
    assert row.id_sum == sum(m[0] + m[1] for m in matches)
    assert row.d2_sum == sum(m[2] for m in matches)


def test_mmr_rerank_greedy_reference(spark, sf_dir):
    """Independent numpy re-implementation of the greedy MMR must
    produce the same trajectory."""
    import numpy as np

    from kinesis_stream_reader_spark.operators.similarity import mmr_rerank

    emb = load_table(spark, sf_dir, "embeddings")
    got = [(r.rank, r.vec_id, r.rel, r.mmr) for r in mmr_rerank(emb).collect()]
    rows = emb.collect()
    vecs = {
        r.vec_id: np.floor(np.array(r.embedding, dtype=np.float64) * 1000 + 0.5).astype(
            np.int64
        )
        for r in rows
    }
    q = vecs[0]
    rel = {vid: int(v @ q) for vid, v in vecs.items() if vid != 0}
    cand = sorted(rel, key=lambda vid: (-rel[vid], vid))[:12]
    selected = []
    remaining = set(cand)
    while remaining and len(selected) < 5:
        best = None
        for c in sorted(remaining):
            pen = max((int(vecs[c] @ vecs[s]) for s, _, _ in selected), default=0)
            mmr_u = rel[c] - (pen if selected else 0)
            if best is None or mmr_u > best[2]:
                best = (c, rel[c], mmr_u)
        selected.append(best)
        remaining.discard(best[0])
    expect = [
        (i + 1, vid, ru / 1e6, mu / 1e6) for i, (vid, ru, mu) in enumerate(selected)
    ]
    assert got == expect
    # diversity property: picks 2..5 are not the pure-relevance order
    # unless that order is already diverse; at minimum ranks are unique
    assert len({g[1] for g in got}) == 5


def test_bootstrap_ci_brackets_mean(spark, sf_dir):
    """Replicate-order-statistic CI must bracket the point mean and be
    reproducible across invocations (determinism)."""
    from kinesis_stream_reader_spark.operators.relational import bootstrap_ci

    events = load_events(spark, sf_dir)
    a = {r.event_type: r for r in bootstrap_ci(events).collect()}
    b = {r.event_type: r for r in bootstrap_ci(events).collect()}
    assert len(a) == 5
    for et, r in a.items():
        assert r.ci_lo <= r.ci_hi
        assert r.ci_lo <= r.mean <= r.ci_hi
        # replicate spread shrinks like 1/sqrt(n); generous constant
        assert r.ci_hi - r.ci_lo < 20 * r.mean / math.sqrt(r.n)
        r2 = b[et]
        assert (r.ci_lo, r.ci_hi, r.mean) == (r2.ci_lo, r2.ci_hi, r2.mean)


def test_l_diversity_brute_force(spark, sf_dir):
    """Class-wise distinct-sensitive counts vs a driver-side scan."""
    from kinesis_stream_reader_spark.operators.relational import l_diversity_report

    events = load_events(spark, sf_dir)
    row = l_diversity_report(events).collect()[0]
    classes = {}
    sens_all = set()
    for r in events.select("event_type", "ts", "user_id", "value").collect():
        key = (r.event_type, r.ts.hour, r.user_id % 100)
        s = math.floor(r.value / 100)
        classes.setdefault(key, []).append(s)
        sens_all.add(s)
    ls = {k: len(set(v)) for k, v in classes.items()}
    assert row.n_classes == len(classes)
    assert row.min_l == min(ls.values())
    assert row.n_classes_below_l == sum(1 for v in ls.values() if v < 3)
    assert row.n_rows_at_risk == sum(
        len(v) for k, v in classes.items() if ls[k] < 3
    )
    assert row.n_sensitive_values == len(sens_all)


def test_window_percent_rank_formula(spark, sf_dir):
    """pr == (rank-1)/(n-1) and cd == rank/n under the total order
    (value, event_id) within each event_type."""
    from kinesis_stream_reader_spark.operators.relational import window_percent_rank

    events = load_events(spark, sf_dir)
    got = {r.event_id: r for r in window_percent_rank(events).collect()}
    rows = events.select("event_id", "event_type", "value").collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append((r.value, r.event_id))
    for et, vals in by_type.items():
        vals.sort()
        n = len(vals)
        for i, (v, eid) in enumerate(vals):
            if eid % 199 == 0:
                pr = math.floor(i / (n - 1) * 1e6 + 0.5) / 1e6
                cd = math.floor((i + 1) / n * 1e6 + 0.5) / 1e6
                assert got[eid].pr == pr, (eid, got[eid].pr, pr)
                assert got[eid].cd == cd
    assert len(got) == sum(1 for r in rows if r.event_id % 199 == 0)


def test_pca_power_iteration_numpy_reference(spark, sf_dir):
    """The distributed 4-round power iteration must equal a numpy
    re-implementation bit for bit, and the result must be a better
    Rayleigh direction than the starting vector."""
    import numpy as np

    from kinesis_stream_reader_spark.operators.similarity import (
        pca_power_top_component,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    got = {r.d: r.v_milli for r in pca_power_top_component(emb).collect()}
    X = np.array(
        [
            np.floor(np.array(r.embedding, dtype=np.float64) * 1000 + 0.5)
            for r in emb.collect()
        ]
    ).astype(np.int64)
    v = np.full(64, 1000, dtype=np.int64)
    for _ in range(4):
        s = X @ v
        u = X.T @ s
        nrm = int(
            math.floor(math.sqrt(sum(float(z) * float(z) for z in u)))
        )
        # truncation toward zero, matching Spark DIV / DuckDB //
        v = np.array(
            [(int(z) * 1000) // nrm if z >= 0 else -((-int(z)) * 1000 // nrm)
             for z in u],
            dtype=np.int64,
        )
    assert got == {d: int(v[d]) for d in range(64)}
    # Rayleigh quotient of the result beats the uniform start
    Xf = X.astype(np.float64)
    vf = v.astype(np.float64)
    v0 = np.full(64, 1000.0)
    rq = lambda w: float(np.sum((Xf @ w) ** 2) / (w @ w))  # noqa: E731
    assert rq(vf) > rq(v0)


def test_incremental_join_merge_equals_full(spark, sf_dir):
    """Four-leg delta-join merge must equal the full-recompute join."""
    from kinesis_stream_reader_spark.registry import QUERIES

    got = {
        r.o_custkey: (r.revenue_cents, r.n_items)
        for r in QUERIES["incremental_join_merge"](spark, sf_dir).collect()
    }
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    full = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
            ).alias("rc"),
            F.count("*").alias("ni"),
        )
        .collect()
    )
    assert got == {r.o_custkey: (r.rc, r.ni) for r in full}


def test_temporal_reachability_brute_force(spark, sf_dir):
    """3-round earliest-arrival must equal a literal temporal BFS."""
    from kinesis_stream_reader_spark.operators.relational import (
        temporal_reachability,
    )

    events = load_events(spark, sf_dir)
    got = {r.node: r.arrival for r in temporal_reachability(events).collect()}
    edges = [
        (r.user_id, r.event_id % 500, int(r.ts.timestamp()))
        for r in events.select("user_id", "event_id", "ts").collect()
    ]
    src = min(e[0] for e in edges)
    arr = {src: 0}
    for _ in range(3):
        nxt = dict(arr)
        for s, d, t in edges:
            if s in arr and t >= arr[s] and t < nxt.get(d, 1 << 62):
                nxt[d] = t
        arr = nxt
    assert got == arr


def test_sequence_motifs_brute_force(spark, sf_dir):
    """Trigram census vs a per-user sorted driver scan."""
    from collections import Counter, defaultdict

    from kinesis_stream_reader_spark.operators.relational import sequence_motifs

    events = load_events(spark, sf_dir)
    got = {r.motif: (r.n, r.n_users) for r in sequence_motifs(events).collect()}
    timelines = defaultdict(list)
    for r in events.select("user_id", "ts", "event_id", "event_type").collect():
        timelines[r.user_id].append((r.ts, r.event_id, r.event_type))
    n = Counter()
    users = defaultdict(set)
    for uid, tl in timelines.items():
        tl.sort()
        types = [t for _, _, t in tl]
        for i in range(len(types) - 2):
            m = "->".join(types[i : i + 3])
            n[m] += 1
            users[m].add(uid)
    expect = {m: (c, len(users[m])) for m, c in n.items() if c >= 5}
    assert got == expect


def test_cohort_retention_brute_force(spark, sf_dir):
    """Retention cells vs a driver-side cohort scan."""
    from collections import defaultdict

    from kinesis_stream_reader_spark.operators.relational import cohort_retention

    events = load_events(spark, sf_dir)
    got = {
        (r.cohort_week, r.week_offset): (r.n_active, r.cohort_size, r.retention)
        for r in cohort_retention(events).collect()
    }
    rows = events.select("user_id", "ts").collect()
    d0 = min(r.ts for r in rows).date()
    weeks = defaultdict(set)
    for r in rows:
        weeks[r.user_id].add((r.ts.date() - d0).days // 7)
    first = {u: min(ws) for u, ws in weeks.items()}
    sizes = defaultdict(int)
    for u in first:
        sizes[first[u]] += 1
    cells = defaultdict(set)
    for u, ws in weeks.items():
        for w in ws:
            off = w - first[u]
            if off <= 8:
                cells[(first[u], off)].add(u)
    expect = {
        k: (
            len(v),
            sizes[k[0]],
            math.floor(len(v) / sizes[k[0]] * 1e6 + 0.5) / 1e6,
        )
        for k, v in cells.items()
    }
    assert got == expect


def test_forecast_backtest_brute_force(spark, sf_dir):
    """Seasonal-naive MAE/MAPE vs a driver-side recompute."""
    import datetime
    from collections import defaultdict

    from kinesis_stream_reader_spark.operators.relational import forecast_backtest

    events = load_events(spark, sf_dir)
    got = {r.event_type: r for r in forecast_backtest(events).collect()}
    counts = defaultdict(int)
    for r in events.select("event_type", "ts").collect():
        counts[(r.event_type, r.ts.date())] += 1
    per_type = defaultdict(list)
    for (et, d), x in counts.items():
        pred = counts.get((et, d - datetime.timedelta(days=7)))
        if pred and x > 0:
            per_type[et].append((x, pred))
    for et, pairs in per_type.items():
        n = len(pairs)
        mae_sum = sum(abs(x - p) for x, p in pairs)
        mape_u = sum(math.floor(abs(x - p) / x * 1e6 + 0.5) for x, p in pairs)
        r = got[et]
        assert r.n_days == n
        assert r.abs_err_sum == mae_sum
        assert r.mape == math.floor(mape_u / n + 0.5) / 1e6


def test_ab_test_report_brute_force(spark, sf_dir):
    """z statistic vs a driver-side two-proportion computation."""
    from collections import defaultdict

    from kinesis_stream_reader_spark.operators.relational import ab_test_report

    events = load_events(spark, sf_dir)
    row = ab_test_report(events).collect()[0]
    conv = defaultdict(int)
    for r in events.select("user_id", "event_type", "value").collect():
        if r.event_type == "purchase" and r.value > 150:
            conv[r.user_id] = 1
        else:
            conv.setdefault(r.user_id, 0)
    n = [0, 0]
    k = [0, 0]
    for u, c in conv.items():
        n[u % 2] += 1
        k[u % 2] += c
    assert (row.n0, row.k0, row.n1, row.k1) == (n[0], k[0], n[1], k[1])
    p0, p1 = k[0] / n[0], k[1] / n[1]
    pp = (k[0] + k[1]) / (n[0] + n[1])
    se = math.sqrt(pp * (1 - pp) * (1 / n[0] + 1 / n[1]))
    z = math.floor((p1 - p0) / se * 1e6 + 0.5) / 1e6
    assert row.z == z
    assert row.significant == (abs(z) > 1.96)


def test_pseudonymize_consistent_properties(spark, sf_dir):
    """Token map must be injective on the fixture key space and
    preserve the events-orders join cardinality."""
    from kinesis_stream_reader_spark.operators.relational import (
        pseudonymize_consistent,
    )

    events = load_events(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    row = pseudonymize_consistent(events, orders).collect()[0]
    assert row.collision_free
    assert row.join_preserving
    ev_users = {r.user_id for r in events.select("user_id").distinct().collect()}
    cust = {r.o_custkey for r in orders.select("o_custkey").distinct().collect()}
    assert row.n_users == len(ev_users)
    assert row.raw_join_keys == len(ev_users & cust)


def test_training_matrix_pit_no_leakage(spark, sf_dir):
    """Every prior_* feature must equal a strict-before driver scan —
    the row's own label event never counts itself."""
    from collections import defaultdict

    from kinesis_stream_reader_spark.operators.relational import training_matrix_pit

    events = load_events(spark, sf_dir)
    got = {r.event_id: r for r in training_matrix_pit(events).collect()}
    timelines = defaultdict(list)
    for r in events.select("user_id", "ts", "event_id", "event_type", "value").collect():
        timelines[r.user_id].append((r.ts, r.event_id, r.event_type, r.value))
    expect = {}
    for uid, tl in timelines.items():
        tl.sort(key=lambda x: (x[0], x[1]))
        c = v = p = pc = 0
        for i, (ts, eid, et, val) in enumerate(tl):
            if et == "purchase" and eid % 97 == 0:
                expect[eid] = (uid, c, v, p, pc, i)
            if et == "click":
                c += 1
            elif et == "view":
                v += 1
            elif et == "purchase":
                p += 1
                pc += math.floor(val * 100 + 0.5)
    assert set(got) == set(expect)
    for eid, (uid, c, v, p, pc, n) in expect.items():
        r = got[eid]
        assert (
            r.user_id,
            r.prior_clicks,
            r.prior_views,
            r.prior_purchases,
            r.prior_purchase_cents,
            r.prior_events,
        ) == (uid, c, v, p, pc, n)


def test_target_encode_loo_brute_force(spark, sf_dir):
    """LOO means must exclude the row's own target exactly."""
    from collections import defaultdict

    from kinesis_stream_reader_spark.operators.relational import target_encode_loo

    li = load_table(spark, sf_dir, "lineitem")
    got = {
        (r.l_orderkey, r.l_linenumber): (r.cat, r.y, r.loo_mean)
        for r in target_encode_loo(li).collect()
    }
    s = defaultdict(int)
    n = defaultdict(int)
    rows = li.select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"
    ).collect()
    ys = {}
    for r in rows:
        y = math.floor(r.l_extendedprice * 100 + 0.5)
        ys[(r.l_orderkey, r.l_linenumber)] = (r.l_returnflag, y)
        s[r.l_returnflag] += y
        n[r.l_returnflag] += 1
    for key, (cat, y) in ys.items():
        if key[0] % 199 == 0:
            loo = math.floor((s[cat] - y) / (n[cat] - 1) / 100.0 * 1e6 + 0.5) / 1e6
            assert got[key] == (cat, y, loo)
    assert len(got) == sum(1 for k in ys if k[0] % 199 == 0)


def test_runtime_bloom_filter_in_plan(spark, sf_dir):
    """The rewritten join must carry a might_contain runtime filter on
    the probe side, and session confs must be restored afterwards."""
    from kinesis_stream_reader_spark.registry import QUERIES

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    df = QUERIES["join_runtime_bloom_filter"](spark, sf_dir)
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == prev
    assert df.count() > 0
    # the checkpointed result was produced under the rewrite; re-derive
    # the plan under the same confs to assert the rewrite fires
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 350000
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0",
    )
    try:
        j = li.join(orders.hint("merge"), li.l_orderkey == orders.o_orderkey).groupBy(
            "o_orderpriority"
        ).count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        )


def test_funnel_negative_brute_force(spark, sf_dir):
    """Per-day attributed/organic purchase split vs a driver scan."""
    import datetime
    from collections import defaultdict

    from kinesis_stream_reader_spark.registry import QUERIES

    got = {
        r.day: (r.n_purchases, r.n_attributed, r.n_organic)
        for r in QUERIES["funnel_negative"](spark, sf_dir).collect()
    }
    events = load_events(spark, sf_dir)
    clicks = defaultdict(list)
    purchases = []
    for r in events.select("user_id", "ts", "event_type").collect():
        if r.event_type == "click":
            clicks[r.user_id].append(r.ts)
        elif r.event_type == "purchase":
            purchases.append((r.user_id, r.ts))
    expect = defaultdict(lambda: [0, 0, 0])
    for uid, pts in purchases:
        prior = [t for t in clicks[uid] if t <= pts]
        attributed = bool(prior) and max(prior) >= pts - datetime.timedelta(hours=1)
        day = pts.strftime("%Y-%m-%d")
        expect[day][0] += 1
        expect[day][1 if attributed else 2] += 1
    assert got == {d: tuple(v) for d, v in expect.items()}


def test_gdpr_erasure_audit_zero_leftovers(spark, sf_dir):
    from kinesis_stream_reader_spark.registry import QUERIES

    row = QUERIES["gdpr_erasure_audit"](spark, sf_dir).collect()[0]
    assert row.remaining_refs == 0
    assert row.ev_after < row.ev_before
    events = load_events(spark, sf_dir)
    n_req = events.filter(F.col("user_id") % 97 == 0).select("user_id").distinct().count()
    assert row.n_requests == n_req


def test_nested_orders_roundtrip_vs_flat(spark, sf_dir):
    """The nested document analytics must equal the flat join."""
    from kinesis_stream_reader_spark.registry import QUERIES

    got = {
        r.o_orderkey: (r.n_items, r.total_cents, r.max_qty)
        for r in QUERIES["nested_orders_roundtrip"](spark, sf_dir).collect()
    }
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 97 == 0)
    li = load_table(spark, sf_dir, "lineitem")
    flat = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
            ).alias("tc"),
            F.max("l_quantity").cast("double").alias("mq"),
        )
        .collect()
    )
    assert got == {r.o_orderkey: (r.n, r.tc, r.mq) for r in flat}


def test_late_arrival_histogram_brute_force(spark, sf_dir):
    """Lateness buckets vs a driver-side replay of the md5 arrival
    permutation."""
    import hashlib
    from collections import Counter

    from kinesis_stream_reader_spark.registry import QUERIES

    got = {
        r.late_minutes_bucket: r.n
        for r in QUERIES["late_arrival_histogram"](spark, sf_dir).collect()
    }
    rows = load_events(spark, sf_dir).select("event_id", "ts").collect()
    order = sorted(
        rows, key=lambda r: (hashlib.md5(str(r.event_id).encode()).hexdigest(), r.event_id)
    )
    hist = Counter()
    hwm = None
    for r in order:
        if hwm is None or r.ts >= hwm:
            late = 0
        else:
            late = int(hwm.timestamp()) - int(r.ts.timestamp())
        hist[min(late // 60, 10)] += 1
        hwm = r.ts if hwm is None else max(hwm, r.ts)
    assert got == dict(hist)
    # the reordering must actually produce late data
    assert len(got) > 1


def test_rolling_correlation_numpy(spark, sf_dir):
    """Trailing-window correlation vs numpy.corrcoef per frame."""
    import numpy as np

    from kinesis_stream_reader_spark.registry import QUERIES

    got = {r.day: (r.n, r.corr) for r in
           QUERIES["rolling_correlation"](spark, sf_dir).collect()}
    events = load_events(spark, sf_dir)
    days = (
        events.groupBy(F.to_date("ts").alias("d"))
        .agg(
            F.count(F.when(F.col("event_type") == "click", 1)).alias("x"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("event_type") == "purchase",
                        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
                    )
                ),
                F.lit(0),
            ).alias("y"),
        )
        .orderBy("d")
        .collect()
    )
    xs = [r.x for r in days]
    ys = [r.y for r in days]
    for i in range(1, len(days)):
        lo = max(0, i - 13)
        fx = np.array(xs[lo : i + 1], dtype=float)
        fy = np.array(ys[lo : i + 1], dtype=float)
        day = days[i].d.strftime("%Y-%m-%d")
        n, corr = got[day]
        assert n == len(fx)
        if np.std(fx) > 0 and np.std(fy) > 0:
            assert abs(corr - np.corrcoef(fx, fy)[0, 1]) < 1e-5, day


def test_rfm_segments_census(spark, sf_dir):
    """Segment census conserves users and every score is a quintile."""
    from kinesis_stream_reader_spark.registry import QUERIES

    rows = QUERIES["rfm_segments"](spark, sf_dir).collect()
    events = load_events(spark, sf_dir)
    n_users = events.select("user_id").distinct().count()
    assert sum(r.n_users for r in rows) == n_users
    for r in rows:
        assert 1 <= r.r_score <= 5
        assert 1 <= r.f_score <= 5
        assert 1 <= r.m_score <= 5
    # quintile balance on each margin
    from collections import Counter

    for margin in ("r_score", "f_score", "m_score"):
        c = Counter()
        for r in rows:
            c[getattr(r, margin)] += r.n_users
        assert max(c.values()) - min(c.values()) <= 1


def test_kcore_bounded_peel(spark, sf_dir):
    """3-round peel vs a literal driver-side peel."""
    from collections import Counter

    from kinesis_stream_reader_spark.registry import QUERIES

    got = {r.node: r.deg for r in QUERIES["kcore_bounded"](spark, sf_dir).collect()}
    events = load_events(spark, sf_dir)
    edges = set()
    for r in events.select("user_id", "event_id").collect():
        a, b = r.user_id, r.event_id % 500
        if a != b:
            edges.add((min(a, b), max(a, b)))
    edges = set(edges)
    for _ in range(3):
        deg = Counter()
        for a, b in edges:
            deg[a] += 1
            deg[b] += 1
        keep = {n for n, d in deg.items() if d >= 6}
        edges = {(a, b) for a, b in edges if a in keep and b in keep}
    deg = Counter()
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
    expect = {n: d for n, d in deg.items() if d >= 6}
    assert got == expect


def test_token_budget_allocation_properties(spark, sf_dir):
    """Exactly one partial source at the budget boundary; takes sum to
    the budget (or the whole corpus if the budget exceeds it); ranking
    is by quality."""
    from kinesis_stream_reader_spark.registry import QUERIES

    rows = QUERIES["token_budget_allocation"](spark, sf_dir).collect()
    total = sum(r.n_tokens for r in rows)
    budget = total // 2
    takes = sum(r.tokens_taken for r in rows)
    assert takes == min(budget, total)
    kinds = [r.allocation for r in rows]
    assert kinds.count("partial") <= 1
    # prefix property: full* [partial] excluded*
    import re as _re

    assert _re.fullmatch(r"(full )*(partial )?(excluded )*", " ".join(kinds) + " ")
    qualities = [r.quality_ppm for r in rows]
    assert qualities == sorted(qualities, reverse=True)


def test_mutual_information_reference(spark, sf_dir):
    """MI vs a driver-side contingency computation; MI >= 0."""
    from collections import Counter

    from kinesis_stream_reader_spark.registry import QUERIES

    row = QUERIES["mutual_information"](spark, sf_dir).collect()[0]
    obs = Counter()
    for r in load_events(spark, sf_dir).select("event_type", "value").collect():
        obs[(r.event_type, math.floor(r.value / 20))] += 1
    n = sum(obs.values())
    rm = Counter()
    cm = Counter()
    for (a, b), o in obs.items():
        rm[a] += o
        cm[b] += o
    su = 0
    for (a, b), o in obs.items():
        p = o / n
        su += math.floor(p * math.log(p / ((rm[a] / n) * (cm[b] / n))) * 1e9 + 0.5)
    assert row.n == n
    assert row.n_cells == len(obs)
    assert abs(row.mi_nats - su / 1e9) < 1e-9
    assert row.mi_nats >= -1e-6


def test_benford_audit_census(spark, sf_dir):
    """Digit census vs a driver scan; expected counts sum to ~n."""
    from collections import Counter

    from kinesis_stream_reader_spark.registry import QUERIES

    rows = QUERIES["benford_audit"](spark, sf_dir).collect()
    got = {r.d: r for r in rows}
    c = Counter()
    for r in load_events(spark, sf_dir).select("value").collect():
        if r.value >= 0.01:
            c[int(str(math.floor(r.value * 100 + 0.5))[0])] += 1
    n = sum(c.values())
    assert {d: r.o for d, r in got.items()} == dict(c)
    for d, r in got.items():
        exp = math.log10(1 + 1 / d) * n
        assert abs(r.expected - exp) < 1e-3
        assert abs(r.deviation - (c[d] - exp)) < 1e-3


def test_window_session_dynamic_merge_semantics(spark, sf_dir):
    """Dynamic-gap sessions vs a literal per-user replay of the
    overlapping-window merge rule; purchases extend sessions longer."""
    from collections import defaultdict

    from kinesis_stream_reader_spark.registry import QUERIES

    got = {
        (r.user_id, r.session_id): (r.n_events, r.start_s, r.end_s)
        for r in QUERIES["window_session_dynamic"](spark, sf_dir).collect()
    }
    events = load_events(spark, sf_dir)
    by_user = defaultdict(list)
    for r in events.select("user_id", "ts", "event_type").collect():
        t = int(r.ts.timestamp())
        gap = 3600 if r.event_type == "purchase" else 1800
        by_user[r.user_id].append((t, r.ts, gap))
    expect = {}
    for uid, evs in by_user.items():
        evs.sort(key=lambda x: (x[0], x[1]))
        sid = 0
        run_end = None
        cur = None
        for t, _, gap in evs:
            if run_end is None or t >= run_end:
                if cur:
                    expect[(uid, sid)] = tuple(cur)
                sid += 1
                cur = [1, t, t + gap]
                run_end = t + gap
            else:
                cur[0] += 1
                cur[2] = max(cur[2], t + gap)
                run_end = max(run_end, t + gap)
        if cur:
            expect[(uid, sid)] = tuple(cur)
    assert got == expect


def test_log_parse_roundtrip_census(spark, sf_dir):
    """Parsed census vs a driver-side formula recompute, including the
    malformed tail."""
    from collections import defaultdict

    from kinesis_stream_reader_spark.registry import QUERIES

    got = {
        (r.event_type, r.status): (r.n, r.sum_bytes)
        for r in QUERIES["log_parse_roundtrip"](spark, sf_dir).collect()
    }
    agg = defaultdict(lambda: [0, 0])
    for r in load_events(spark, sf_dir).select("event_id", "event_type", "value").collect():
        if r.event_id % 53 == 0:
            key = (r.event_type, None)
            agg[key][0] += 1
        else:
            st = 500 if r.event_id % 10 == 0 else (404 if r.event_id % 10 in (1, 2) else 200)
            key = (r.event_type, st)
            agg[key][0] += 1
            agg[key][1] += math.floor(r.value * 100 + 0.5)
    assert got == {k: tuple(v) for k, v in agg.items()}


def test_bitmap_membership_set_algebra(spark, sf_dir):
    """Bitmap counts must equal literal set computations per day."""
    from collections import defaultdict

    from kinesis_stream_reader_spark.registry import QUERIES

    got = {
        r.day: (r.n_buckets, r.overlap_prev, r.union_prev)
        for r in QUERIES["bitmap_membership"](spark, sf_dir).collect()
    }
    sets = defaultdict(set)
    for r in load_events(spark, sf_dir).select("user_id", "ts").collect():
        sets[r.ts.date()].add(r.user_id % 63)
    days = sorted(sets)
    for i, d in enumerate(days):
        key = d.strftime("%Y-%m-%d")
        prev = sets[days[i - 1]] if i else None
        assert got[key][0] == len(sets[d])
        if prev is None:
            assert got[key][1] == 0 and got[key][2] == 0
        else:
            assert got[key][1] == len(sets[d] & prev)
            assert got[key][2] == len(sets[d] | prev)


def test_join_asof_nearest_brute_force(spark, sf_dir):
    """Nearest-direction match vs a per-event driver scan of the
    user's orders (ties to the past; same-date keys collapse to the
    direction's convention)."""
    from collections import defaultdict

    from kinesis_stream_reader_spark.registry import QUERIES

    got = {
        r.event_id: (r.nearest_orderkey, r.direction, r.gap_s)
        for r in QUERIES["join_asof_nearest"](spark, sf_dir).collect()
    }
    orders = load_table(spark, sf_dir, "orders")
    by_cust = defaultdict(dict)
    for r in orders.select("o_custkey", "o_orderdate", "o_orderkey").collect():
        d = by_cust[r.o_custkey].setdefault(r.o_orderdate, [])
        d.append(r.o_orderkey)
    events = load_events(spark, sf_dir)
    for r in events.select("event_id", "user_id", "ts").collect():
        if r.event_id % 131 != 0:
            continue
        te = int(r.ts.timestamp())
        best_b = best_f = None
        for d, keys in by_cust.get(r.user_id, {}).items():
            td = int(
                __import__("datetime").datetime(d.year, d.month, d.day).timestamp()
            )
            if td <= te and (best_b is None or td > best_b[0] or (td == best_b[0] and max(keys) > best_b[1])):
                best_b = (td, max(keys))
            if td > te and (best_f is None or td < best_f[0] or (td == best_f[0] and min(keys) < best_f[1])):
                best_f = (td, min(keys))
        if best_b is None and best_f is None:
            expect = (None, "none", None)
        elif best_f is None or (
            best_b is not None and te - best_b[0] <= best_f[0] - te
        ):
            expect = (best_b[1], "backward", te - best_b[0])
        else:
            expect = (best_f[1], "forward", best_f[0] - te)
        assert got[r.event_id] == expect, (r.event_id, got[r.event_id], expect)


def test_sequence_pattern_regex_brute_force(spark, sf_dir):
    """Per-user compressed-timeline regex counts vs a driver replay."""
    import re as _re
    from collections import defaultdict

    from kinesis_stream_reader_spark.registry import QUERIES

    got = {
        r.user_id: (r.seq_len, r.n_matches)
        for r in QUERIES["sequence_pattern_regex"](spark, sf_dir).collect()
    }
    timelines = defaultdict(list)
    for r in load_events(spark, sf_dir).select("user_id", "ts", "event_id", "event_type").collect():
        timelines[r.user_id].append((r.ts, r.event_id, r.event_type[0]))
    expect = {}
    for uid, tl in timelines.items():
        if uid % 17 != 0:
            continue
        tl.sort()
        seq = "".join(c for _, _, c in tl)
        expect[uid] = (len(seq), len(_re.findall("vc*p", seq)))
    assert got == expect


def test_attribution_models_brute_force(spark, sf_dir):
    """First/last/count credit vs a per-purchase driver scan of the
    24h click lookback (peer-inclusive at the boundary instant)."""
    from collections import defaultdict

    from kinesis_stream_reader_spark.registry import QUERIES

    got = {
        r.purchase_id: (r.first_touch_id, r.last_touch_id, r.n_touches)
        for r in QUERIES["attribution_models"](spark, sf_dir).collect()
    }
    clicks = defaultdict(list)
    purchases = []
    for r in load_events(spark, sf_dir).select("user_id", "ts", "event_id", "event_type").collect():
        te = int(r.ts.timestamp())
        if r.event_type == "click":
            clicks[r.user_id].append((te, r.event_id))
        elif r.event_type == "purchase" and r.event_id % 61 == 0:
            purchases.append((r.user_id, te, r.event_id))
    expect = {}
    for uid, pt, pid in purchases:
        window = [(t, e) for t, e in clicks[uid] if pt - 86400 <= t <= pt]
        if not window:
            expect[pid] = (None, None, 0)
        else:
            first = min(window)
            last = max(window)
            expect[pid] = (first[1], last[1], len(window))
    assert got == expect


def test_conversion_latency_histogram_brute(spark, sf_dir):
    """Latency buckets vs the per-purchase driver replay."""
    from collections import Counter, defaultdict

    from kinesis_stream_reader_spark.registry import QUERIES

    got = {
        r.latency_minutes: r.n
        for r in QUERIES["conversion_latency_histogram"](spark, sf_dir).collect()
    }
    clicks = defaultdict(list)
    hist = Counter()
    rows = sorted(
        load_events(spark, sf_dir)
        .select("user_id", "ts", "event_id", "event_type")
        .collect(),
        key=lambda r: (r.user_id, r.ts, 0 if r.event_type == "click" else 1),
    )
    last_click = {}
    for r in rows:
        if r.event_type == "click":
            lc = last_click.get(r.user_id)
            last_click[r.user_id] = r.ts if lc is None else max(lc, r.ts)
        elif r.event_type == "purchase":
            lc = last_click.get(r.user_id)
            if lc is not None:
                lat = (int(r.ts.timestamp()) - int(lc.timestamp())) // 60
                hist[min(lat, 120)] += 1
    assert got == dict(hist)


def test_quarantine_split_census(spark, sf_dir):
    """Reason-set census: only the injected checksum rule fires on the
    clean fixture, and valid + quarantined == total."""
    from kinesis_stream_reader_spark.registry import QUERIES

    rows = {r.reasons: r.n for r in QUERIES["quarantine_split"](spark, sf_dir).collect()}
    events = load_events(spark, sf_dir)
    total = events.count()
    injected = events.filter(F.col("event_id") % 89 == 0).count()
    assert rows == {"valid": total - injected, "checksum;": injected}


def test_quantile_normalize_marginals(spark, sf_dir):
    """Normalized values must be the global order statistics at each
    row's within-group grid position (driver-side replay)."""
    from collections import defaultdict

    from kinesis_stream_reader_spark.registry import QUERIES

    got = {
        r.event_id: r.normalized
        for r in QUERIES["quantile_normalize"](spark, sf_dir).collect()
    }
    rows = load_events(spark, sf_dir).select("event_id", "event_type", "value").collect()
    global_sorted = sorted(rows, key=lambda r: (r.value, r.event_id))
    n = len(global_sorted)
    grid = {g: global_sorted[(g * (n - 1)) // 100].value for g in range(101)}
    by_type = defaultdict(list)
    for r in rows:
        by_type[r.event_type].append(r)
    for et, members in by_type.items():
        members.sort(key=lambda r: (r.value, r.event_id))
        ns = len(members)
        for i, r in enumerate(members):
            if r.event_id % 173 == 0:
                g = 0 if ns == 1 else (i * 100) // (ns - 1)
                assert got[r.event_id] == round(grid[g], 4), (r.event_id, g)


def test_varint_delta_report_brute(spark, sf_dir):
    """Per-day byte accounting vs a driver replay of the encoding."""
    from collections import defaultdict

    from kinesis_stream_reader_spark.registry import QUERIES

    got = {
        r.day: (r.n_ids, r.raw_bytes, r.encoded_bytes)
        for r in QUERIES["varint_delta_report"](spark, sf_dir).collect()
    }
    ids = defaultdict(list)
    for r in load_events(spark, sf_dir).select("event_id", "ts").collect():
        ids[r.ts.date()].append(r.event_id)
    expect = {}
    for d, vs in ids.items():
        vs.sort()
        nb = 8
        for prev, cur in zip(vs, vs[1:]):
            delta = cur - prev
            nb += 1 if delta < 128 else 2 if delta < 16384 else 3 if delta < 2097152 else 4 if delta < 268435456 else 8
        expect[d.strftime("%Y-%m-%d")] = (len(vs), len(vs) * 8, nb)
    assert got == expect


def test_item_item_recs_brute_force(spark, sf_dir):
    """Top-3 lift-ranked recs per item vs a driver basket scan."""
    import math
    from collections import Counter, defaultdict

    from kinesis_stream_reader_spark.registry import QUERIES

    got = [
        (r.item_a, r.rnk, r.item_b, r.cooc, r.lift)
        for r in QUERIES["item_item_recs"](spark, sf_dir).collect()
    ]
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    brand = {r.p_partkey: r.p_brand for r in part.collect()}
    baskets = defaultdict(set)
    for r in li.select("l_orderkey", "l_partkey").collect():
        baskets[r.l_orderkey].add(brand[r.l_partkey])
    n = len(baskets)
    ic = Counter()
    cooc = Counter()
    for items in baskets.values():
        ic.update(items)
        for a in items:
            for b in items:
                if a != b:
                    cooc[(a, b)] += 1
    expect = []
    for a in sorted(ic):
        scored = []
        for (x, b), c in cooc.items():
            if x == a and c >= 10:
                lift = math.floor(c * n / (ic[a] * ic[b]) * 1e6 + 0.5) / 1e6
                scored.append((-lift, b, c, lift))
        scored.sort()
        for rnk, (_, b, c, lift) in enumerate(scored[:3], 1):
            expect.append((a, rnk, b, c, lift))
    assert got == expect


def test_tiered_billing_exact(spark, sf_dir):
    """Band accounting vs a driver recompute; monotone in units."""
    from collections import Counter

    from kinesis_stream_reader_spark.registry import QUERIES

    got = {r.tenant: (r.units, r.microcents) for r in
           QUERIES["tiered_billing_report"](spark, sf_dir).collect()}
    units = Counter()
    for r in load_events(spark, sf_dir).select("user_id").collect():
        units[r.user_id % 50] += 1
    for t, u in units.items():
        t1 = min(u, 100)
        t2 = min(max(u - 100, 0), 400)
        t3 = max(u - 500, 0)
        assert got[t] == (u, t1 * 500 + t2 * 300 + t3 * 100)


def test_uptime_report_brute(spark, sf_dir):
    """Outage accounting vs a driver replay of per-type gaps."""
    from collections import defaultdict

    from kinesis_stream_reader_spark.registry import QUERIES

    got = {
        r.event_type: (r.n_outages, r.downtime_s, r.span_s)
        for r in QUERIES["uptime_report"](spark, sf_dir).collect()
    }
    tl = defaultdict(list)
    for r in load_events(spark, sf_dir).select("event_type", "ts", "event_id").collect():
        tl[r.event_type].append((int(r.ts.timestamp()), r.event_id))
    for et, ts in tl.items():
        ts.sort()
        gaps = [b[0] - a[0] for a, b in zip(ts, ts[1:])]
        outages = [gp for gp in gaps if gp > 1800]
        span = ts[-1][0] - ts[0][0]
        assert got[et] == (len(outages), sum(outages), span)


def test_stock_ledger_dips_brute(spark, sf_dir):
    """Running-balance extrema vs a driver ledger replay."""
    from collections import defaultdict

    from kinesis_stream_reader_spark.registry import QUERIES

    got = {
        r.l_partkey: (r.min_balance, r.max_balance, r.n_negative_points, r.ever_negative)
        for r in QUERIES["stock_ledger_dips"](spark, sf_dir).collect()
    }
    rows = defaultdict(list)
    for r in load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_returnflag", "l_quantity", "l_shipdate", "l_orderkey", "l_linenumber"
    ).collect():
        if r.l_partkey % 97 == 0:
            d = -int(r.l_quantity) if r.l_returnflag == "R" else int(r.l_quantity)
            rows[r.l_partkey].append((r.l_shipdate, r.l_orderkey, r.l_linenumber, d))
    for pk, ledger in rows.items():
        ledger.sort()
        bal = 0
        bals = []
        for _, _, _, d in ledger:
            bal += d
            bals.append(bal)
        assert got[pk] == (
            min(bals),
            max(bals),
            sum(1 for b in bals if b < 0),
            min(bals) < 0,
        )


def test_cycle_time_report_brute(spark, sf_dir):
    """Cycle days and discrete quantiles vs a driver replay."""
    from collections import defaultdict

    from kinesis_stream_reader_spark.registry import QUERIES

    got = {r.priority: r for r in QUERIES["cycle_time_report"](spark, sf_dir).collect()}
    orders = {
        r.o_orderkey: (r.o_orderpriority, r.o_orderdate)
        for r in load_table(spark, sf_dir, "orders").collect()
    }
    last_ship = {}
    for r in load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate").collect():
        cur = last_ship.get(r.l_orderkey)
        last_ship[r.l_orderkey] = r.l_shipdate if cur is None else max(cur, r.l_shipdate)
    per = defaultdict(list)
    for ok, (pri, od) in orders.items():
        if ok in last_ship:
            per[pri].append((last_ship[ok].date() - od.date()).days)
    for pri, days in per.items():
        days.sort()
        n = len(days)
        r = got[pri]
        assert r.n_orders == n
        assert r.min_days == days[0] and r.max_days == days[-1]
        # quantile_disc 'lower' convention
        import math as _m

        assert r.median_days == days[_m.ceil(0.5 * n) - 1]
        assert r.p95_days == days[_m.ceil(0.95 * n) - 1]


def test_trimmed_mean_brute(spark, sf_dir):
    """Trim gates and mean vs a driver replay; trimmed mean between
    min and max of the kept band."""
    from collections import defaultdict

    from kinesis_stream_reader_spark.registry import QUERIES

    got = {r.event_type: r for r in QUERIES["trimmed_mean_report"](spark, sf_dir).collect()}
    per = defaultdict(list)
    for r in load_events(spark, sf_dir).select("event_type", "value", "event_id").collect():
        per[r.event_type].append((r.value, r.event_id))
    for et, vals in per.items():
        vals.sort()
        n = len(vals)
        lo = n * 5 // 100
        kept = vals[lo : n - lo]
        cents = [math.floor(v * 100 + 0.5) for v, _ in kept]
        r = got[et]
        assert r.n == n and r.n_kept == len(kept)
        assert r.trimmed_mean == math.floor(
            sum(cents) / len(cents) / 100.0 * 1e6 + 0.5
        ) / 1e6


def test_weekday_seasonality_brute(spark, sf_dir):
    """Per-dow means and seasonal deviations vs a driver replay."""
    from collections import defaultdict

    from kinesis_stream_reader_spark.registry import QUERIES

    got = {r.dow: r for r in QUERIES["weekday_seasonality_report"](spark, sf_dir).collect()}
    counts = defaultdict(int)
    for r in load_events(spark, sf_dir).select("ts").collect():
        counts[r.ts.date()] += 1
    per_dow = defaultdict(list)
    for d, x in counts.items():
        dow = (d.weekday() + 1) % 7 + 1  # Spark: Sunday=1
        per_dow[dow].append(x)
    nd = len(counts)
    s = sum(counts.values())
    for dow, xs in per_dow.items():
        r = got[dow]
        assert r.n_days == len(xs)
        assert r.mean_events == math.floor(sum(xs) / len(xs) * 1e6 + 0.5) / 1e6
        assert r.seasonal_component == math.floor(
            (sum(xs) / len(xs) - s / nd) * 1e6 + 0.5
        ) / 1e6


def test_abandoned_carts_brute(spark, sf_dir):
    """Forward-negation split vs a driver replay (same-instant
    purchases convert)."""
    from collections import defaultdict

    from kinesis_stream_reader_spark.registry import QUERIES

    got = {
        r.day: (r.n_clicks, r.n_abandoned, r.n_converted)
        for r in QUERIES["abandoned_carts"](spark, sf_dir).collect()
    }
    clicks = defaultdict(list)
    purchases = defaultdict(list)
    for r in load_events(spark, sf_dir).select("user_id", "ts", "event_type").collect():
        te = int(r.ts.timestamp())
        if r.event_type == "click":
            clicks[r.user_id].append(te)
        elif r.event_type == "purchase":
            purchases[r.user_id].append(te)
    import datetime

    expect = defaultdict(lambda: [0, 0, 0])
    for uid, cts in clicks.items():
        pts = sorted(purchases.get(uid, []))
        for ct in cts:
            nxt = next((p for p in pts if p >= ct), None)
            converted = nxt is not None and nxt - ct <= 86400
            day = datetime.datetime.utcfromtimestamp(ct).strftime("%Y-%m-%d")
            e = expect[day]
            e[0] += 1
            e[2 if converted else 1] += 1
    assert got == {d: tuple(v) for d, v in expect.items()}


def test_diversity_index_brute(spark, sf_dir):
    """Simpson and Shannon per source vs a driver census."""
    import re as _re
    from collections import Counter, defaultdict

    from kinesis_stream_reader_spark.registry import QUERIES

    got = {r.source: r for r in QUERIES["diversity_index_report"](spark, sf_dir).collect()}
    census = defaultdict(Counter)
    for r in load_table(spark, sf_dir, "documents").select("source", "text").collect():
        norm = _re.sub("[^a-z0-9 ]", "", r.text.strip().lower())
        census[r.source].update(t for t in norm.split(" ") if t)
    for src, c in census.items():
        n = sum(c.values())
        pair = sum(v * (v - 1) for v in c.values())
        sh_u = sum(
            math.floor(-(v / n) * math.log(v / n) * 1e9 + 0.5) for v in c.values()
        )
        r = got[src]
        assert (r.n_tokens, r.n_terms) == (n, len(c))
        assert r.simpson == math.floor(pair / (n * (n - 1)) * 1e6 + 0.5) / 1e6
        assert r.shannon_nats == sh_u / 1e9


def test_price_elasticity_numpy(spark, sf_dir):
    """Per-brand slope vs numpy.polyfit on the quantized pairs."""
    import numpy as np
    from collections import defaultdict

    from kinesis_stream_reader_spark.registry import QUERIES

    got = {r.brand: r for r in QUERIES["price_elasticity_report"](spark, sf_dir).collect()}
    part = load_table(spark, sf_dir, "part")
    brand = {r.p_partkey: r.p_brand for r in part.collect()}
    per = defaultdict(list)
    for r in load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_quantity"
    ).collect():
        pc = math.floor(r.l_extendedprice / r.l_quantity * 100 + 0.5)
        per[brand[r.l_partkey]].append((pc, r.l_quantity))
    for b, pts in per.items():
        xs = np.array([p for p, _ in pts], dtype=float)
        ys = np.array([q for _, q in pts], dtype=float)
        slope = np.polyfit(xs, ys, 1)[0]
        assert got[b].n == len(pts)
        assert abs(got[b].qty_per_cent - slope) < 1e-6, b


def test_text_readability_brute(spark, sf_dir):
    """Count features and the formula vs a driver replay."""
    import re as _re

    from kinesis_stream_reader_spark.registry import QUERIES

    got = {r.doc_id: r for r in QUERIES["text_readability"](spark, sf_dir).collect()}
    for r in load_table(spark, sf_dir, "documents").select("doc_id", "text").collect():
        if r.doc_id % 29 != 0:
            continue
        words = len(r.text.strip().split())
        sentences = r.text.count(".") + 1
        syllables = len(_re.findall("[aeiouy]+", r.text.lower()))
        flesch = 206.835 - 1.015 * (words / sentences) - 84.6 * (syllables / words)
        g = got[r.doc_id]
        assert (g.words, g.sentences, g.syllables) == (words, sentences, syllables)
        assert g.flesch == math.floor(flesch * 1e4 + 0.5) / 1e4


def test_degree_distribution_brute(spark, sf_dir):
    """Census stats and the log-log slope vs a driver replay."""
    from collections import Counter

    from kinesis_stream_reader_spark.registry import QUERIES

    row = QUERIES["degree_distribution_report"](spark, sf_dir).collect()[0]
    edges = set()
    for r in load_events(spark, sf_dir).select("user_id", "event_id").collect():
        edges.add((r.user_id, r.event_id % 500))
    deg = Counter(s for s, _ in edges)
    hist = Counter(deg.values())
    assert row.n_nodes == len(deg)
    assert row.n_edges == len(edges)
    assert row.n_distinct_degrees == len(hist)
    assert row.max_degree == max(hist)
    lx = [math.floor(math.log(d) * 1e6 + 0.5) for d in hist]
    ly = [math.floor(math.log(hist[d]) * 1e6 + 0.5) for d in hist]
    n = len(lx)
    sx, sy = sum(lx), sum(ly)
    sxx = sum(x * x for x in lx)
    sxy = sum(x * y for x, y in zip(lx, ly))
    slope = math.floor((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1e6 + 0.5) / 1e6
    assert row.loglog_slope == slope


def test_rolling_median_brute(spark, sf_dir):
    """Frame medians vs a driver replay (lower-median convention)."""
    from collections import defaultdict

    from kinesis_stream_reader_spark.registry import QUERIES

    got = {
        (r.event_type, r.day): (r.rolling_median, r.frame_n)
        for r in QUERIES["rolling_median"](spark, sf_dir).collect()
    }
    counts = defaultdict(dict)
    for r in load_events(spark, sf_dir).select("event_type", "ts").collect():
        d = r.ts.date()
        counts[r.event_type][d] = counts[r.event_type].get(d, 0) + 1
    for et, series in counts.items():
        days = sorted(series)
        for i, d in enumerate(days):
            frame = [series[x] for x in days[max(0, i - 6) : i + 1]]
            frame.sort()
            med = frame[(len(frame) + 1) // 2 - 1]
            key = (et, d.strftime("%Y-%m-%d"))
            assert got[key] == (med, len(frame)), key


def test_cohort_conversion_brute(spark, sf_dir):
    from collections import defaultdict

    from kinesis_stream_reader_spark.registry import QUERIES

    got = {
        r.cohort_week: (r.n_users, r.n_converted)
        for r in QUERIES["cohort_conversion_report"](spark, sf_dir).collect()
    }
    first = {}
    conv = defaultdict(int)
    rows = load_events(spark, sf_dir).select("user_id", "ts", "event_type", "value").collect()
    d0 = min(r.ts for r in rows).date()
    for r in rows:
        wk = (r.ts.date() - d0).days // 7
        first[r.user_id] = min(first.get(r.user_id, 10**9), wk)
        if r.event_type == "purchase" and r.value > 150:
            conv[r.user_id] = 1
    expect = defaultdict(lambda: [0, 0])
    for u, wk in first.items():
        expect[wk][0] += 1
        expect[wk][1] += conv[u]
    assert got == {k: tuple(v) for k, v in expect.items()}


def test_partition_gini_brute(spark, sf_dir):
    from collections import Counter

    from kinesis_stream_reader_spark.registry import QUERIES

    row = QUERIES["partition_gini_report"](spark, sf_dir).collect()[0]
    sizes = Counter()
    for r in load_events(spark, sf_dir).select("user_id").collect():
        sizes[r.user_id % 32] += 1
    xs = sorted(sizes.items(), key=lambda kv: (kv[1], kv[0]))
    n = len(xs)
    total = sum(v for _, v in xs)
    num = sum((2 * (i + 1) - n - 1) * v for i, (_, v) in enumerate(xs))
    assert (row.n_partitions, row.n_rows) == (n, total)
    assert row.gini == math.floor(num / (n * total) * 1e6 + 0.5) / 1e6
    assert 0 <= row.gini < 1
