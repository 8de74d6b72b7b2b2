"""Plan-shape regression tests: lock in the physical-plan properties
the 100 TB design depends on (pushdown, pruning, broadcast, TakeOrdered)
so a refactor that silently degrades the plan fails CI."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod


def physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def qs():
    return entrymod.queries()


def test_filter_queries_prune_to_needed_columns(spark, sf_dir, qs):
    """The nested-event projection must collapse: a filter query reads
    only the flat source columns it needs, not all six."""
    plan = physical_plan(qs["filter_server_name"](spark, sf_dir))
    assert "ReadSchema: struct<event_id:bigint,event_type:string>" in plan


def test_join_enrich_broadcasts_all_dims(spark, sf_dir, qs):
    plan = physical_plan(qs["join_enrich"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan


def test_top_k_uses_take_ordered(spark, sf_dir, qs):
    plan = physical_plan(qs["top_k_customers"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_sort_limit_uses_take_ordered(spark, sf_dir, qs):
    plan = physical_plan(qs["sort_limit"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no global sort node


def test_agg_pricing_summary_prunes_columns(spark, sf_dir, qs):
    """Q1 must read 6 of 11 lineitem columns."""
    plan = physical_plan(qs["agg_pricing_summary"](spark, sf_dir))
    read = [line for line in plan.splitlines() if "ReadSchema" in line][0]
    assert "l_quantity" in read and "l_extendedprice" in read
    assert "l_shipdate" not in read and "l_partkey" not in read


def test_join_filter_pushdown_reaches_scan(spark, sf_dir, qs):
    """The brand predicate must be pushed into the part scan."""
    plan = physical_plan(qs["join_filter_pushdown"](spark, sf_dir))
    assert "PushedFilters: [IsNotNull(p_brand), EqualTo(p_brand,Brand#13)" in plan


def test_no_python_udfs_in_reference_filters(spark, sf_dir, qs):
    """The parity surface is pure column algebra — no Python eval nodes."""
    for name in ("records_pipeline", "filter_contact_id", "scan_stream"):
        plan = physical_plan(qs[name](spark, sf_dir))
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


def formatted_plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q6_range_predicates_push_to_scan(spark, sf_dir, qs):
    plan = formatted_plan(qs["tpch_q6"](spark, sf_dir))
    assert "GreaterThanOrEqual(l_shipdate,1994-01-01" in plan
    assert "LessThan(l_quantity,24.0)" in plan
    assert "ReadSchema: struct<l_quantity:double,l_extendedprice:double," in plan


def test_whole_stage_codegen_covers_filters(spark, sf_dir, qs):
    # "*(n)" prefixes mark whole-stage-codegen stages in the plan string
    plan = physical_plan(qs["filter_contact_id"](spark, sf_dir))
    assert "*(1)" in plan


def test_join_strategy_hints_change_physical_plan(spark, sf_dir):
    """The optimizer surface honors per-join strategy hints: the same
    logical join plans as SortMergeJoin under a merge hint and
    BroadcastHashJoin under a broadcast hint."""
    from kinesis_stream_reader_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    merged = orders.join(
        customer.hint("merge"), orders.o_custkey == customer.c_custkey
    )
    assert "SortMergeJoin" in merged._jdf.queryExecution().executedPlan().toString()
    bcast = orders.join(
        customer.hint("broadcast"), orders.o_custkey == customer.c_custkey
    )
    assert "BroadcastHashJoin" in bcast._jdf.queryExecution().executedPlan().toString()


def test_sorted_sink_files_have_disjoint_time_ranges(spark, sf_dir):
    """The range-partitioned sorted layout must give each parquet file
    a disjoint [min(ts), max(ts)] interval — the property file-level
    min/max skipping needs."""
    from kinesis_stream_reader_spark.registry import QUERIES

    QUERIES["sink_sorted_parquet"](spark, sf_dir)  # (re)write the layout
    from kinesis_stream_reader_spark.registry import _roundtrip_dir

    out_dir = _roundtrip_dir(sf_dir, "sorted")
    from pyspark.sql import functions as F

    ranges = (
        spark.read.parquet(out_dir)
        .withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    assert len(ranges) > 1
    for prev, cur in zip(ranges, ranges[1:]):
        assert prev.hi <= cur.lo


def test_zorder_narrows_both_dimensions(spark):
    sf_dir = "/root/testdata/sf0.01"  # needs real user cardinality
    """Z-order quality: per-file spans must be well under the global
    span on BOTH user_id and ts — single-key time sorting leaves the
    user_id span at ~100% per file, the Morton layout bounds both."""
    import glob

    import __spark_entry__ as entrymod

    from kinesis_stream_reader_spark.scratch import scratch

    entrymod.queries()["sink_zorder_parquet"](spark, sf_dir).count()
    out_dir = scratch(
        f"ksr_sink/{sf_dir.strip('/').replace('/', '_')}_events_zorder"
    )
    files = sorted(glob.glob(f"{out_dir}/part-*.parquet"))
    assert len(files) >= 4
    from pyspark.sql import functions as F

    g_user = spark.read.parquet(out_dir).agg(
        (F.max("user_id") - F.min("user_id")).alias("s")
    ).first().s
    g_ts = spark.read.parquet(out_dir).agg(
        (F.max("ts_us") - F.min("ts_us")).alias("s")
    ).first().s if "ts_us" in spark.read.parquet(out_dir).columns else None
    spans_u, spans_t = [], []
    for f in files:
        df = spark.read.parquet(f)
        tcol = "ts_us" if "ts_us" in df.columns else "ts"
        r = df.agg(
            (F.max("user_id") - F.min("user_id")).alias("su"),
            (F.max(F.col(tcol).cast("long")) - F.min(F.col(tcol).cast("long"))).alias("st"),
        ).first()
        spans_u.append(r.su)
        spans_t.append(r.st)
    tcol_all = spark.read.parquet(out_dir)
    tname = "ts_us" if "ts_us" in tcol_all.columns else "ts"
    g_ts = tcol_all.agg(
        (F.max(F.col(tname).cast("long")) - F.min(F.col(tname).cast("long"))).alias("s")
    ).first().s
    # average per-file span must be clearly narrower than global on BOTH
    # dimensions (the whole point of interleaving)
    assert sum(spans_u) / len(spans_u) < 0.6 * g_user, (spans_u, g_user)
    assert sum(spans_t) / len(spans_t) < 0.6 * g_ts, (spans_t, g_ts)


def test_partition_overwrite_touches_exactly_one_day(spark, sf_dir):
    """The reprocessed day must actually exist, carry doubled values,
    and every other day must be byte-identical to the original."""
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    from kinesis_stream_reader_spark.sources.tables import load_events

    out = entrymod.queries()["sink_partition_overwrite"](spark, sf_dir)
    events = load_events(spark, sf_dir).select(
        "event_id", "value", F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
    )
    target = events.filter(F.col("day") == "2024-01-15")
    assert target.count() > 0  # the overwritten partition is non-trivial
    joined = out.withColumnRenamed("value", "v_out").join(events, ["event_id", "day"])
    mismatched_elsewhere = joined.filter(
        (F.col("day") != "2024-01-15") & (F.col("v_out") != F.col("value"))
    )
    undoubled_target = joined.filter(
        (F.col("day") == "2024-01-15") & (F.col("v_out") != F.col("value") * 2)
    )
    assert mismatched_elsewhere.count() == 0
    assert undoubled_target.count() == 0


def test_schema_evolution_nulls_only_in_old_generation(spark, sf_dir):
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    out = entrymod.queries()["schema_evolution_read"](spark, sf_dir)
    assert out.filter((F.col("event_id") % 2 == 0) & F.col("value").isNotNull()).count() == 0
    assert out.filter((F.col("event_id") % 2 == 1) & F.col("value").isNull()).count() == 0


def test_compaction_collapses_file_count_preserving_rows(spark, sf_dir):
    import glob

    import __spark_entry__ as entrymod

    from kinesis_stream_reader_spark.registry import _roundtrip_dir
    from kinesis_stream_reader_spark.sources.tables import load_events

    out = entrymod.queries()["sink_compact_small_files"](spark, sf_dir)
    n_frag = len(glob.glob(f"{_roundtrip_dir(sf_dir, 'fragmented')}/part-*.parquet"))
    n_comp = len(glob.glob(f"{_roundtrip_dir(sf_dir, 'compacted')}/part-*.parquet"))
    assert n_frag == 64
    assert n_comp < n_frag / 4  # real collapse
    assert out.count() == load_events(spark, sf_dir).count()


def test_pipeline_dsl_validation_and_plan(spark, sf_dir):
    """Unknown ops/aggs/tables must raise BEFORE execution; a valid
    spec compiles to one plan equal to the hand-written chain."""
    import pytest as _pytest

    from kinesis_stream_reader_spark.plans.pipeline import pipeline_from_spec
    from kinesis_stream_reader_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    tables = {"orders": orders}
    with _pytest.raises(ValueError, match="unknown source"):
        pipeline_from_spec(spark, tables, {"source": "nope"})
    with _pytest.raises(ValueError, match="unknown op"):
        pipeline_from_spec(
            spark, tables, {"source": "orders", "steps": [{"op": "drop_table"}]}
        )
    with _pytest.raises(ValueError, match="not allowed"):
        pipeline_from_spec(
            spark,
            tables,
            {
                "source": "orders",
                "steps": [
                    {"op": "group_agg", "keys": ["o_orderpriority"],
                     "aggs": [{"fn": "collect_list", "col": "o_custkey", "alias": "x"}]}
                ],
            },
        )
    spec = {
        "source": "orders",
        "steps": [
            {"op": "filter", "expr": "o_totalprice > 200000"},
            {"op": "group_agg", "keys": ["o_orderpriority"],
             "aggs": [{"fn": "count", "col": "*", "alias": "n"}]},
            {"op": "order_by", "columns": ["o_orderpriority"]},
        ],
    }
    got = pipeline_from_spec(spark, tables, spec).collect()
    want = (
        orders.filter("o_totalprice > 200000")
        .groupBy("o_orderpriority")
        .count()
        .withColumnRenamed("count", "n")
        .orderBy("o_orderpriority")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_surrogate_keys_dense_no_global_sort(spark, sf_dir):
    """The dense-numbering plan must NOT contain a single-partition
    global sort of the fact table (the naive row_number shape)."""
    from kinesis_stream_reader_spark.registry import QUERIES
    from kinesis_stream_reader_spark.sources.tables import load_events
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    df = QUERIES["surrogate_keys_dense"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the naive plan shows 'Window [row_number() ...]' over an empty
    # partition spec, which Spark executes after Exchange SinglePartition
    naive = (
        load_events(spark, sf_dir)
        .withColumn("sk", F.row_number().over(Window.orderBy("event_id")))
    )
    naive_plan = naive._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" in naive_plan  # the anti-pattern, for contrast
    # the fact-side numbering runs PARTITIONED by bucket (parallel);
    # the only single-partition work is the tiny bucket-count offsets
    assert "hashpartitioning(bucket" in plan


def test_backfill_recomputes_only_stale_days(spark, sf_dir):
    """The merged result equals the full recompute, and the stale-day
    set is exactly the tampered days."""
    from kinesis_stream_reader_spark.registry import QUERIES
    from kinesis_stream_reader_spark.sources.tables import load_events
    from pyspark.sql import functions as F

    merged = {
        r.day: (r.n, r.value_cents)
        for r in QUERIES["backfill_stale_partitions"](spark, sf_dir).collect()
    }
    events = load_events(spark, sf_dir)
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    full = {
        r.day: (r.n, r.vc)
        for r in events.groupBy(
            F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
        )
        .agg(F.count("*").alias("n"), F.sum(cents).alias("vc"))
        .collect()
    }
    assert merged == full


def test_model_eval_auc_no_corpus_single_partition(spark, sf_dir, qs):
    """The AUC midrank pass must be the value census, not a global row
    rank: the corpus-sized relation flows through a hashpartitioning
    exchange on the quantized logit; SinglePartition appears only ABOVE
    that census aggregate (prefix-sum window + one-row final agg)."""
    plan = physical_plan(qs["model_eval_auc"](spark, sf_dir))
    # the census keying (quantized-logit grouping expression) is a
    # hash-partitioned exchange...
    assert "Exchange hashpartitioning(_groupingexpression" in plan
    # ...and no unpartitioned rank() over document rows anywhere
    assert "rank(" not in plan
    census_pos = plan.index("Exchange hashpartitioning(_groupingexpression")
    single_pos = plan.index("Exchange SinglePartition")
    # plan strings print top-down: the SinglePartition exchange must be
    # ABOVE (printed before) the census exchange it consumes — i.e. it
    # repartitions the census, never the corpus
    assert single_pos < census_pos


def test_curriculum_shards_census_and_broadcast(spark, sf_dir, qs):
    """Shard edges come from the bounded value census (broadcast back),
    and the within-shard numbering is partitioned BY SHARD — no global
    row sort of the corpus."""
    plan = physical_plan(qs["curriculum_shards"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "hashpartitioning(shard" in plan


def test_psm_carry_windows_are_bucket_partitioned(spark, sf_dir, qs):
    """PSM's as-of carry must run in score-bucket-partitioned windows
    with a broadcast bucket-prefix join — never one global-sort window
    over the user relation."""
    plan = physical_plan(qs["psm_att_matched"](spark, sf_dir))
    # the carry window partitions by the bucket column
    assert "windowspecdefinition(b" in plan
    assert "BroadcastHashJoin" in plan


def test_sprt_running_sums_partition_by_day(spark, sf_dir, qs):
    """The SPRT running LLR decomposes into per-day windows (partitioned
    by the day column) — the corpus never crosses a single global-sort
    window."""
    plan = physical_plan(qs["sprt_sequential_test"](spark, sf_dir))
    assert "windowspecdefinition(d" in plan
    # first crossing is a limit-style selection, not a full global sort
    assert "TakeOrderedAndProject" in plan


def test_random_projection_broadcasts_sign_matrix(spark, sf_dir, qs):
    """The JL sign matrix (256 x 16 rows) must broadcast; the vector
    relation never shuffles before its partial aggregation."""
    plan = physical_plan(qs["embedding_random_projection"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_kfold_window_partitions_by_stratum(spark, sf_dir, qs):
    plan = physical_plan(qs["stratified_kfold_assign"](spark, sf_dir))
    assert "windowspecdefinition(lang" in plan


def test_wer_hashes_only_pair_members(spark, sf_dir, qs):
    """WER must compute hashed-token arrays ONLY for pair members: the
    plan carries the member semi-structure (a join on the member ids),
    and the DP runs in an Arrow python node, not per-row UDFs."""
    plan = physical_plan(qs["wer_pairs_report"](spark, sf_dir))
    assert "MapInArrow" in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python


def test_day_hour_partitioned_events_prune_files(spark, sf_dir, tmp_path):
    """The 100 TB layout contract: events hive-partitioned by
    (day, hour) must answer a time-ranged query by LISTING only the
    matching directories — PartitionFilters in the plan carry the
    day/hour bounds, the ts range still pushes into the scan, and the
    files actually read are the pruned subset, not the full layout.
    This is the file-count lever that keeps filter_time_range /
    records_pipeline / agg_by_day flat as the table grows 100x."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from kinesis_stream_reader_spark.sources.tables import load_events

    out = str(tmp_path / "events_dayhour")
    ev = load_events(spark, sf_dir)
    (
        ev.withColumn("day", F.to_date("ts"))
        .withColumn("hour", F.hour("ts"))
        .write.partitionBy("day", "hour")
        .parquet(out)
    )
    pe = spark.read.parquet(out)
    n_parts = pe.select("day", "hour").distinct().count()
    assert n_parts > 100  # a real multi-directory layout

    lo, hi = "2024-01-05 06:00:00", "2024-01-05 10:00:00"
    pruned = pe.filter(
        (F.col("day") == "2024-01-05")
        & F.col("hour").between(6, 9)
        & (F.col("ts") >= lo)
        & (F.col("ts") < hi)
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.groupBy("event_type").count().explain("formatted")
    plan = buf.getvalue()
    pf_line = plan.split("PartitionFilters", 1)[1].splitlines()[0]
    assert "day" in pf_line and "hour" in pf_line and "2024-01-05" in pf_line
    assert "PushedFilters" in plan and "GreaterThanOrEqual(ts" in plan

    # files actually read = only the 4 matching hour directories
    files_read = pruned.select(F.input_file_name().alias("f")).distinct().count()
    files_total = pe.select(F.input_file_name().alias("f")).distinct().count()
    assert files_read <= 4 * (files_total // n_parts + 1)
    assert files_read < files_total / 50

    # and the pruned read answers exactly what the monolith answers
    want = ev.filter((F.col("ts") >= lo) & (F.col("ts") < hi)).count()
    assert pruned.count() == want
