"""Streaming pipeline tests: AvailableNow drain semantics, watermarked
windowed counts matching the batch twin, streaming dedup, stateful
sessionization."""

from __future__ import annotations

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from kinesis_stream_reader_spark.operators.relational import window_tumbling_counts
from kinesis_stream_reader_spark.sources.tables import load_events
from kinesis_stream_reader_spark.streaming import jobs
from kinesis_stream_reader_spark.streaming.stateful import sessionize


def test_windowed_counts_stream_matches_batch(spark, sf_dir):
    """Trigger.AvailableNow over the file stream must equal the batch
    tumbling-window aggregation — one plan, two execution modes."""
    stream = jobs.stream_events(spark, sf_dir)
    result = jobs.run_available_now(
        jobs.windowed_counts(stream), "windowed_counts_test"
    ).collect()
    batch = window_tumbling_counts(load_events(spark, sf_dir)).collect()
    assert sorted(map(tuple, result)) == sorted(map(tuple, batch))
    assert len(result) > 0


def test_records_stream_matches_batch(spark, sf_dir):
    """The reference pipeline under readStream equals the batch filters."""
    from kinesis_stream_reader_spark.operators.events import flatten_ids, to_nested
    from kinesis_stream_reader_spark.operators.filters import filter_records

    query = {"serverName": "SERVER-click", "tenantId": "10"}
    stream = jobs.records_stream(jobs.stream_events(spark, sf_dir), query)
    got = jobs.run_available_now(flatten_ids(stream), "records_stream_test").collect()
    want = flatten_ids(
        filter_records(to_nested(load_events(spark, sf_dir)), query)
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(got) > 0


def test_dedup_stream_drops_duplicates(spark, sf_dir):
    stream = jobs.stream_events(spark, sf_dir)
    # duplicate the stream by unioning it with itself: at-least-once sim
    doubled = stream.union(stream)
    out = jobs.run_available_now(
        jobs.dedup_stream(doubled).select("event_id"), "dedup_stream_test"
    ).collect()
    n_events = load_events(spark, sf_dir).count()
    assert len(out) == n_events  # every duplicate dropped
    assert len({r.event_id for r in out}) == n_events


def test_sessionize_closes_on_gap(spark, sf_dir):
    stream = jobs.stream_events(spark, sf_dir)
    sessions = jobs.run_available_now(sessionize(stream), "sessionize_test").collect()
    # sessions are per-user, non-overlapping, event counts conserved for
    # CLOSED sessions (open tails are retained in state, not emitted)
    assert len(sessions) > 0
    by_user: dict[int, list] = {}
    for s in sessions:
        assert s.session_start <= s.session_end
        assert s.n_events >= 1
        by_user.setdefault(s.user_id, []).append(s)
    for user_sessions in by_user.values():
        spans = sorted((s.session_start, s.session_end) for s in user_sessions)
        for (s1, e1), (s2, _) in zip(spans, spans[1:]):
            assert e1 < s2  # non-overlapping, gap-separated


def test_sessionize_native_matches_closed_batch_sessions(spark, sf_dir):
    """The DEFAULT sessionization path (JVM session_window, append
    mode): emitted sessions must be exactly the batch gap-sessions
    whose end (last event + gap) precedes the terminal watermark."""
    from kinesis_stream_reader_spark.operators.relational import window_session_builtin

    stream = jobs.stream_events(spark, sf_dir)
    got = jobs.run_available_now(
        jobs.sessionize_native(stream), "sessionize_native_test", mode="append"
    ).collect()
    events = load_events(spark, sf_dir)
    # session_start/end are 'yyyy-MM-dd HH:mm:ss' strings on both sides;
    # that format compares correctly as text
    wm = events.agg(
        F.date_format(
            F.max("ts") - F.expr("INTERVAL 2 HOURS"), "yyyy-MM-dd HH:mm:ss"
        ).alias("w")
    ).first().w
    want = [
        r for r in window_session_builtin(events).collect() if r.session_end < wm
    ]
    assert len(got) > 0
    got_set = sorted((r.user_id, r.session_start, r.session_end, r.n_events) for r in got)
    want_set = sorted(
        (r.user_id, r.session_start, r.session_end, r.n_events) for r in want
    )
    assert got_set == want_set


def test_running_profiles_matches_batch_aggregate(spark, sf_dir):
    """transformWithStateInPandas running profile: the final emission
    per user must equal the plain batch aggregate. Skipped where the
    TWS protobuf state protocol's Python dependency is unavailable
    (session.py's gated shim normally supplies it in this sandbox).
    TWS state uses multiple column families, so the query runs on the
    RocksDB provider (restored afterwards)."""
    import pytest

    pytest.importorskip("google.protobuf.descriptor")
    from pyspark.sql import functions as F

    from kinesis_stream_reader_spark.session import ROCKSDB_PROVIDER
    from kinesis_stream_reader_spark.sources.tables import load_events
    from kinesis_stream_reader_spark.streaming import jobs
    from kinesis_stream_reader_spark.streaming.stateful import running_profiles

    provider_conf = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(provider_conf, None)
    spark.conf.set(provider_conf, ROCKSDB_PROVIDER)
    try:
        stream = jobs.stream_events(spark, sf_dir)
        out = jobs.run_available_now(running_profiles(stream), "tws_profile")
    finally:
        if prev is None:
            spark.conf.unset(provider_conf)
        else:
            spark.conf.set(provider_conf, prev)
    final = {
        r.user_id: (r.n_events, r.first_seen, r.last_seen)
        for r in out.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.min("first_seen").alias("first_seen"),
            F.max("last_seen").alias("last_seen"),
        )
        .collect()
    }
    expect = {
        r.user_id: (r.n, r.f, r.l)
        for r in load_events(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.min("ts").alias("f"),
            F.max("ts").alias("l"),
        )
        .collect()
    }
    assert final == expect


def test_upsert_compact_equals_batch_compaction(spark, sf_dir):
    """The foreachBatch-maintained snapshot must equal the batch
    change-log compaction regardless of how the stream was sliced
    into micro-batches."""
    from kinesis_stream_reader_spark.operators.relational import (
        compact_latest_state,
    )
    from kinesis_stream_reader_spark.sources.tables import load_events
    from kinesis_stream_reader_spark.streaming import jobs

    snap = {
        (r.user_id, r.event_type): (r.latest_event_id, r.latest_value)
        for r in jobs.upsert_compact_available_now(
            jobs.stream_events(spark, sf_dir)
        ).collect()
    }
    batch = {
        (r.user_id, r.event_type): (r.latest_event_id, r.latest_value)
        for r in compact_latest_state(load_events(spark, sf_dir)).collect()
    }
    assert snap == batch


def test_checkpoint_restart_is_exactly_once(spark, sf_dir, tmp_path):
    """Structured Streaming recovery contract: rerunning an
    AvailableNow drain against the SAME checkpoint must not duplicate
    output (already-committed source files are skipped), and new input
    appended between runs is picked up exactly once."""
    import os

    from pyspark.sql import functions as F

    from kinesis_stream_reader_spark.sources.tables import load_events

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    events = load_events(spark, sf_dir).limit(1000)
    events.write.mode("overwrite").parquet(src + "/batch1")
    schema = events.schema

    def drain():
        stream = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(src)
            .filter(F.col("event_type") == "click")
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out).count()

    first = drain()
    expect1 = events.filter(F.col("event_type") == "click").count()
    assert first == expect1
    # restart with no new data: nothing may be re-emitted
    assert drain() == expect1
    # append new input, restart: exactly the new clicks are added
    more = load_events(spark, sf_dir).limit(2000)
    more.write.mode("overwrite").parquet(src + "/batch2")
    expect2 = expect1 + more.filter(F.col("event_type") == "click").count()
    assert drain() == expect2


def test_dedup_state_works_across_micro_batches(spark, sf_dir, tmp_path):
    """Duplicates arriving in DIFFERENT micro-batches must still be
    dropped: file1 and file2 share 500 event_ids; with
    maxFilesPerTrigger=1 the second batch's duplicates hit the state
    store, not the batch-local set. The checkpoint offsets prove at
    least two batches actually ran."""
    import os

    from pyspark.sql import functions as F

    from kinesis_stream_reader_spark.sources.tables import load_events

    events = load_events(spark, sf_dir)
    src = str(tmp_path / "src")
    os.makedirs(src)
    first = events.limit(800).coalesce(1)
    first.write.parquet(str(tmp_path / "f1"))
    # second file: 500 overlapping + the rest of the table
    second = events.limit(500).unionByName(
        events.join(first.select("event_id"), "event_id", "left_anti")
    ).coalesce(1)
    second.write.parquet(str(tmp_path / "f2"))
    for i, d in enumerate(("f1", "f2")):
        part = [
            f for f in os.listdir(tmp_path / d) if f.endswith(".parquet")
        ][0]
        os.symlink(str(tmp_path / d / part), f"{src}/part-{i:05d}.parquet")

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .dropDuplicates(["event_id"])
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out)
    assert got.count() == events.count(), "cross-batch duplicates must drop"
    assert got.select("event_id").distinct().count() == events.count()
    n_batches = len(
        [f for f in os.listdir(f"{ckpt}/offsets") if not f.startswith(".")]
    )
    assert n_batches >= 2, "expected at least two micro-batches"


def test_kinesis_builder_gates_cleanly(spark):
    """Without the connector jar, kinesis_stream must raise the typed
    RuntimeError pointing at the file-stream seam — not an opaque
    ClassNotFoundException."""
    from datetime import datetime

    import pytest

    from kinesis_stream_reader_spark.sources.kinesis import kinesis_stream

    with pytest.raises(RuntimeError, match="stream_events"):
        kinesis_stream(spark, "events", "us-west-2", datetime(2024, 1, 1))


@pytest.fixture(scope="module")
def inner_attribution(spark, sf_dir):
    """(click_id, purchase_id, user_id) rows of one inner drain."""
    return {
        tuple(r)
        for r in jobs.run_available_now(
            jobs.attribution_join(jobs.stream_events(spark, sf_dir)), "t_attr_inner"
        ).collect()
    }


@pytest.mark.parametrize("how", ["left_outer", "right_outer", "full_outer", "left_semi"])
def test_attribution_join_types_against_inner(spark, sf_dir, inner_attribution, how):
    """Every join type emits the inner join's matches plus only its own
    null-padded side: unmatched clicks (NULL purchase) for left/full,
    organic purchases (NULL click, user taken from the purchase) for
    right/full, and for semi exactly the inner join's click set."""
    out = jobs.run_available_now(
        jobs.attribution_join(jobs.stream_events(spark, sf_dir), how), f"t_attr_{how}"
    ).collect()
    assert inner_attribution
    if how == "left_semi":
        assert len(out) == len({r.click_id for r in out})
        assert {(r.click_id, r.user_id) for r in out} == {
            (c, u) for c, _, u in inner_attribution
        }
        return
    matched = {
        tuple(r) for r in out if r.click_id is not None and r.purchase_id is not None
    }
    assert matched == inner_attribution
    null_purchase = [r for r in out if r.purchase_id is None]
    null_click = [r for r in out if r.click_id is None]
    assert bool(null_purchase) == (how in ("left_outer", "full_outer"))
    assert bool(null_click) == (how in ("right_outer", "full_outer"))
    assert all(r.user_id is not None for r in out)
    assert all(r.purchase_id is not None for r in null_click)


def test_drain_propagates_batch_failure(spark, sf_dir, tmp_path, monkeypatch):
    """A failing foreachBatch surfaces as StreamingQueryException, and
    the drain still stops its query, removes its temp checkpoint and
    restores the no-data-batch conf it turned off."""
    import tempfile

    from pyspark.errors import StreamingQueryException

    stream = jobs.stream_events(spark, sf_dir)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))

    def fail(batch_df, batch_id):
        seen.append(batch_df.sparkSession.conf.get(jobs._NO_DATA_BATCHES))
        raise RuntimeError("planted batch failure")

    seen = []
    before = spark.conf.get(jobs._NO_DATA_BATCHES, None)
    with pytest.raises(StreamingQueryException, match="planted batch failure"):
        jobs.drain(stream.writeStream.foreachBatch(fail))
    assert spark.streams.active == []
    assert list(tmp_path.iterdir()) == []
    # the query ran without the tail batch, and the session's conf is back
    assert seen == ["false"]
    assert spark.conf.get(jobs._NO_DATA_BATCHES, None) == before


@pytest.mark.parametrize(
    "name", ["streaming_obs_metrics", "streaming_resume_exactly_once"]
)
def test_streaming_queries_leave_no_temp_dirs(spark, sf_dir, tmp_path, monkeypatch, name):
    """Checkpoints and staged sources are removed after the query; only
    a sink the returned DataFrame reads may survive."""
    import tempfile

    from kinesis_stream_reader_spark.registry import QUERIES

    jobs.stream_events(spark, sf_dir)  # the shared symlink dir predates the call
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    out = QUERIES[name](spark, sf_dir)
    left = sorted(p.name for p in tmp_path.iterdir())
    if name == "streaming_resume_exactly_once":
        assert len(left) == 1 and left[0].startswith("ksr_resume_out_"), left
        assert out.count() > 0
    else:
        assert left == []


def test_streaming_resume_exactly_once_no_dupes(spark, sf_dir):
    """Across the simulated restart with injected replays, the sink
    holds every event exactly once."""
    from kinesis_stream_reader_spark.registry import QUERIES

    out = QUERIES["streaming_resume_exactly_once"](spark, sf_dir)
    n = out.count()
    assert n == out.select("event_id").distinct().count()
    assert n == spark.read.parquet(f"{sf_dir}/events.parquet").count()


def test_streaming_kmin_sketch_equals_batch(spark, sf_dir):
    """The incrementally-built k-minima sketch after an AvailableNow
    drain must equal the batch build over the same events, and the
    per-bucket minima must yield a sane distinct estimate."""
    from kinesis_stream_reader_spark.registry import QUERIES
    from kinesis_stream_reader_spark.sources.tables import load_events

    drained = {
        (r.event_type, r.bucket): (r.n_keys, r.min_h)
        for r in QUERIES["streaming_kmin_sketch"](spark, sf_dir).collect()
    }
    events = load_events(spark, sf_dir)
    batch = (
        events.select("event_type", "user_id")
        .distinct()
        .select(
            "event_type",
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("skmv:"), F.col("user_id").cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            )
            .cast("long")
            .alias("h"),
        )
        .groupBy("event_type", F.pmod(F.col("h"), F.lit(64)).alias("bucket"))
        .agg(F.count("*").alias("n_keys"), F.min("h").alias("min_h"))
        .collect()
    )
    expect = {(r.event_type, r.bucket): (r.n_keys, r.min_h) for r in batch}
    assert drained == expect
    # estimator sanity on the biggest set: sum over buckets of
    # (2^60 / min_h - 1) should land within 4x of the true count
    exact = {
        r.event_type: r.n
        for r in events.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    from collections import defaultdict

    est = defaultdict(float)
    nk = defaultdict(int)
    for (et, _), (n_keys, mh) in drained.items():
        est[et] += (1 << 60) / mh - 1
        nk[et] += n_keys
    for et, ex in exact.items():
        # the tracked per-bucket counts sum to the exact cardinality
        assert nk[et] == ex
        # the minima estimator is a dense-regime tool (n >> buckets)
        if ex >= 3 * 64:
            assert ex / 4 <= est[et] <= ex * 4, (et, est[et], ex)


def test_streaming_obs_metrics_slicing_invariant(spark, sf_dir):
    """Observed run metrics accumulated across micro-batches must equal
    the batch aggregates regardless of slicing."""
    from kinesis_stream_reader_spark.registry import QUERIES
    from kinesis_stream_reader_spark.sources.tables import load_events

    row = QUERIES["streaming_obs_metrics"](spark, sf_dir).collect()[0]
    events = load_events(spark, sf_dir)
    exp = events.agg(
        F.count("*").alias("n"),
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias("vc"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("np"),
        F.max("event_id").alias("mx"),
    ).collect()[0]
    assert (row.n_events, row.value_cents, row.n_purchases, row.max_event_id) == (
        exp.n,
        exp.vc,
        exp.np,
        exp.mx,
    )


def test_streaming_ab_counts_equals_batch(spark, sf_dir):
    """Per-variant distinct-user and converter counts maintained on the
    stream must equal the batch computation."""
    from kinesis_stream_reader_spark.registry import QUERIES
    from kinesis_stream_reader_spark.sources.tables import load_events

    got = {
        (r.variant, r.tag): r.n
        for r in QUERIES["streaming_ab_counts"](spark, sf_dir).collect()
    }
    events = load_events(spark, sf_dir)
    users = events.select(
        "user_id", (F.col("user_id") % 2).alias("v")
    ).distinct()
    conv = (
        events.filter((F.col("event_type") == "purchase") & (F.col("value") > 150))
        .select("user_id", (F.col("user_id") % 2).alias("v"))
        .distinct()
    )
    expect = {}
    for r in users.groupBy("v").count().collect():
        expect[(r.v, "all")] = r["count"]
    for r in conv.groupBy("v").count().collect():
        expect[(r.v, "conv")] = r["count"]
    assert got == expect


def test_streaming_quarantine_equals_batch(spark, sf_dir):
    from kinesis_stream_reader_spark.registry import QUERIES

    streamed = {
        r.reasons: r.n
        for r in QUERIES["streaming_quarantine_counts"](spark, sf_dir).collect()
    }
    batch = {
        r.reasons: r.n for r in QUERIES["quarantine_split"](spark, sf_dir).collect()
    }
    assert streamed == batch


@pytest.fixture(scope="module")
def two_part_dir(sf_dir, tmp_path_factory):
    """The events table as 2 time-ordered part files: a drain reads it
    as 2 triggers, and no row of the second is behind the watermark the
    first sets."""
    import os
    import time

    import pyarrow.parquet as pq

    table = pq.read_table(f"{sf_dir}/events.parquet").sort_by("ts")
    parts = tmp_path_factory.mktemp("ksr_two_part") / "events.parquet"
    parts.mkdir()
    half = table.num_rows // 2
    now = time.time()
    for i, part in enumerate((table.slice(0, half), table.slice(half))):
        path = parts / f"part-{i:05d}.parquet"
        pq.write_table(part, path)
        os.utime(path, (now - 60 + i, now - 60 + i))  # the file source's order
    return str(parts.parent)


def _capture_drains(monkeypatch) -> list:
    """Every query `jobs.drain` returns from now on, in order."""
    drained = []
    real = jobs.drain

    def drain(*args, **kwargs):
        drained.append(real(*args, **kwargs))
        return drained[-1]

    monkeypatch.setattr(jobs, "drain", drain)
    return drained


def _rows(columns, rows) -> Counter:
    """Rows as a multiset of {column: value} items, column order free."""
    return Counter(tuple(sorted(zip(columns, r))) for r in rows)


def _oracle_rows(sf_dir: str, name: str) -> Counter:
    import __spark_entry__ as entrymod

    duckdb = pytest.importorskip("duckdb")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'")
    rel = con.sql(entrymod.oracle_sql()[name])
    return _rows(rel.columns, rel.fetchall())


def test_dedup_drain_on_temp_checkpoint_runs_no_tail_batch(spark, two_part_dir, monkeypatch):
    """Dedup emits nothing when only the watermark moves, so on its own
    temp checkpoint the drain runs exactly one trigger per part file, both
    with input rows, and no trailing no-data batch; the rows still equal
    the batch dedup."""
    from kinesis_stream_reader_spark.registry import QUERIES

    drained = _capture_drains(monkeypatch)
    got = QUERIES["streaming_dedup"](spark, two_part_dir)
    (q,) = drained
    inputs = [p.numInputRows for p in q.recentProgress]
    assert len(inputs) == 2 and all(inputs), inputs
    want = load_events(spark, two_part_dir).dropDuplicates(["event_id"])
    want = want.select(*got.columns)
    assert _rows(got.columns, got.collect()) == _rows(want.columns, want.collect())


def test_dedup_drain_on_given_checkpoint_keeps_tail_batch(spark, two_part_dir, tmp_path):
    """A checkpoint the caller keeps may be resumed, so the drain leaves
    the no-data batch on: it runs last, with 0 input rows."""
    stream = jobs.stream_events(spark, two_part_dir)
    writer = jobs.dedup_stream(stream.union(stream)).writeStream.format("memory")
    q = jobs.drain(writer.queryName("t_dedup_given_ck"), str(tmp_path / "ck"))
    inputs = [p.numInputRows for p in q.recentProgress]
    assert len(inputs) == 3 and all(inputs[:2]) and inputs[-1] == 0, inputs


@pytest.mark.parametrize(
    "name", ["streaming_sessionize_native", "streaming_attribution_outer"]
)
def test_watermark_emitting_drains_keep_tail_batch(spark, sf_dir, monkeypatch, name):
    """Append-mode session windows and a left-outer stream-stream join
    emit rows when only the watermark moves (closed sessions, unmatched
    clicks), so their drains keep the trailing no-data batch and still
    match their batch twins."""
    from kinesis_stream_reader_spark.registry import QUERIES

    drained = _capture_drains(monkeypatch)
    got = QUERIES[name](spark, sf_dir)
    (q,) = drained
    assert q.lastProgress.numInputRows == 0
    assert len(q.recentProgress) >= 2
    assert _rows(got.columns, got.collect()) == _oracle_rows(sf_dir, name)


def test_state_stores_capped_at_task_slots(spark, sf_dir, monkeypatch):
    """By default a stateful drain runs no more state stores than the
    session has task slots; SPARK_GRAFT_STREAM_PARTITIONS overrides it."""
    from kinesis_stream_reader_spark.registry import QUERIES

    drained = _capture_drains(monkeypatch)
    monkeypatch.delenv("SPARK_GRAFT_STREAM_PARTITIONS", raising=False)
    QUERIES["streaming_dedup"](spark, sf_dir)
    monkeypatch.setenv("SPARK_GRAFT_STREAM_PARTITIONS", "3")
    QUERIES["streaming_dedup"](spark, sf_dir)
    default, override = (
        [op.numStateStoreInstances for op in q.lastProgress.stateOperators]
        for q in drained
    )
    assert default == [min(8, spark.sparkContext.defaultParallelism)]
    assert override == [3]


def test_complete_mode_aggregate_does_not_emit_on_watermark():
    """In complete mode an Aggregate evicts nothing and re-emits its whole
    table every trigger, so it alone keeps no tail batch; a watermark
    join or a stateful operator below it still does."""
    ops = jobs._StreamOps(frozenset({"Aggregate", "Deduplicate"}), frozenset())
    assert not jobs._emits_on_watermark(ops, "complete")
    assert jobs._emits_on_watermark(ops, "append")
    assert jobs._emits_on_watermark(ops, None)
    outer = jobs._StreamOps(frozenset({"Aggregate", "Join"}), frozenset({"LeftOuter"}))
    assert jobs._emits_on_watermark(outer, "complete")
    inner = jobs._StreamOps(frozenset({"Aggregate", "Join"}), frozenset({"Inner"}))
    assert not jobs._emits_on_watermark(inner, "complete")
    stateful = jobs._StreamOps(
        frozenset({"Aggregate", "FlatMapGroupsInPandasWithState"}), frozenset()
    )
    assert jobs._emits_on_watermark(stateful, "complete")


def test_windowed_distinct_drains_in_one_trigger(spark, sf_dir, monkeypatch):
    """streaming_windowed_distinct (a complete-mode Aggregate above a
    watermarked dedup) drains its one part file in one trigger on its temp
    checkpoint, with no trailing no-data batch, and its rows still equal
    its oracle twin."""
    from kinesis_stream_reader_spark.registry import QUERIES

    name = "streaming_windowed_distinct"
    drained = _capture_drains(monkeypatch)
    got = QUERIES[name](spark, sf_dir)
    (q,) = drained
    inputs = [p.numInputRows for p in q.recentProgress]
    assert len(inputs) == 1 and inputs[0] > 0, inputs
    assert _rows(got.columns, got.collect()) == _oracle_rows(sf_dir, name)


def test_state_inspect_stores_capped_at_task_slots(spark, sf_dir, monkeypatch):
    """state_store_snapshot sizes its state stores like run_available_now:
    no more stores than the session has task slots."""
    from kinesis_stream_reader_spark.registry import QUERIES

    drained = _capture_drains(monkeypatch)
    monkeypatch.delenv("SPARK_GRAFT_STREAM_PARTITIONS", raising=False)
    QUERIES["streaming_state_inspect"](spark, sf_dir)
    (q,) = drained
    stores = [op.numStateStoreInstances for op in q.lastProgress.stateOperators]
    assert stores and all(
        n <= spark.sparkContext.defaultParallelism for n in stores
    ), stores


def test_local_session_writes_checkpoints_through_filesystem_manager(spark, tmp_path):
    """The engine's local session resolves every checkpoint path to
    Spark's FileSystem-based manager, and ensure_confs restores it on a
    session that lost it, but keeps a manager the session names itself."""
    from kinesis_stream_reader_spark import session

    def manager() -> str:
        path = spark._jvm.org.apache.hadoop.fs.Path(tmp_path.as_uri())
        conf = spark._jsparkSession.sessionState().newHadoopConf()
        pkg = spark._jvm.org.apache.spark.sql.execution.streaming.checkpointing
        return pkg.CheckpointFileManager.create(path, conf).getClass().getName()

    key = session.CHECKPOINT_MANAGER_CONF
    pkg_name = session.FS_CHECKPOINT_MANAGER.rsplit(".", 1)[0]
    assert manager() == session.FS_CHECKPOINT_MANAGER
    try:
        spark.conf.unset(key)
        assert manager() != session.FS_CHECKPOINT_MANAGER
        session.ensure_confs(spark)
        assert manager() == session.FS_CHECKPOINT_MANAGER
        custom = f"{pkg_name}.FileContextBasedCheckpointFileManager"
        spark.conf.set(key, custom)
        session.ensure_confs(spark)
        assert manager() == custom
    finally:
        spark.conf.set(key, session.FS_CHECKPOINT_MANAGER)


def test_cluster_masters_keep_spark_checkpoint_manager():
    """Only a local master swaps the checkpoint manager: on a cluster the
    FileContext manager's rename-with-overwrite is the atomic commit."""
    from kinesis_stream_reader_spark import session

    for master in ("spark://host:7077", "yarn", "k8s://https://host:6443"):
        assert session.checkpoint_confs_for(master) == {}
    for master in ("local", "local[4]", "local[*]"):
        assert session.checkpoint_confs_for(master) == {
            session.CHECKPOINT_MANAGER_CONF: session.FS_CHECKPOINT_MANAGER
        }


def test_dedup_restart_reloads_state_store(spark, sf_dir, tmp_path):
    """A dedup drain on a caller's checkpoint, restarted after a second
    file arrives whose repeated ids are all inside the watermark: only
    the state store reloaded from the checkpoint can drop them, and the
    sink holds every event exactly once."""
    events = load_events(spark, sf_dir).select("event_id", "ts", "event_type")
    stamps = sorted(r.ts for r in events.select("ts").collect())
    cut = stamps[len(stamps) // 2]
    first = events.filter(F.col("ts") <= F.lit(cut))
    repeats = first.filter(F.col("ts") > F.lit(cut) - F.expr("INTERVAL 5 DAYS"))
    second = events.filter(F.col("ts") > F.lit(cut)).unionByName(repeats)
    n_repeats = repeats.count()
    assert n_repeats > 0
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    first.coalesce(1).write.parquet(f"{src}/f1")

    def drain():
        stream = (
            spark.readStream.schema(events.schema)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        writer = jobs.dedup_stream(stream, watermark="10 days").writeStream
        return jobs.drain(writer.format("parquet").option("path", out), ckpt)

    drain()
    assert spark.read.parquet(out).count() == first.count()
    second.coalesce(1).write.parquet(f"{src}/f2")
    q = drain()
    assert sum(p.numInputRows for p in q.recentProgress) == second.count()
    got = Counter(r.event_id for r in spark.read.parquet(out).collect())
    assert got == Counter(r.event_id for r in events.collect())


def test_lazily_read_temp_outputs_are_removed_at_exit(spark, sf_dir, tmp_path, monkeypatch):
    """Sinks and stream link dirs a returned DataFrame reads stay until
    the interpreter exits, and are removed then: every temp dir the
    streaming queries leave is registered for exit removal."""
    import subprocess
    import sys
    import tempfile

    from kinesis_stream_reader_spark import scratch
    from kinesis_stream_reader_spark.registry import QUERIES

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(jobs, "_STREAM_DIRS", {})
    for name in ("streaming_dedup", "streaming_asof_enrich"):
        assert QUERIES[name](spark, sf_dir).count() > 0
    left = sorted(tmp_path.iterdir())
    prefixes = ("ksr_out_streaming_asof_enrich_", "ksr_out_streaming_dedup_", "ksr_stream_")
    assert len(left) == 3, left
    assert all(p.name.startswith(want) for p, want in zip(left, prefixes)), left
    assert {str(p) for p in left} <= {path for _, path in scratch._EXIT_DIRS}

    # removal happens at exit, in the creating process only
    probe = (
        "import os, sys\n"
        "from kinesis_stream_reader_spark.scratch import exit_tempdir\n"
        "d = exit_tempdir('ksr_out_probe_')\n"
        "open(os.path.join(d, 'part-0'), 'w').close()\n"
        "pid = os.fork()\n"
        "if pid == 0:\n"
        "    sys.exit(0)\n"
        "os.waitpid(pid, 0)\n"
        "assert os.path.isfile(os.path.join(d, 'part-0'))\n"
        "print(d)\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    (tmp_path / "probe").mkdir()
    made = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=root,
        env={**os.environ, "TMPDIR": str(tmp_path / "probe")},
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()[-1]
    assert made.startswith(str(tmp_path / "probe"))
    assert not os.path.exists(made)
