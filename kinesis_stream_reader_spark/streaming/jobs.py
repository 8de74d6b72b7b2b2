"""Structured Streaming variants of the engine's pipeline.

The reference's ingestion mode is pull-to-batch: every request re-reads
the stream from AT_TIMESTAMP and drains until caught up
(kinesisReader/index.js:24-45). In Structured Streaming that is exactly
``Trigger.AvailableNow`` — process everything available, then stop — so
batch and streaming share the same transform functions and differ only
in the trigger.

For tests/fixtures the source is a file stream over the driver's
parquet (``stream_table``); the production source is the Kinesis
connector (sources/kinesis.py). Transforms reused verbatim from
operators/ — Structured Streaming's unified API means to_nested /
filter_records / deagg_explode apply unchanged to a streaming
DataFrame.

This module is the only one that knows how a table is opened as a file
stream (``stream_table``), how the click -> purchase attribution join
is built (``attribution_join(events, how)``) and how a stream is
drained (``drain``).

Drain contract (``drain``):

- one drain starts exactly ONE StreamingQuery, with
  ``Trigger.AvailableNow``, waits for it to terminate and returns the
  terminated query, so callers can still read ``recentProgress``;
- without a ``checkpoint`` the query runs on a temp checkpoint that is
  removed once it terminates, whether it succeeded or failed; a given
  checkpoint belongs to the caller (restarts and state-store reads need
  it afterwards);
- ``mode`` is the query's output mode (the writer's default, append,
  when not given);
- with ``partitions``, ``spark.sql.shuffle.partitions`` — the state-store
  count of every stateful operator — is set for the query;
  ``run_available_now`` and ``state_store_snapshot`` pass at most one
  store per task slot (``default_state_partitions``), so every store
  commits in one wave;
- on its own temp checkpoint, and when no operator of the plan can emit
  rows once only the watermark moves, the query runs with
  ``spark.sql.streaming.noDataMicroBatches.enabled`` off: the trailing
  no-data batch would only evict state from a checkpoint that is deleted
  next. Operators that can emit on the watermark alone keep it: a
  streaming ``Aggregate`` outside complete mode (append-mode and session
  windows), a stream-stream outer or anti join, and every
  ``*WithState`` / ``TransformWithState*`` operator (their event-time
  timers fire on it); so does any drain on a caller's checkpoint. In
  complete mode an ``Aggregate`` evicts nothing and re-emits its whole
  table every trigger, so only what runs below it counts;
- both confs are set before the query starts and their previous values
  restored once it terminates;
- a failing micro-batch surfaces as ``StreamingQueryException`` after
  the same cleanup.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Mapping
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import StructType

from ..operators.events import to_nested
from ..operators.filters import filter_records
from ..session import ensure_confs, env_int
from ..sources.tables import normalize_timestamps


_STREAM_DIRS: dict[tuple[str, str], tuple[str, StructType]] = {}
_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
_NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"
# stream-stream join types that emit null-padded (or anti) rows once the
# watermark proves no match can still arrive
_WATERMARK_JOINS = frozenset({"LeftOuter", "RightOuter", "FullOuter", "LeftAnti"})


def _table_stream(spark: SparkSession, sf_dir: str, table: str) -> tuple[str, StructType]:
    """The file source wants a directory of data files; expose a table's
    parquet through a symlinked temp dir (no copy), with the static
    table's schema. Handles both a single-file fixture and a
    Spark-written directory of part files — the source does NOT recurse
    into subdirectories, so leaf files are linked directly. Memoized per
    (sf_dir, table): a fixture is not rewritten under a live process, so
    the schema is inferred once, not by one Spark job per call."""
    key = (sf_dir, table)
    if key not in _STREAM_DIRS:
        src = f"{sf_dir}/{table}.parquet"
        schema = spark.read.parquet(src).schema
        d = tempfile.mkdtemp(prefix="ksr_stream_")
        if os.path.isdir(src):
            for i, name in enumerate(sorted(os.listdir(src))):
                if name.endswith(".parquet"):
                    os.symlink(f"{src}/{name}", f"{d}/part-{i:05d}.parquet")
        else:
            os.symlink(src, f"{d}/{table}.parquet")
        _STREAM_DIRS[key] = (d, schema)
    return _STREAM_DIRS[key]


def stream_table(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """File-stream source over a fixture table, one file per trigger,
    with the static table's schema — the swap-the-source seam: a
    production deployment replaces it with the Kinesis reader
    (sources/kinesis.py) under the same downstream plan."""
    ensure_confs(spark)
    d, schema = _table_stream(spark, sf_dir, table)
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events fixture as a stream, timestamps normalized."""
    return normalize_timestamps(stream_table(spark, sf_dir, "events"))


def default_state_partitions(spark: SparkSession) -> int:
    """Default state-store count of a drain: ``min(8, defaultParallelism)``
    unless SPARK_GRAFT_STREAM_PARTITIONS says otherwise."""
    return env_int(
        "SPARK_GRAFT_STREAM_PARTITIONS", min(8, spark.sparkContext.defaultParallelism)
    )


def drain(
    writer: DataStreamWriter,
    checkpoint: str | None = None,
    partitions: int | None = None,
    mode: str | None = None,
    ops: _StreamOps | None = None,
) -> StreamingQuery:
    """Run `writer` to caught-up under the module's drain contract. `ops`
    is the plan's ``_plan_operators`` walk when the caller already has it."""
    spark = writer._spark
    if mode is not None:
        writer = writer.outputMode(mode)
    confs = {}
    if partitions is not None:
        confs[_SHUFFLE_PARTITIONS] = str(partitions)
    if checkpoint is None and not _emits_on_watermark(
        ops or _plan_operators(writer._df), mode
    ):
        confs[_NO_DATA_BATCHES] = "false"
    prev = {key: spark.conf.get(key, None) for key in confs}
    for key, value in confs.items():
        spark.conf.set(key, value)
    temp = None if checkpoint else tempfile.TemporaryDirectory(prefix="ksr_drain_ck_")
    try:
        q = (
            writer.option("checkpointLocation", checkpoint or temp.name)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()
        return q
    finally:
        for key, value in prev.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)
        if temp is not None:
            temp.cleanup()


class _StreamOps(NamedTuple):
    """The streaming part of an analyzed plan: its node names, and the
    join type (e.g. ``LeftOuter``) of every stream-stream join."""

    nodes: frozenset[str]
    joins: frozenset[str]


def _plan_operators(df: DataFrame) -> _StreamOps:
    """One walk over the streaming part of `df`'s analyzed plan (batch
    subtrees, such as a static dimension, are not entered)."""
    nodes: set[str] = set()
    joins: set[str] = set()
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        if not node.isStreaming():
            continue
        name = node.nodeName()
        nodes.add(name)
        if name == "Join" and node.left().isStreaming() and node.right().isStreaming():
            joins.add(node.joinType().toString())
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return _StreamOps(frozenset(nodes), frozenset(joins))


def _emits_on_watermark(ops: _StreamOps, mode: str | None) -> bool:
    """Whether an operator in `ops` can emit rows in output mode `mode`
    when only the watermark moves (a closed window, a null-padded join
    row, a fired timer) — what a trailing no-data batch exists for."""
    return (
        bool(ops.joins & _WATERMARK_JOINS)
        or ("Aggregate" in ops.nodes and mode != "complete")
        or any(
            op.endswith("WithState") or op.startswith("TransformWithState")
            for op in ops.nodes
        )
    )


def records_stream(events: DataFrame, query: Mapping[str, object]) -> DataFrame:
    """The reference pipeline as a streaming plan: nested projection +
    conjunctive filters. (The AT_TIMESTAMP lower bound belongs to the
    source options in streaming mode — kinesisReader/index.js:77-81.)"""
    return filter_records(to_nested(events), query)


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    slide: str | None = None,
) -> DataFrame:
    """Watermarked windowed counts — tumbling by default, SLIDING when
    `slide` < `window` (each event then belongs to window/slide
    overlapping windows; state grows by the same factor, still
    watermark-bounded). The first event-time operator beyond the
    reference (which treats time as arrival-only, SURVEY.md §2.10):
    windows older than max(event_time) - watermark are finalized and
    evicted."""
    w = F.window(F.col("ts"), window, slide) if slide else F.window(F.col("ts"), window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(w.alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def windowed_distinct_users(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """EXACT distinct users per (day, event_type) on a stream: dedup
    first (dropDuplicates on the grain keys + the event-time column
    keeps state watermark-bounded), then an ordinary windowed count —
    the standard streaming-exact-distinct decomposition, since
    count_distinct isn't directly available in streaming aggregations.
    State is one row per (user, type, day), evicted by the watermark."""
    day = F.date_trunc("day", F.col("ts")).alias("day_ts")
    deduped = (
        events.withWatermark("ts", watermark)
        .select("user_id", "event_type", "ts", day)
        .dropDuplicates(["user_id", "event_type", "day_ts"])
    )
    return (
        deduped.groupBy(F.window("ts", "1 day").alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n_users"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
            "event_type",
            "n_users",
        )
    )


def asof_enrich_stream(events: DataFrame, orders, out_dir: str) -> None:
    """Streaming point-in-time enrichment via foreachBatch: each
    micro-batch runs the BATCH as-of join (join_asof_latest_order)
    against the static orders table and appends.

    Why this is correct under any batch slicing: the as-of match of an
    event depends only on that event's row and the STATIC dimension, so
    per-batch results equal the global batch join — the invariant that
    makes foreachBatch the standard escape hatch for join shapes
    Structured Streaming lacks natively (as-of/range against a
    snapshot). State cost: none — the static side is re-broadcast per
    batch, no streaming state store at all."""
    from ..operators.relational import join_asof_latest_order

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        join_asof_latest_order(batch_df, orders).write.mode("append").parquet(out_dir)

    drain(events.writeStream.foreachBatch(handle))


def sessionize_native(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """The DEFAULT streaming sessionization: JVM-native session_window
    aggregation — gap-based session windows per user, closed and
    emitted (append mode) once the watermark passes the session end.

    Versus the applyInPandasWithState shape (stateful.sessionize, kept
    as the arbitrary-state API demo): state merging happens in the
    JVM's session-window state store with partial aggregation and no
    Arrow round-trips, so per-batch cost scales with distinct active
    users, not with Python invocation overhead. session_window's `end`
    is last_event + gap, matching the batch twin
    (relational.window_session_builtin)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window(F.col("ts"), gap), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("session_window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format(F.col("session_window.end"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_end"
            ),
            "n_events",
        )
    )


def dedup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup on event_id with watermark-bounded state
    (dropDuplicatesWithinWatermark): the streaming twin of
    operators.dedup.dedup_exact for an at-least-once source."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def attribution_join(
    events: DataFrame,
    how: str = "inner",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream join attributing each purchase to every
    click by the same user in the preceding `window`; `how` picks the
    Spark join type, and batch semantics are identical (the oracle is a
    plain self-join).

    The time-range condition lets Spark bound BOTH state stores via the
    watermarks (clicks older than window + watermark are evicted). The
    join types add only emission rules on top of the same state:

    - ``inner``: matched (click, purchase) pairs as they arrive;
    - ``left_outer``: also every unmatched click, NULL purchase, once
      the watermark proves no qualifying purchase can still come
      (wm > click_ts + window) — unmatched clicks ARE the conversion
      signal;
    - ``right_outer``: also every organic purchase, NULL click, once the
      watermark passes the purchase time (the youngest click that could
      match is strictly older than the purchase);
    - ``full_outer``: both of the above;
    - ``left_semi``: each converting click AT MOST ONCE, without the
      purchase payload (a click matching 5 purchases emits one row).

    Output: click_id, purchase_id (not for ``left_semi``) and user_id,
    taken from the purchase when the click side is NULL."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    ids = ["click_id"] if how == "left_semi" else ["click_id", "purchase_id"]
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            *([] if how == "left_semi" else [F.col("event_id").alias("purchase_id")]),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    user = (
        F.coalesce("c_user", "p_user")
        if how in ("right_outer", "full_outer")
        else F.col("c_user")
    )
    return clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {window}")),
        how,
    ).select(*ids, user.alias("user_id"))


def run_available_now(
    stream_df: DataFrame,
    query_name: str,
    state_partitions: int | None = None,
    mode: str | None = None,
) -> DataFrame:
    """Drain a streaming plan (see the module's drain contract) and
    return the materialized result — the drain-until-caught-up semantics
    of the reference's fetch loop (kinesisReader/index.js:39-44) as a
    one-liner.

    Sink choice is a scale decision: append-mode streams (filters,
    dedup, joins, custom stateful) land in a distributed parquet sink
    and are read back, so results never funnel through the driver —
    measured 2-10x on multi-million-row streams vs the memory sink, and
    it is the shape a production job uses. Aggregations run in complete
    mode, which only the (driver-side, test-only) memory sink supports;
    their results are small by construction.

    Stateful operators (joins, dedup, windowed aggs) create one state
    store per shuffle partition per stateful operator, and every
    micro-batch pays a fixed checkpoint commit per store. The default is
    therefore ``min(8, defaultParallelism)`` stores: sized to stream
    volume rather than cluster width (the join and dedup compute at
    fixture volume is trivial; the commits are not), and never more
    stores than task slots, so the commits of one trigger run in a
    single wave. SPARK_GRAFT_STREAM_PARTITIONS overrides it, and an
    explicit `state_partitions` overrides both; a production deployment
    sizes it to per-trigger row volume / target state-store size, and it
    can exceed cluster width for big state."""
    spark = stream_df.sparkSession
    if state_partitions is None:
        state_partitions = default_state_partitions(spark)
    ops = _plan_operators(stream_df)
    # autodetect: aggregations run complete-mode on the memory sink.
    # `mode="append"` overrides for watermark-evicted aggregations
    # (session/tumbling windows) where append is the production shape
    # and only CLOSED windows should emit.
    if mode is None:
        mode = "complete" if "Aggregate" in ops.nodes else "append"
    if mode == "complete":
        writer = stream_df.writeStream.format("memory").queryName(query_name)
        drain(writer, partitions=state_partitions, mode=mode, ops=ops)
        return spark.table(query_name)
    out_dir = tempfile.mkdtemp(prefix=f"ksr_out_{query_name}_")
    writer = stream_df.writeStream.format("parquet").option("path", out_dir)
    drain(writer, partitions=state_partitions, mode="append", ops=ops)
    # explicit schema: an empty result writes no part files, and the
    # stream's schema is authoritative either way
    return spark.read.schema(stream_df.schema).parquet(out_dir)


def static_enrich(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static join: enrich each streamed event with the (static)
    customer dimension. The static side is broadcast per micro-batch —
    no state store, no watermark needed (unlike stream-stream joins),
    and the stream side never shuffles: the canonical pattern for
    dimension lookups in a 100 TB streaming pipeline."""
    dim = customer.select("c_custkey", "c_mktsegment")
    return events.join(
        F.broadcast(dim), events.user_id == dim.c_custkey
    ).select("event_id", "user_id", "c_mktsegment")


def ingest_pipeline(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Flagship streaming composition: at-least-once source ->
    watermark-bounded exact dedup -> stream-static dimension
    enrichment. This is the full shape of a production ingest job
    (the reference's scan->parse->filter pipeline upgraded with the
    delivery-dedup and enrichment it lacks); every stage is one of the
    already-tested operators, and the composition itself is
    oracle-checked against the batch semantics."""
    deduped = dedup_stream(events)
    return static_enrich(deduped, customer)


def upsert_compact_available_now(events_stream: DataFrame) -> DataFrame:
    """foreachBatch upsert sink: drain the stream with AvailableNow,
    maintaining a compacted latest-state-per-(user, type) snapshot that
    each micro-batch MERGEs into — the standard production pattern for
    serving CDC state from a stream when the sink has no native MERGE.

    Semantics: after the drain, the snapshot equals the batch
    compact_latest_state over all events (argmax by (ts, event_id) —
    exact, order-independent), which is what the oracle checks.

    Scale shape: each batch compacts ITSELF first (partial-agg shuffle
    on the key), then merges against the snapshot with the same argmax
    — so the per-batch cost is O(batch + |keys|), never O(history).
    The swap is atomic-by-rename per batch and keyed state never
    leaves the executors; on Delta/Iceberg the read-union-rewrite
    becomes a real MERGE INTO, same plan per batch. foreachBatch
    re-delivery (at-least-once) is idempotent here because the merge
    is an argmax, not an increment."""
    spark = events_stream.sparkSession
    snap_dir = tempfile.mkdtemp(prefix="ksr_upsert_snap_")
    live = os.path.join(snap_dir, "live")
    schema = (
        "user_id BIGINT, event_type STRING, latest_event_id BIGINT, "
        "latest_value DOUBLE, latest_ts TIMESTAMP"
    )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_compact = (
            batch_df.groupBy("user_id", "event_type")
            .agg(F.max(F.struct("ts", "event_id", "value")).alias("s"))
            .select(
                "user_id",
                "event_type",
                F.col("s.event_id").alias("latest_event_id"),
                F.col("s.value").alias("latest_value"),
                F.col("s.ts").alias("latest_ts"),
            )
        )
        if os.path.exists(live):
            prev = spark.read.schema(schema).parquet(live)
            merged = (
                prev.unionByName(batch_compact)
                .groupBy("user_id", "event_type")
                .agg(
                    F.max(
                        F.struct(
                            F.col("latest_ts"),
                            F.col("latest_event_id"),
                            F.col("latest_value"),
                        )
                    ).alias("s")
                )
                .select(
                    "user_id",
                    "event_type",
                    F.col("s.latest_event_id").alias("latest_event_id"),
                    F.col("s.latest_value").alias("latest_value"),
                    F.col("s.latest_ts").alias("latest_ts"),
                )
            )
        else:
            merged = batch_compact
        staged = os.path.join(snap_dir, f"stage_{batch_id}")
        merged.write.mode("overwrite").parquet(staged)
        old = os.path.join(snap_dir, f"old_{batch_id}")
        if os.path.exists(live):
            os.rename(live, old)
        os.rename(staged, live)

    drain(events_stream.writeStream.foreachBatch(merge_batch))
    return spark.read.schema(schema).parquet(live).drop("latest_ts")


def state_store_snapshot(events: DataFrame) -> DataFrame:
    """Run a per-type count+cents streaming aggregation to caught-up,
    then read the aggregation's OWN STATE STORE back as a DataFrame via
    Spark 4's `statestore` reader — the state-introspection surface a
    production operator uses to debug skew, audit state size, or
    migrate state between jobs WITHOUT replaying the stream.

    The result rows come from the checkpoint's state files, not the
    sink: (event_type, n_events, total_cents) per group key. Equality
    with the batch aggregate is therefore a round-trip proof that the
    persisted state is exactly the aggregation's logical content.

    Plan shape / 100 TB: the state source exposes one input split per
    state-store partition (partition_id column), so the read is as
    parallel as the original shuffle and never replays source data;
    state for a keyed aggregation is one row per key per partition —
    bounded by |keys|, independent of stream length."""
    spark = events.sparkSession
    agg = (
        events.select(
            "event_type",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        )
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"), F.sum("cents").alias("total_cents"))
    )
    # the checkpoint outlives the drain: the state reader below reads it
    checkpoint = tempfile.mkdtemp(prefix="ksr_state_inspect_")
    writer = agg.writeStream.format("memory").queryName("ksr_state_inspect_sink")
    drain(writer, checkpoint, partitions=default_state_partitions(spark), mode="complete")
    state = spark.read.format("statestore").load(checkpoint)
    # the state schema names the UNRESOLVED agg buffer fields (count,
    # sum), not the sink aliases — the buffer is the physical contract
    return state.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").cast("long").alias("n_events"),
        F.col("value.sum").cast("long").alias("total_cents"),
    ).orderBy("event_type")
