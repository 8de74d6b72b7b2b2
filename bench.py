"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS], or on the host's cores when that is
unset. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...},
 "sf": ..., "cpus": ...}
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import sys
import tempfile
import time
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kinesis_stream_reader_spark.session import get_host_spark  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402


def _walls_from(path: str, sf) -> dict[str, float]:
    try:
        with open(path) as fh:
            prev = json.load(fh)
        if prev.get("sf") != sf:
            return {}
        walls = dict(prev.get("queries", {}))
        # Re-probed queries carry their isolated-warm confirmed minimum
        # in confirmed_wall (round 9: queries{} is the raw single-pass
        # wall for EVERY query — one measurement basis); compare against
        # the confirmed number so disproved noise does not inflate the
        # next round's baseline.
        walls.update(prev.get("confirmed_wall", {}))
        return walls
    except (OSError, ValueError):
        return {}


def _load_previous_bench(out_path: str, sf) -> dict[str, float]:
    """Per-query re-probe baseline: the elementwise MIN of the newest
    driver-committed round artifact (BENCH_r*.json) and the on-disk
    bench_out.json. Round-10 fix: comparing against bench_out.json
    alone let a mover slip in round 9 — mid-round reruns overwrite it,
    so a query that regressed early in a round ratcheted its own
    baseline up and never tripped the trigger against the COMMITTED
    round number (log_parse_roundtrip, 1.42 -> 2.38 s, unprobed). The
    min across both sources is the strictest honest baseline; empty
    dict disables the re-probe (first run / sf mismatch).

    BENCH_PREV_ROUND.json is the convention carrying the boundary
    artifact: at the START of each round, copy the previous round's
    final committed bench_out.json over it and commit (the driver's
    own BENCH_r*.json wrappers keep only a tail-truncated compact
    line, so they cannot serve as the per-query baseline)."""
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    snapshot = os.path.join(repo_dir, "BENCH_PREV_ROUND.json")
    baseline: dict[str, float] = {}
    for path in (snapshot, out_path):
        for name, wall in _walls_from(path, sf).items():
            if name not in baseline or wall < baseline[name]:
                baseline[name] = wall
    return baseline


def _cleanup(spark, shuffle_parts: str, keep_views: frozenset[str]) -> None:
    """Per-query hygiene so one query's residue never inflates a later
    one: stray streams stopped, memory-sink temp views (whose rows pin
    block-manager memory for the whole run otherwise) dropped, cached
    plans cleared, and the shuffle-partition conf restored in case a
    query's save/restore was interrupted mid-flight. This is state
    cleanup only — JVM/codegen/Arrow warmth is preserved."""
    for s in spark.streams.active:
        s.stop()
    for r in spark.catalog.listTables():
        if r.isTemporary and r.name not in keep_views:
            spark.catalog.dropTempView(r.name)
    spark.catalog.clearCache()
    spark.conf.set("spark.sql.shuffle.partitions", shuffle_parts)


def warmup(spark, sf_dir: str) -> Callable[[], None]:
    """Warm up the JVM (codegen, parquet footer caches, Arrow path,
    streaming machinery) so timings measure query execution, not
    session startup. Returns the per-query `_cleanup`, bound to the
    warm session's shuffle-partition conf and temp views."""
    from kinesis_stream_reader_spark.operators.events import to_nested
    from kinesis_stream_reader_spark.operators.rowmap import map_batches
    from kinesis_stream_reader_spark.sources.raw import kpl_raw_records
    from kinesis_stream_reader_spark.sources.tables import TABLES, load_events
    from kinesis_stream_reader_spark.streaming import jobs

    for table in TABLES:
        spark.read.parquet(f"{sf_dir}/{table}.parquet").count()
    # materialize the KPL wire-record fixture so deagg timing measures
    # the decode operator, not test-fixture packing
    kpl_raw_records(spark, sf_dir).count()
    # spin up the Python/Arrow worker pool through the adapter every
    # Arrow kernel uses, so the first such query measures the operator,
    # not interpreter + Arrow channel startup
    map_batches(spark.range(10_000), lambda batches: batches, "id long").count()
    # compile the nested-event projection once: the first filter query
    # should measure the filter, not struct-builder codegen
    to_nested(load_events(spark, sf_dir)).count()
    # warm the Structured Streaming machinery (micro-batch planner, state
    # store provider, memory-sink registration): measured ~5-7 s of
    # one-time cost that otherwise lands on whichever streaming query
    # happens to run first — the source of round-over-round "regressions"
    # on queries whose code never changed (bench order shifts as the
    # registry grows, so a different query absorbs the cold start).
    warm_dir = tempfile.mkdtemp(prefix="ksr_bench_warm_src_")
    warm_ckpt = tempfile.mkdtemp(prefix="ksr_bench_warm_ckpt_")
    try:

        def _warm_drain() -> None:
            stream = spark.readStream.schema("id long").parquet(warm_dir)
            writer = stream.groupBy().count().writeStream.format("memory")
            jobs.drain(writer.queryName("ksr_bench_warmup_sink"), warm_ckpt, mode="complete")

        spark.range(1_000).write.mode("overwrite").parquet(warm_dir)
        _warm_drain()
        # Second drain from the SAME checkpoint: exercises checkpoint
        # RECOVERY (offset-log replay, state-store reload) — a distinct
        # one-time cost from cold stream startup that otherwise lands on
        # the first checkpoint-restart query in registry order
        # (streaming_resume_exactly_once was absorbing it).
        spark.range(1_000, 2_000).write.mode("append").parquet(warm_dir)
        _warm_drain()
        spark.catalog.dropTempView("ksr_bench_warmup_sink")
    finally:
        shutil.rmtree(warm_dir, ignore_errors=True)
        shutil.rmtree(warm_ckpt, ignore_errors=True)
    return functools.partial(
        _cleanup,
        spark,
        spark.conf.get("spark.sql.shuffle.partitions"),
        frozenset(r.name for r in spark.catalog.listTables()),
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    spark = get_host_spark("bench")
    cpus = spark.sparkContext.defaultParallelism

    qs = entrymod.queries()
    cleanup = warmup(spark, sf_dir)

    def _run_once(name: str) -> float:
        t0 = time.perf_counter()
        # count() executes the full plan without driver-side materialization
        qs[name](spark, sf_dir).count()
        wall = round(time.perf_counter() - t0, 3)
        cleanup()
        return wall

    timings: dict[str, float] = {}
    for name in qs:
        timings[name] = _run_once(name)

    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    out_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_out.json"
    )

    # --- Noise re-probe (round 7): a ~490-query single-pass bench has
    # ~±15% run-level noise, which exceeds a typical round's true perf
    # delta. Any query whose in-bench wall moved >1.5x AND >0.5 s vs the
    # previous committed bench is re-probed ISOLATED-WARM twice at the
    # end of the run; the min re-probe wall is the query's confirmed
    # cost. Only movers whose re-probe STILL exceeds the threshold are
    # reported as confirmed_regressions — order/GC noise self-clears.
    #
    # Round 8: the flagship composites are re-probed UNCONDITIONALLY —
    # the 1.5x trigger let a 1.42x flagship move ship unprobed in r7,
    # and these are the queries round-over-round comparisons lean on.
    FLAGSHIP_REPROBE = [
        "training_batches",
        "curate_corpus",
        "rag_retrieval",
        "records_pipeline",
        "dataset_card",
        "streaming_records_pipeline",
        # round-13 verdict item: 1.215 -> 1.446 s raw in r12 sat below
        # the ambient-adjusted trigger and shipped unprobed — probe it
        # unconditionally so the committed number is always confirmed
        "curriculum_shards",
    ]
    prev = _load_previous_bench(out_path, sf_val)
    # Ambient normalization (round 10): the machine's day-to-day speed
    # moves the WHOLE 500-query population (round-10 session: median
    # same-code ratio 1.155 vs the r9 committed walls, with fresh-JVM
    # isolated probes of every flagged mover landing at r9 levels —
    # i.e. zero real regressions while the naive trigger confirmed 6,
    # then 9 DIFFERENT ones on the rerun). The session's median
    # raw/baseline ratio over all common queries IS that ambient
    # factor; a real regression is a query that moved 1.5x beyond it.
    # Clamped at 1.0 so a fast day never relaxes the trigger below
    # the true baseline.
    common = sorted(
        timings[n] / prev[n]
        for n in timings
        if n in prev and prev[n] >= 0.05
    )
    ambient = common[len(common) // 2] if common else 1.0
    amb_t = max(1.0, ambient)
    movers = [
        n
        for n, w in timings.items()
        if n in prev
        and w > 1.5 * prev[n] * amb_t
        and w - prev[n] * amb_t > 0.5
    ]
    reprobe: dict[str, list[float]] = {}
    confirmed_wall: dict[str, float] = {}
    confirmed: list[str] = []
    for name in dict.fromkeys(FLAGSHIP_REPROBE + movers):
        if name not in timings:
            # a stale/renamed flagship name would silently lose its
            # unconditional re-probe
            print(
                f"WARNING: FLAGSHIP_REPROBE name not in registry: {name}",
                file=sys.stderr,
            )
            continue
        walls = [_run_once(name), _run_once(name)]
        reprobe[name] = walls
        best = min(walls)
        if (
            name in prev
            and best > 1.5 * prev[name] * amb_t
            and best - prev[name] * amb_t > 0.5
        ):
            confirmed.append(name)
        # Round 9 (advice): queries{} keeps the RAW single-pass wall for
        # every query — one measurement basis across the whole table —
        # and the isolated-warm confirmed minimum lands in a separate
        # confirmed_wall map (which _load_previous_bench prefers, so
        # disproved noise still never inflates the next round's
        # comparison baseline).
        confirmed_wall[name] = min(best, timings[name])

    total = round(sum(timings.values()), 3)
    # Round 12 (verdict): the CONFIRMED headline — raw walls with the
    # isolated-warm re-probed minima substituted — so a run on a
    # contended machine (driver r11: raw 1454 s at ambient 1.256 while
    # every raw mover re-probed flat) is self-describing instead of
    # reading as a 2.8x regression at first glance. value stays the
    # one-basis raw total; value_confirmed is what the run actually
    # proved the queries cost.
    total_confirmed = round(
        sum(confirmed_wall.get(n, w) for n, w in timings.items()), 3
    )
    basis = (
        "value=raw single-pass walls; value_confirmed substitutes each "
        "re-probed query's isolated-warm minimum (confirmed_wall); "
        "ambient_vs_prev is the same-code median raw/baseline ratio — "
        "compare rounds on value_confirmed when ambient is hot"
    )
    payload = {
        "metric": "total_query_wall_sec",
        "value": total,
        "value_confirmed": total_confirmed,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "cpus": cpus,
        "reprobe": reprobe,
        "reprobe_prev": {n: prev[n] for n in reprobe if n in prev},
        "ambient_vs_prev": round(ambient, 3),
        "confirmed_wall": confirmed_wall,
        "confirmed_regressions": confirmed,
        "basis": basis,
    }
    # The full per-query JSON lands in bench_out.json so rounds can be
    # diffed query-by-query.
    with open(out_path, "w") as fh:
        json.dump(payload, fh, indent=1, sort_keys=True)
    # The driver captures a ~2000-char TAIL of stdout, so a 320-query
    # line gets its head (and the totals) cut off. Print the full line
    # first for humans, then a compact summary LAST — guaranteed inside
    # the tail window — with the totals, the slowest queries, and a
    # pointer at the full artifact.
    print(json.dumps(payload))
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:12])
    compact = {
        "metric": "total_query_wall_sec",
        "value": total,
        "value_confirmed": total_confirmed,
        "ambient_vs_prev": round(ambient, 3),
        "unit": "sec",
        "sf": payload["sf"],
        "cpus": cpus,
        "n_queries": len(timings),
        "queries": slowest,
        # capped so the compact line stays inside the driver's tail window
        "reprobe": dict(list(reprobe.items())[:10]),
        "confirmed_regressions": confirmed[:10],
        "queries_full": "bench_out.json",
    }
    sys.stdout.flush()
    print(json.dumps(compact))
    spark.stop()


if __name__ == "__main__":
    main()
