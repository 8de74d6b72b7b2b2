"""The workloads, each driving the engine through its public entry
points.  A workload generates its inputs from the seed, sets up, warms
up, measures for a fixed wall-clock window, checks every output and, in
a traced run, reports its per-layer numbers.

Warm-up policy (its wall time is part of ``setup_s``): a fresh JVM pays
JIT, class loading, codegen and Python-worker start-up on its first
operations (request p50 fell about 25% over the first ~200 requests; a
first ingest pass cost 3-4x a warm one).  Each workload therefore runs a
fixed number of warm-up operations before the window opens; for
records_api they come from another request structure, so the codegen
cache is warm without having seen the measured literals.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext

from . import gen, oracle
from .probes import PhaseListener, Tracer, patch, progress_listener

HERE = os.path.dirname(os.path.abspath(__file__))
CHECK_GROUP = "perfbench-check"


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


class Checker:
    """Runs output-check actions in their own job group so the per-layer
    Spark totals count only the workload's own jobs."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext

    def __enter__(self):
        self.sc.setJobGroup(CHECK_GROUP, "output check")
        return self

    def __exit__(self, *exc):
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def job_ids(self) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(CHECK_GROUP))


class Workload:
    name = ""
    setup_reps = 3

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = None
        self.tracer: Tracer | None = None
        self.failures: list[str] = []
        self.attempted = 0
        # seed-dependent input counts; generate() returns only the sizes
        # a run was asked for, which compare.py requires to match
        self.input_counts: dict = {}

    # generate() runs before the engine starts; returns input sizes
    def generate(self) -> dict:
        raise NotImplementedError

    def setup_rep(self, last: bool) -> None:
        pass

    def warmup(self) -> None:
        pass

    def measure(self, seconds: float) -> None:
        raise NotImplementedError

    def report(self) -> dict:
        """The workload's own end-to-end values: name -> (value, unit)."""
        raise NotImplementedError

    def headline(self) -> tuple[float, float]:
        """(median op latency in ms, work items per second)."""
        raise NotImplementedError

    def install_trace(self, tracer: Tracer) -> None:
        self.tracer = tracer

    def layer_metrics(self) -> dict:
        return {}

    def teardown(self) -> None:
        pass

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else nullcontext()

    def traced_op(self, i: int) -> bool:
        """Trace every other operation, for the trace_overhead estimate.
        The switch is the calling thread's, so call this on the thread
        that runs the operation."""
        if self.tracer is None:
            return False
        on = i % 2 == 0
        self.tracer.set_active(on)
        return on

    @staticmethod
    def overhead_pct(traced: list[float], plain: list[float]) -> float:
        if not traced or not plain:
            return 0.0
        return (statistics.median(traced) / statistics.median(plain) - 1.0) * 100.0


# --- records_api ----------------------------------------------------------------


class RecordsApi(Workload):
    """Closed loop, 2 clients in a separate process, GET /records over
    real HTTP against serve(RecordsApp(spark_records_fn(spark, dir)))."""

    name = "records_api"
    clients = 2
    warmup_requests = 6

    def generate(self) -> dict:
        n = self.ctx.size(20_000)
        sizes = gen.make_records_api(self.ctx.seed, self.ctx.inputs, n)
        cols = gen.events_columns(self.ctx.seed, n)
        self.ids = gen.flat_ids(cols)
        self.ts = cols["ts"]
        self.requests = gen.records_requests(self.ctx.seed, 4000)
        self.warm_requests = gen.records_requests(self.ctx.seed, self.warmup_requests, stream="warmup")
        sizes["request_list"] = len(self.requests)
        return sizes

    def _make_app(self):
        from kinesis_stream_reader_spark.http_server import RecordsApp, spark_records_fn

        fn = spark_records_fn(self.spark, self.ctx.inputs)
        if self.tracer is not None:
            fn = self.tracer.wrap("session.execute", fn)
        return RecordsApp(fn)

    def setup_rep(self, last: bool) -> None:
        import http.client

        from kinesis_stream_reader_spark.http_server import serve

        app = self._make_app()
        server = serve(app)
        conn = http.client.HTTPConnection("127.0.0.1", server.server_address[1], timeout=60)
        conn.request("GET", "/records?streamname=s&duration=10")
        ok = conn.getresponse().status == 200
        conn.close()
        if not ok:
            self.fail("setup request did not return 200")
        if last:
            self.app, self.server = app, server
        else:
            server.shutdown()
            server.server_close()

    def warmup(self) -> None:
        for req in self.warm_requests:
            self.app.handle("/records", req["query"])

    def install_trace(self, tracer: Tracer) -> None:
        super().install_trace(tracer)
        import kinesis_stream_reader_spark.operators.events as events
        import kinesis_stream_reader_spark.plans.pipeline as pipeline
        import kinesis_stream_reader_spark.sources.tables as tables

        patch(tables, "load_events", tracer, "sources.tables")
        patch(events, "to_nested", tracer, "operators.events")
        patch(events, "flatten_ids", tracer, "operators.events")
        patch(pipeline, "records_plan", tracer, "plans.pipeline")
        patch(pipeline, "with_data_relative_window", tracer, "operators.filters")
        patch(pipeline, "filter_records", tracer, "operators.filters")
        self.phases = PhaseListener(self.spark, listen=False)
        df_cls = type(self.spark.range(1))
        orig = df_cls.toLocalIterator
        phases = self.phases

        def to_local_iterator(df, *args, **kwargs):
            it = orig(df, *args, **kwargs)
            phases.record_qe(df._jdf.queryExecution())
            return it

        df_cls.toLocalIterator = to_local_iterator
        self._restore = (df_cls, orig)
        self.handle_log: list[tuple[bool, float]] = []

    def _instrument_app(self) -> None:
        tracer, app = self.tracer, self.app
        handle, validate = app.handle, app.validator.validate_params
        seq = itertools.count()
        log = self.handle_log

        # runs on the server's handler thread, one request per call
        def traced_handle(path, query):
            n = next(seq)
            active = self.traced_op(n)
            t0 = time.perf_counter()
            idx = tracer.begin("http_server", req=n)
            try:
                return handle(path, query)
            finally:
                tracer.end(idx)
                log.append((active, time.perf_counter() - t0))

        app.handle = traced_handle
        self.phases.reset()
        app.validator.validate_params = tracer.wrap("api", validate)

    def measure(self, seconds: float) -> None:
        if self.tracer is not None:
            self._instrument_app()
        plan = {
            "port": self.server.server_address[1],
            "seconds": seconds,
            "clients": self.clients,
            "requests": [{"query": r["query"]} for r in self.requests],
        }
        plan_path = os.path.join(self.ctx.work, "client_plan.json")
        out_path = os.path.join(self.ctx.work, "client_result.json")
        with open(plan_path, "w") as fh:
            json.dump(plan, fh)
        before = self.ctx.counters.snapshot() if self.tracer else None
        proc = subprocess.Popen([sys.executable, os.path.join(HERE, "client.py"), plan_path, out_path])
        self.ctx.rss.exclude.add(proc.pid)
        try:
            rc = proc.wait(timeout=seconds + 120)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = -1
        self.window_counters = self.ctx.counters.delta(before) if self.tracer else None
        if rc != 0:
            self.fail(f"client exited with {rc}")
            self.results = []
            return
        with open(out_path) as fh:
            self.results = json.load(fh)["results"]
        self._check()

    def _check(self) -> None:
        self.attempted = len(self.results)
        for rec in self.results:
            req = self.requests[rec["i"]]
            body = rec.pop("body", None)
            if rec.get("status") != req["status"]:
                self.fail(f"request {rec['i']}: status {rec.get('status')} != {req['status']}")
                continue
            if req["status"] == 400:
                if not isinstance(body, dict) or not body.get("badRequest"):
                    self.fail(f"request {rec['i']}: 400 without error envelope")
                continue
            want, cap = gen.expected_ids(self.ids, self.ts, req["query"])
            allowed = set(want.tolist())
            if not isinstance(body, list) or len(body) != min(cap, len(allowed)):
                self.fail(f"request {rec['i']}: {len(body or [])} rows, expected {min(cap, len(allowed))}")
                continue
            for row in body:
                eid = row.get("event_id")
                if eid not in allowed or row != gen.reference_row(self.ids, eid):
                    self.fail(f"request {rec['i']}: row {eid} does not satisfy the request")
                    break

    def _latencies(self) -> list[float]:
        return [r["ms"] for r in self.results if r.get("status") is not None]

    def _throughput(self) -> float:
        """Sum over clients of completed requests / that client's last
        completion time: no partial request at the window's end counts."""
        per_client: dict[int, list[float]] = {}
        for r in self.results:
            if r.get("status") is not None:
                per_client.setdefault(r["client"], []).append(r["end"])
        return sum(len(ends) / max(ends) for ends in per_client.values())

    def headline(self) -> tuple[float, float]:
        return statistics.median(self._latencies()), self._throughput()

    def report(self) -> dict:
        lat = self._latencies()
        self.detail = {"latency_ms": [(r["i"], r["ms"]) for r in sorted(self.results, key=lambda r: r["i"])]}
        # highest percentile with at least ten samples beyond it, capped at p90
        n = len(lat)
        q = min(0.9, 1 - 10 / n) if n > 10 else 0.5
        return {
            "request_p50_ms": (statistics.median(lat), "ms"),
            f"request_p{int(round(q * 100))}_ms": (quantile(lat, q), "ms"),
            "request_samples": (n, "count"),
            "samples_beyond_tail": (sum(1 for x in lat if x > quantile(lat, q)), "count"),
            "requests_per_s": (self._throughput(), "1/s"),
        }

    def layer_metrics(self) -> dict:
        st = self.tracer.self_times()
        traced = [d for a, d in self.handle_log if a]
        plain = [d for a, d in self.handle_log if not a]
        n_traced = max(1, len(traced))
        n_req = max(1, len(self.handle_log))
        lat = self._latencies()
        handle_ms = statistics.mean(d for _, d in self.handle_log) * 1e3 if self.handle_log else 0.0
        resp = [r.get("bytes", 0) for r in self.results if r.get("status") is not None]
        plan_s = sum(
            st.get(k, {}).get("total_s", 0.0) for k in ("plans.pipeline", "sources.tables", "operators.events")
        )
        out = {
            "http_server.handle_ms": handle_ms,
            "http_server.transport_ms": (statistics.mean(lat) - handle_ms) if lat else 0.0,
            "http_server.response_bytes": statistics.mean(resp) if resp else 0.0,
            "api.validate_us": st.get("api", {}).get("total_s", 0.0) / n_traced * 1e6,
            "plans.pipeline.build_ms": plan_s / n_traced * 1e3,
            "trace_overhead": self.overhead_pct(traced, plain),
        }
        out.update(self.phases.per_op(self.phases.actions))
        out.update(per_op_spark(self.window_counters, n_req))
        return out

    def teardown(self) -> None:
        if getattr(self, "server", None) is not None:
            self.server.shutdown()
            self.server.server_close()
        if getattr(self, "_restore", None):
            cls, orig = self._restore
            cls.toLocalIterator = orig


def sum_of_medians(ops: list[dict]) -> float:
    """Pass time as the sum over a pass's parts of each part's median
    across passes: one slow query or drain in one pass does not move it.
    A part's value is a tuple of seconds to add up."""
    return sum(statistics.median(sum(op[k]) for op in ops) for k in ops[0])


def per_op_spark(wc: dict | None, ops: int) -> dict:
    if not wc:
        return {}
    ops = max(1, ops)
    return {
        "spark.codegen_compiles": wc["codegen_compiles"] / ops,
        "spark.codegen_ms": wc["codegen_ms"] / ops,
        "spark.jobs": wc["jobs"] / ops,
        "spark.stages": wc["stages"] / ops,
        "spark.tasks": wc["tasks"] / ops,
        "spark.stage_run_s": wc["stage_run_s"] / ops,
        "spark.stage_cpu_s": wc["stage_cpu_s"] / ops,
        "spark.gc_ms": wc["gc_ms"] / ops,
        "sources.scan_bytes": wc["scan_bytes"] / ops,
        "sink.output_bytes": wc["output_bytes"] / ops,
    }


# --- operator_suite -------------------------------------------------------------------

FAMILIES = {
    "multimodal": ("multimodal_png_decode",),
    "similarity": ("ann_bruteforce",),
    "text": ("text_quality",),
    "dedup": ("dedup_exact",),
    "relational": ("tpch_q6", "graph_triangles"),
    # a run_available_now drain at build time (EAGER), one trigger per
    # events part file, with a state store, a watermark and a parquet sink
    "streaming": ("streaming_dedup",),
}
SUITE_TABLES = ("events", "documents", "embeddings", "lineitem")
INGEST = "kpl_ingest"


class OperatorSuite(Workload):
    """A fixed list of registry queries with DuckDB oracle twins, run as
    queries()[name](spark, dir).toPandas(), and one KPL ingest pass, in a
    seed-permuted order.  One operation is one pass over the whole list.

    Fetching every row and column forces full evaluation (a count() lets
    column pruning skip a pure projection's kernels), and the fetched
    result is compared, value by value, with the oracle's.  The ingest
    pass is json_parse(deagg_explode(raw)) -> filter on the parsed field
    -> parquet sink, overwritten each pass, checked against the
    generator's counts."""

    name = "operator_suite"
    # a pass takes most of the window; with one pass, a host-wide slow
    # spell moved suite_s by up to 0.24 (IQR/median over seeds)
    min_ops = 2
    event_parts = 2

    def generate(self) -> dict:
        c = self.ctx
        sizes = gen.make_operator_suite(
            c.seed, c.inputs, c.size(2000), c.size(240), c.size(240), c.size(600), self.event_parts
        )
        ingest_sizes, self.expect = gen.make_kpl_ingest(c.seed, c.inputs, c.size(60_000))
        sizes.update(ingest_sizes)
        self.raw_dir = f"{c.inputs}/raw_records.parquet"
        self.out_dir = os.path.join(c.work, "ingest_out")
        self.sink_walls: list[float] = []
        self.input_counts = {"user_records": self.expect.user_records, "wire_records": self.expect.wire_records}
        self.queries_run = [n for fam in FAMILIES.values() for n in fam]
        names = [*self.queries_run, INGEST]
        order = gen.rng_for(c.seed, "suite").permutation(len(names))
        self.order = [names[i] for i in order]
        sizes["queries"] = len(self.queries_run)
        self.per_query: list[dict] = []
        self.oracle = self.oracle_results()
        return sizes

    def setup_rep(self, last: bool) -> None:
        from kinesis_stream_reader_spark.registry import queries
        from kinesis_stream_reader_spark.sources.tables import load_table

        self.queries = queries()
        for table in SUITE_TABLES:
            load_table(self.spark, self.ctx.inputs, table)
        raw = self.spark.read.parquet(self.raw_dir)
        if raw.columns != ["wire_id", "partition_key", "data"]:
            self.fail(f"raw schema {raw.columns}")

    def oracle_results(self) -> dict:
        """Each query's DuckDB oracle result, canonical, computed once per
        run in a child process before the engine starts."""
        import pandas as pd

        out = os.path.join(self.ctx.work, "oracle")
        cmd = [sys.executable, os.path.join(HERE, "oracle.py"), self.ctx.inputs, out, *self.queries_run]
        subprocess.run(cmd, check=True, timeout=600)
        return {n: pd.read_pickle(oracle.result_path(out, n)) for n in self.queries_run}

    def install_trace(self, tracer: Tracer) -> None:
        super().install_trace(tracer)
        # the output checks' collect() is left out of the Catalyst phases
        self.phases = PhaseListener(self.spark, ignore=frozenset({"collect"}))
        self.progress = progress_listener(self.spark)

    def pipeline(self):
        from kinesis_stream_reader_spark.operators.ingest import deagg_explode, json_parse

        with self.span("sources.raw"):
            raw = self.spark.read.parquet(self.raw_dir)
        with self.span("operators.ingest"):
            return json_parse(deagg_explode(raw), schema="event_id BIGINT, k BIGINT")

    def ingest_pass(self) -> float:
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        with self.span("kpl_ingest.pass"):
            kept = self.pipeline().filter(F.col("k").isNull() | (F.col("k") >= gen.INGEST_MIN_K))
            t1 = time.perf_counter()
            with self.span("sink"):
                kept.write.mode("overwrite").parquet(self.out_dir)
        wall = time.perf_counter() - t0
        self.sink_walls.append(time.perf_counter() - t1)
        return wall

    def warmup(self) -> None:
        # one suite pass; warm-up outputs are not checked: checks are the
        # benchmark's cost, not the program's, and setup_s times this
        self.op(-1)

    def measure(self, seconds: float) -> None:
        self.walls: list[tuple[bool, float]] = []
        if self.tracer is not None:
            self.phases.reset()
        before = self.ctx.counters.snapshot() if self.tracer else None
        checker = Checker(self.spark)
        t0 = time.perf_counter()
        i = 0
        # stop before a pass that would, at the median pace so far, end
        # after the window
        while i < self.min_ops or (
            time.perf_counter() - t0 + statistics.median(w for _, w in self.walls) <= seconds
        ):
            traced = self.traced_op(i)
            wall = self.op(i)
            if self.tracer is not None:
                self.tracer.set_active(False)
            self.walls.append((traced, wall))
            with checker:
                self.check(i)
            self.attempted += len(self.order)
            i += 1
        if self.tracer is not None:
            self.window_counters = self.ctx.counters.delta(before, skip=checker.job_ids())

    def op(self, i: int) -> float:
        self.results = {}
        self.pass_detail = {}
        t0 = time.perf_counter()
        for name in self.order:
            if name == INGEST:
                self.pass_detail[name] = (0.0, self.ingest_pass())
                continue
            q0 = time.perf_counter()
            with self.span("registry.build"):
                df = self.queries[name](self.spark, self.ctx.inputs)
            q1 = time.perf_counter()
            with self.span("registry.exec"):
                self.results[name] = df.toPandas()
            self.pass_detail[name] = (q1 - q0, time.perf_counter() - q1)
        wall = time.perf_counter() - t0
        if i >= 0:
            self.per_query.append(self.pass_detail)
        return wall

    def check(self, i: int) -> None:
        self.check_ingest(i)
        for name in self.queries_run:
            got, want = oracle.canon(self.results[name]), self.oracle[name]
            if list(got.columns) != list(want.columns):
                self.fail(f"pass {i}: {name} columns {list(got.columns)} != oracle {list(want.columns)}")
            elif len(got) != len(want):
                self.fail(f"pass {i}: {name} {len(got)} rows != oracle {len(want)}")
            elif not got.equals(want):
                self.fail(f"pass {i}: {name} values differ from the oracle")

    def check_ingest(self, i: int) -> None:
        from pyspark.sql import functions as F

        row = (
            self.spark.read.parquet(self.out_dir)
            .agg(F.count("*").alias("n"), F.sum("k").alias("s"), F.count("INVALID JSON").alias("bad"))
            .collect()[0]
        )
        e = self.expect
        got = (row["n"], row["s"] or 0, row["bad"])
        want = (e.kept_rows, e.kept_sum_k, e.invalid_json)
        if got != want:
            self.fail(f"pass {i}: ingest sink (rows, sum k, invalid) {got} != {want}")

    def verify_once(self) -> None:
        """Unfiltered ingest counts: user records, dropped aggregates,
        INVALID JSON rows and sum(k) against the generator."""
        from pyspark.sql import functions as F

        with Checker(self.spark):
            row = self.pipeline().agg(
                F.count("*").alias("n"),
                F.countDistinct("wire_id").alias("wires"),
                F.count("INVALID JSON").alias("bad"),
                F.sum("k").alias("s"),
            ).collect()[0]
        e = self.expect
        self.counts = {
            "user_records": row["n"],
            "dropped_aggregates": e.wire_records - row["wires"],
            "invalid_json": row["bad"],
            "sum_k": row["s"],
        }
        want = {
            "user_records": e.user_records,
            "dropped_aggregates": e.dropped_aggregates,
            "invalid_json": e.invalid_json,
            "sum_k": e.sum_k,
        }
        self.attempted += 1
        if self.counts != want:
            self.fail(f"ingest counts {self.counts} != {want}")

    def headline(self) -> tuple[float, float]:
        m = sum_of_medians(self.per_query)
        return m * 1e3, len(self.order) / m

    def report(self) -> dict:
        m = sum_of_medians(self.per_query)
        self.detail = {
            n: {
                "build_s": statistics.median(p[n][0] for p in self.per_query),
                "exec_s": statistics.median(p[n][1] for p in self.per_query),
            }
            for n in self.order
        }
        ingest = self.detail[INGEST]["exec_s"]
        return {
            "suite_s": (m, "s"),
            "suite_passes": (len(self.walls), "count"),
            "ingest_pass_s": (ingest, "s"),
            "ingest_records_per_s": (self.expect.user_records / ingest, "1/s"),
        }

    def layer_metrics(self) -> dict:
        from kinesis_stream_reader_spark.operators.ingest import kpl_decode
        import pyarrow.parquet as pq

        traced = [w for t, w in self.walls if t]
        plain = [w for t, w in self.walls if not t]
        out = per_op_spark(self.window_counters, len(self.walls))
        out.update(self.phases.per_op(len(self.walls)))
        out["trace_overhead"] = self.overhead_pct(traced, plain)

        def med(f) -> float:
            return statistics.median(f(p) for p in self.per_query)

        qs = self.queries_run
        out["registry.build_s"] = med(lambda p: sum(p[n][0] for n in qs))
        out["registry.exec_s"] = med(lambda p: sum(p[n][1] for n in qs))
        for fam, names in FAMILIES.items():
            out[f"operators.{fam}_s"] = med(lambda p, ns=names: sum(sum(p[n]) for n in ns))
        drains = [p[n][0] for p in self.per_query for n in FAMILIES["streaming"]]
        out.update(self.streaming_layers(drains))

        blobs = pq.read_table(self.raw_dir, columns=["data"]).column("data").to_pylist()[:2000]
        t0 = time.perf_counter()
        n = sum(len(kpl_decode(b)) for b in blobs)
        e = self.expect
        out.update(
            {
                "operators.ingest.decode_us_per_record": (time.perf_counter() - t0) / max(1, n) * 1e6,
                "operators.ingest.explode_ratio": e.user_records / e.wire_records,
                "operators.ingest.dropped_aggregates": self.counts["dropped_aggregates"],
                "operators.ingest.invalid_json_rows": self.counts["invalid_json"],
                "sink.write_s": statistics.median(self.sink_walls[-len(self.walls):]),
            }
        )
        return out

    def streaming_layers(self, drain_walls: list[float]) -> dict:
        """Per-trigger numbers from the StreamingQueryListener, over the
        drains of the measured passes (the warm-up pass's drains are the
        first ones the listener saw)."""
        n_warm = len(FAMILIES["streaming"])
        deadline = time.time() + 5
        # progress events arrive on the listener bus after awaitTermination
        while time.time() < deadline and len({p["runId"] for p in self.progress}) < n_warm + len(drain_walls):
            time.sleep(0.1)
        run_order: list[str] = []
        for p in self.progress:
            if p["runId"] not in run_order:
                run_order.append(p["runId"])
        keep = set(run_order[n_warm:])
        dur: dict[str, float] = {}
        triggers = 0
        state_commit = state_rows = state_mem = 0.0
        for p in self.progress:
            if p["runId"] not in keep:
                continue
            triggers += 1
            for k, v in p.get("durationMs", {}).items():
                dur[k] = dur.get(k, 0) + v
            for so in p.get("stateOperators", []):
                state_commit += so.get("commitTimeMs", 0)
                state_rows = max(state_rows, so.get("numRowsTotal", 0))
                state_mem = max(state_mem, so.get("memoryUsedBytes", 0))
        n_drains = max(1, len(keep))
        per_trigger = max(1, triggers)
        return {
            "streaming.triggers": triggers / n_drains,
            "streaming.trigger_ms": dur.get("triggerExecution", 0) / per_trigger,
            "streaming.add_batch_ms": dur.get("addBatch", 0) / per_trigger,
            "streaming.query_planning_ms": dur.get("queryPlanning", 0) / per_trigger,
            "streaming.wal_commit_ms": dur.get("walCommit", 0) / per_trigger,
            "streaming.commit_offsets_ms": dur.get("commitOffsets", 0) / per_trigger,
            "streaming.latest_offset_ms": dur.get("latestOffset", 0) / per_trigger,
            "streaming.outside_trigger_ms": (sum(drain_walls) * 1e3 - dur.get("triggerExecution", 0))
            / max(1, len(drain_walls)),
            "streaming.state_commit_ms": state_commit / n_drains,
            "streaming.state_rows": state_rows,
            "streaming.state_memory_bytes": state_mem,
        }


WORKLOADS = {w.name: w for w in (RecordsApi, OperatorSuite)}
