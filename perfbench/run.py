"""Layered benchmark for kinesis_stream_reader_spark: one command.

    python3 perfbench/run.py --workload records_api --seed 1 --seconds 10 --trace 0

Workloads: records_api, operator_suite (see workloads.py and
BENCHMARK.json for why each exists).  The run

1. generates the workload's inputs from --seed into a fresh per-run
   directory under .perfbench_runs/ (not timed);
2. starts the engine's Spark session on local[N], N = min(4, nproc),
   passed explicitly, sets up (repeated set-up steps, median kept) and
   warms up: all of this is ``setup_s``;
3. measures for --seconds of wall clock and checks every output;
4. prints a report line with the workload's own metric names, then, as
   the last line, {"correct", "attempted", "failed", "metrics"}: the
   end-to-end metrics with --trace 0, the per-layer metrics with
   --trace 1;
5. writes a self-describing artifact to .perfbench_runs/artifacts/
   (cpus, SPARK_GRAFT_* values, seed, input sizes, versions, host
   calibration, spans when traced) that compare.py reads.

Exit code: 0 when every output checked out, 1 on any failed or wrong
operation, 2 when the engine sources are not next to this directory.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = os.path.join(ROOT, ".perfbench_runs")

# Every workload prints every metric (values a workload does not
# exercise read 0); the names and units here are BENCHMARK.json's.
END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "items_per_s": "1/s",
    "peak_pss_mb": "MB",
}
PER_LAYER = {
    "http_server.handle_ms": "ms",
    "http_server.transport_ms": "ms",
    "http_server.response_bytes": "bytes",
    "api.validate_us": "us",
    "plans.pipeline.build_ms": "ms",
    "spark.analysis_ms": "ms",
    "spark.optimization_ms": "ms",
    "spark.planning_ms": "ms",
    "spark.codegen_compiles": "count",
    "spark.codegen_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.stage_run_s": "s",
    "spark.stage_cpu_s": "s",
    "spark.gc_ms": "ms",
    "sources.scan_bytes": "bytes",
    "sink.write_s": "s",
    "sink.output_bytes": "bytes",
    "operators.ingest.decode_us_per_record": "us",
    "operators.ingest.explode_ratio": "ratio",
    "operators.ingest.dropped_aggregates": "count",
    "operators.ingest.invalid_json_rows": "count",
    "streaming.triggers": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.outside_trigger_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "registry.build_s": "s",
    "registry.exec_s": "s",
    "operators.multimodal_s": "s",
    "operators.similarity_s": "s",
    "operators.text_s": "s",
    "operators.dedup_s": "s",
    "operators.relational_s": "s",
    "operators.streaming_s": "s",
    "trace_overhead": "%",
}


class Context:
    """Per-run locations and shared probes handed to the workload."""

    def __init__(self, seed: int, scale: float, work: str) -> None:
        self.seed = seed
        self.scale = scale
        self.work = work
        self.inputs = os.path.join(work, "inputs")
        self.counters = None
        self.rss = None

    def size(self, n: int) -> int:
        return max(1, int(n * self.scale))


def hermetic_env(work: str, cpus: int) -> None:
    """Point every scratch location the engine, Spark, the JVM and the
    Python workers use at this run's directory, and put the repo root on
    the workers' PYTHONPATH.  Must run before the engine is imported: its
    session module reads these at import time."""
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "scratch"), os.path.join(work, "local")):
        os.makedirs(d, exist_ok=True)
    os.environ["KSR_SCRATCH"] = os.path.join(work, "scratch")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in [ROOT, *os.environ.get("PYTHONPATH", "").split(os.pathsep)] if p
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    import tempfile

    tempfile.tempdir = tmp


def source_digest() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "kinesis_stream_reader_spark")
    for base, dirs, files in os.walk(pkg):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(base, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_rev() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def stop_engine(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait until it has exited."""
    from pyspark import SparkContext

    from perfbench.probes import descendants

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    for pid in descendants(os.getpid())[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    for pid in descendants(os.getpid())[1:]:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input-size factor (self-tests use a tiny one)")
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "kinesis_stream_reader_spark", "__init__.py")):
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    cpus = min(4, nproc)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(RUNS, stem)
    shutil.rmtree(work, ignore_errors=True)
    hermetic_env(work, cpus)
    try:
        return run(args, work, stem, nproc, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, stem: str, nproc: int, cpus: int) -> int:
    from perfbench import gen
    from perfbench.probes import RssSampler, SparkCounters, Tracer, calibration
    from perfbench.workloads import WORKLOADS

    ctx = Context(args.seed, args.scale, work)
    wl = WORKLOADS[args.workload](ctx)
    t = time.perf_counter()
    sizes = wl.generate()
    gen_s = time.perf_counter() - t
    calib_s = calibration()

    ctx.rss = RssSampler().start()
    t = time.perf_counter()
    from kinesis_stream_reader_spark.session import get_spark

    spark = get_spark("perfbench", cpus=cpus)
    session_s = time.perf_counter() - t
    wl.spark = spark
    tracer = None
    if args.trace:
        ctx.counters = SparkCounters(spark)
        tracer = Tracer()
        wl.install_trace(tracer)
    try:
        reps = []
        for r in range(wl.setup_reps):
            t = time.perf_counter()
            wl.setup_rep(last=r == wl.setup_reps - 1)
            reps.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(reps) + warmup_s

        wl.measure(args.seconds)
        if hasattr(wl, "verify_once"):
            wl.verify_once()
        op_ms, items = wl.headline()
        report = wl.report()
        layers = wl.layer_metrics() if args.trace else {}
    finally:
        t = time.perf_counter()
        wl.teardown()
        peak_mb = ctx.rss.stop()
        stop_engine(spark)
        teardown_s = time.perf_counter() - t

    failed = len(wl.failures)
    attempted = max(wl.attempted, failed, 1)
    e2e = {"setup_s": setup_s, "op_p50_ms": op_ms, "items_per_s": items, "peak_pss_mb": peak_mb}
    report.update(
        {
            "setup_s": (setup_s, "s"),
            "failed_share": (failed / attempted, "share"),
            "peak_pss_mb": (peak_mb, "MB"),
            "peak_rss_mb": (ctx.rss.peak_rss_kb / 1024.0, "MB"),
        }
    )
    if args.trace:
        values = {name: float(layers.get(name, 0.0)) for name in PER_LAYER}
        metrics = {n: {"value": values[n], "unit": u} for n, u in PER_LAYER.items()}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END.items()}

    from pyspark import __version__ as spark_version
    import pyarrow

    artifact = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "scale": args.scale,
        "host": {
            "nproc": nproc,
            "cpus": cpus,
            "master": f"local[{cpus}]",
            "calibration_s": calib_s,
            "machine": platform.machine(),
        },
        "spark_graft_env": {k: v for k, v in sorted(os.environ.items()) if k.startswith("SPARK_GRAFT_")},
        "inputs": {
            "sizes": sizes,
            "counts": wl.input_counts,
            "gen_version": gen.GEN_VERSION,
            "gen_s": gen_s,
        },
        "code": {"git_rev": git_rev(), "source_digest": source_digest()},
        "versions": {
            "python": platform.python_version(),
            "spark": spark_version,
            "pyarrow": pyarrow.__version__,
        },
        "setup": {"session_s": session_s, "reps_s": reps, "warmup_s": warmup_s, "teardown_s": teardown_s},
        "metrics": metrics,
        "report": {k: {"value": v, "unit": u} for k, (v, u) in report.items()},
        "attempted": attempted,
        "failed": failed,
        "failures": wl.failures[:50],
        "detail": getattr(wl, "detail", {}),
    }
    if tracer is not None:
        artifact["self_times"] = tracer.self_times()
    os.makedirs(os.path.join(RUNS, "artifacts"), exist_ok=True)
    path = os.path.join(RUNS, "artifacts", stem + ".json")
    with open(path, "w") as fh:
        json.dump(artifact, fh, indent=1, default=float)
    if tracer is not None:
        with open(path[: -len(".json")] + ".spans.json", "w") as fh:
            json.dump(tracer.dump(), fh)

    for line in wl.failures[:20]:
        print(f"FAILED: {line}", file=sys.stderr)
    print(json.dumps({"workload": args.workload, "report": artifact["report"], "artifact": os.path.relpath(path, ROOT)}))
    if tracer is not None:
        print(json.dumps({"workload": args.workload, "self_times": artifact["self_times"]}))
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
