"""Measurement helpers: spans, Spark counters, listeners and RSS sampling.

Nothing here reaches inside the engine.  Spans wrap calls into the
engine's public functions from the benchmark's side; Spark numbers come
from public JVM surfaces (the status store, codegen metrics, GC beans,
query-execution and streaming listeners).
"""

from __future__ import annotations

import os
import threading
import time
from collections import defaultdict


class Tracer:
    """In-memory spans: (name, start, end, parent index, request id).

    ``wrap`` returns a function that records a span around each call when
    tracing is on for the calling thread (off until ``set_active``);
    nesting on one thread sets the parent.  Spans are written out once,
    at exit."""

    def __init__(self) -> None:
        self.spans: list[list] = []
        self._local = threading.local()

    def set_active(self, on: bool) -> None:
        """Switch span recording on or off for the calling thread."""
        self._local.active = on

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def begin(self, name: str, req: object = None) -> int | None:
        if not getattr(self._local, "active", False):
            return None
        stack = self._stack()
        parent = stack[-1] if stack else None
        if req is None and parent is not None:
            req = self.spans[parent][4]
        span = [name, time.perf_counter(), None, parent, req]
        self.spans.append(span)
        idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def end(self, idx: int | None) -> None:
        if idx is None:
            return
        self.spans[idx][2] = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] == idx:
            stack.pop()

    def span(self, name: str, req: object = None):
        tracer = self

        class _Span:
            def __enter__(self):
                self.idx = tracer.begin(name, req)
                return self

            def __exit__(self, *exc):
                tracer.end(self.idx)

        return _Span()

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            idx = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(idx)

        traced.__wrapped__ = fn
        return traced

    def self_times(self) -> dict[str, dict[str, float]]:
        """Per span name: count, total seconds and self seconds (duration
        minus the part covered by child spans)."""
        child = defaultdict(float)
        for name, start, end, parent, _ in self.spans:
            if parent is not None and end is not None:
                child[parent] += end - start
        out: dict[str, dict[str, float]] = {}
        for i, (name, start, end, _, _) in enumerate(self.spans):
            if end is None:
                continue
            agg = out.setdefault(name, {"count": 0, "total_s": 0.0, "self_s": 0.0})
            agg["count"] += 1
            agg["total_s"] += end - start
            agg["self_s"] += end - start - child[i]
        return out

    def dump(self) -> list[dict]:
        return [
            {"name": n, "start": s, "end": e, "parent": p, "req": r}
            for n, s, e, p, r in self.spans
        ]


def patch(module, name: str, tracer: Tracer, span: str) -> None:
    """Replace ``module.name`` by a traced wrapper (benchmark process only)."""
    setattr(module, name, tracer.wrap(span, getattr(module, name)))


class SparkCounters:
    """Process-wide Spark counters read before and after a window:
    codegen compiles and compile time, JVM GC time, and the jobs, stages,
    tasks and stage metrics the status store holds for jobs that ran in
    between."""

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._compile_ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._gc = list(jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())
        self._store = spark.sparkContext._jsc.sc().statusStore()

    def _max_job(self) -> int:
        jobs = self._store.jobsList(None)  # newest first
        return -1 if jobs.isEmpty() else jobs.head().jobId()

    def snapshot(self) -> dict:
        return {
            "compiles": self._codegen.getCount(),
            "compile_ns": self._compile_ns.compileTime(),
            "gc_ms": sum(b.getCollectionTime() for b in self._gc),
            "max_job": self._max_job(),
        }

    def delta(self, before: dict, skip: set[int] = frozenset()) -> dict:
        """Counter changes since ``before``; jobs in ``skip`` (output
        checks) are left out of the job and stage totals."""
        after = self.snapshot()
        out = {
            "codegen_compiles": after["compiles"] - before["compiles"],
            "codegen_ms": (after["compile_ns"] - before["compile_ns"]) / 1e6,
            "gc_ms": after["gc_ms"] - before["gc_ms"],
        }
        out.update(self._stage_totals(before["max_job"], after["max_job"], skip))
        return out

    def _stage_totals(self, lo: int, hi: int, skip: set[int]) -> dict:
        tot = defaultdict(float)
        stages: set[int] = set()
        it = self._store.jobsList(None).iterator()
        while it.hasNext():
            job = it.next()
            jid = job.jobId()
            if jid <= lo:
                break
            if jid > hi or jid in skip:
                continue
            tot["jobs"] += 1
            sit = job.stageIds().iterator()
            while sit.hasNext():
                stages.add(sit.next())
        for sid in stages:
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # skipped stages never get an attempt
                continue
            tot["stages"] += 1
            tot["tasks"] += st.numCompleteTasks()
            tot["stage_run_s"] += st.executorRunTime() / 1e3
            tot["stage_cpu_s"] += st.executorCpuTime() / 1e9
            tot["scan_bytes"] += st.inputBytes()
            tot["output_bytes"] += st.outputBytes()
        for key in ("jobs", "stages", "tasks", "stage_run_s", "stage_cpu_s", "scan_bytes", "output_bytes"):
            tot.setdefault(key, 0.0)
        return dict(tot)


class PhaseListener:
    """Sums Catalyst analysis, optimization and planning time.

    With ``listen`` it registers as a QueryExecutionListener (via the py4j
    callback server) and adds every finished action except those whose
    function name is in ``ignore`` (e.g. the output checks' ``collect``).
    ``record_qe`` adds the phases of a QueryExecution the listener does
    not see (toLocalIterator runs outside withAction)."""

    PHASES = ("analysis", "optimization", "planning")

    def __init__(self, spark, listen: bool = True, ignore: frozenset = frozenset()) -> None:
        self.lock = threading.Lock()
        self.totals = defaultdict(float)
        self.actions = 0
        self.ignore = ignore
        if listen:
            from pyspark.java_gateway import ensure_callback_server_started

            ensure_callback_server_started(spark.sparkContext._gateway)
            spark._jsparkSession.listenerManager().register(self)

    def reset(self) -> None:
        with self.lock:
            self.totals.clear()
            self.actions = 0

    def record_qe(self, qe) -> None:
        phases = qe.tracker().phases()
        with self.lock:
            self.actions += 1
            for key in self.PHASES:
                opt = phases.get(key)
                if opt.isDefined():
                    self.totals[key] += opt.get().durationMs()

    def per_op(self, ops: int) -> dict:
        return {f"spark.{k}_ms": self.totals[k] / max(1, ops) for k in self.PHASES}

    def onSuccess(self, func, qe, duration_ns):  # noqa: N802 (JVM interface)
        if func not in self.ignore:
            self.record_qe(qe)

    def onFailure(self, func, qe, exc):  # noqa: N802 (JVM interface)
        pass  # a failed action fails its operation's output check

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def progress_listener(spark):
    """Register a StreamingQueryListener that keeps every progress event
    as a dict; returns the list it appends to."""
    import json

    from pyspark.sql.streaming import StreamingQueryListener

    events: list[dict] = []

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):  # noqa: N802
            pass

        def onQueryProgress(self, event):  # noqa: N802
            events.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    spark.streams.addListener(_Listener())
    return events


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _mem_kb(pid: int) -> tuple[int, int]:
    """(RSS, PSS) of one process in KiB; PSS splits each shared page
    among the processes mapping it."""
    rss = pss = 0
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Rss:"):
                    rss = int(line.split()[1])
                elif line.startswith("Pss:"):
                    pss = int(line.split()[1])
    except (OSError, IndexError, ValueError):
        pass
    return rss, pss


class RssSampler:
    """Samples the summed resident memory of this process and its
    descendants (the JVM and its Python workers) every ``interval``
    seconds; ``exclude`` names pids whose subtrees are not part of the
    system under test.  Keeps the peak of summed PSS, which counts a page
    shared by forked workers once, and of summed RSS, which counts it
    once per worker."""

    def __init__(self, interval: float = 1.0) -> None:
        self.interval = interval
        self.exclude: set[int] = set()
        self.peak_kb = 0
        self.peak_rss_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        kids = _children_map()
        rss = pss = 0
        todo = [os.getpid()]
        while todo:
            pid = todo.pop()
            if pid in self.exclude:
                continue
            r, p = _mem_kb(pid)
            rss += r
            pss += p
            todo.extend(kids.get(pid, ()))
        self.peak_kb = max(self.peak_kb, pss)
        self.peak_rss_kb = max(self.peak_rss_kb, rss)
        return pss

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return self.peak_kb / 1024.0


def calibration() -> float:
    """Seconds for a fixed single-thread CPU micro-workload (sha256
    chaining plus integer sorting); lets artifacts from different hosts
    or load levels be told apart."""
    import hashlib

    t0 = time.perf_counter()
    h = b"perfbench"
    for _ in range(200_000):
        h = hashlib.sha256(h).digest()
    sorted((i * 7919) % 100_003 for i in range(300_000))
    return time.perf_counter() - t0
