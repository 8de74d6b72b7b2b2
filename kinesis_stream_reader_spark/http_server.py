"""HTTP front door: GET /records, the reference's one route.

Mirrors app/server/index.js end-to-end over the engine:

- route + param contract: index.js:43-73 (allowed/required params,
  validator envelope on 400, JSON array on 200);
- duration -> AT_TIMESTAMP lower bound with the 960-minute clamp:
  index.js:28-34 (the engine's with_data_relative_window twin);
- runtime failures -> {badRequest: true, error: <message>} with 400
  (index.js:65-72, responses/index.js:26-54);
- unknown paths -> 404 like Express's default handler (test/index.js:
  53-62 asserts only the status).

The handler core is a pure function (status, body) so the contract
tests run without sockets; `serve` wraps it in a stdlib ThreadingHTTP
server for real HTTP (test/index.js-style e2e). The record producer is
injected exactly like the reference's proxyquire'd kinesisReader stub —
the Spark-backed producer closes over (spark, sf_dir) and runs the
records pipeline; its collect() is the API response materialization,
bounded by the clamped window and the response limit. Each request
writes one JSON access line (path, status, rows, ms) to the
`kinesis_stream_reader_spark.http_server` logger at INFO.
"""

from __future__ import annotations

import json
import logging
import threading
import time
from collections.abc import Callable, Mapping
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlsplit

from .api import QueryParamValidator, error_envelope

RecordsFn = Callable[[Mapping[str, str]], list[dict]]

_access_log = logging.getLogger(__name__)


class RecordsApp:
    """The /records route as a pure handler: (path, query) -> (status,
    body). `records_fn` plays kinesisReader.getRecords + objectFilter
    (the engine pipeline does both in one plan)."""

    def __init__(self, records_fn: RecordsFn) -> None:
        self.records_fn = records_fn
        self.validator = QueryParamValidator()

    def handle(self, path: str, query: Mapping[str, str]) -> tuple[int, object]:
        if path != "/records":
            # Express's default 404 body is text; the reference test
            # asserts only the status (test/index.js:53-62)
            return 404, {"error": f"Cannot GET {path}"}
        status = self.validator.validate_params(query)
        if status.badRequest:
            return 400, status.to_dict()  # index.js:52-55
        try:
            return 200, list(self.records_fn(query))  # responses ok: 200 array
        except Exception as exc:  # index.js:65-72
            return 400, error_envelope(str(exc))


def response_limit(query: Mapping[str, str], ceiling: int | None = None) -> int:
    """Resolve the per-request row bound: min(requested `limit`,
    MAX_RESPONSE_ROWS) — the request can lower the ceiling, never raise
    it. Non-positive / non-integer values raise ValueError, which the
    route maps to the reference's 400 runtime envelope."""
    from .schema import MAX_RESPONSE_ROWS

    cap = ceiling if ceiling is not None else MAX_RESPONSE_ROWS
    raw = query.get("limit")
    if raw is None:
        return cap
    n = int(raw)  # ValueError -> 400 error_envelope upstream
    if n <= 0:
        raise ValueError(f"limit must be a positive integer, got {raw!r}")
    return min(n, cap)


def _events_version(spark, sf_dir: str) -> tuple:
    """Version key of the events table: the sorted (path, length,
    modificationTime) of a Hadoop listStatus on events.parquet — a single
    file or a directory of parts, on any filesystem Spark reads. An
    appended, replaced or removed part file changes the key."""
    path = spark._jvm.org.apache.hadoop.fs.Path(f"{sf_dir}/events.parquet")
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return tuple(
        sorted(
            (st.getPath().toString(), st.getLen(), st.getModificationTime())
            for st in fs.listStatus(path)
        )
    )


def spark_records_fn(spark, sf_dir: str, max_rows: int | None = None) -> RecordsFn:
    """The engine-backed producer: nested projection -> duration window
    (960-min clamp) -> conjunctive filters -> flat id rows, i.e. the
    whole reference pipeline as one Catalyst plan per request.

    Per-version state: the nested projection (read, schema inferred and
    analyzed once) and the window anchor, max(event_time) as exact epoch
    microseconds held as a literal, are rebuilt only when the events
    version key (_events_version) changes; the check and rebuild run
    under one lock, since ThreadingHTTPServer serves requests
    concurrently. A request lists the events path, then builds and runs
    only its own window and filters: the literal anchor is pushed into
    the parquet scan (row-group skipping), and the request runs as one
    Spark job. A NULL anchor (empty table) makes the window NULL, so
    every request returns [].

    Bounded materialization (the reference's failure mode is the whole
    8 h window in one Node heap, responses/index.js:34): `.limit(cap)`
    under collect() is planned as a CollectLimit take, so at most the
    resolved limit of rows ever reaches the driver."""
    from pyspark.sql import functions as F

    from .operators.events import flatten_ids, to_nested
    from .plans.pipeline import records_plan
    from .sources.tables import load_events

    lock = threading.Lock()
    state: dict = {}

    def source():
        with lock:
            key = _events_version(spark, sf_dir)
            if state.get("key") != key:
                nested = to_nested(load_events(spark, sf_dir))
                anchor_us = nested.agg(F.unix_micros(F.max("event_time"))).first()[0]
                now = F.timestamp_micros(F.lit(anchor_us))
                state.update(key=key, nested=nested, now=now)
            return state["nested"], state["now"]

    def fn(query: Mapping[str, str]) -> list[dict]:
        cap = response_limit(query, max_rows)
        nested, now = source()
        out = flatten_ids(records_plan(nested, dict(query), now)).limit(cap)
        return [row.asDict() for row in out.collect()]

    return fn


class _Handler(BaseHTTPRequestHandler):
    app: RecordsApp  # set by serve()

    def do_GET(self) -> None:  # noqa: N802 (stdlib naming)
        t0 = time.perf_counter()
        parts = urlsplit(self.path)
        query = {k: v[0] for k, v in parse_qs(parts.query).items()}
        status, body = self.app.handle(parts.path, query)
        payload = json.dumps(body).encode()
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(payload)))
        # index.js:82 app.use(cors())
        self.send_header("Access-Control-Allow-Origin", "*")
        self.end_headers()
        self.wfile.write(payload)
        _access_log.info(
            json.dumps(
                {
                    "path": parts.path,
                    "status": status,
                    "rows": len(body) if isinstance(body, list) else 0,
                    "ms": round((time.perf_counter() - t0) * 1e3, 3),
                }
            )
        )

    def log_message(self, *args) -> None:
        pass  # the stdlib's stderr line; do_GET logs the structured one


def serve(app: RecordsApp, port: int = 0) -> ThreadingHTTPServer:
    """Start the server on `port` (0 = ephemeral) in a daemon thread;
    returns the server (use .server_address[1] for the bound port,
    .shutdown() to stop). The reference binds 4000 (index.js:80)."""
    handler = type("BoundHandler", (_Handler,), {"app": app})
    server = ThreadingHTTPServer(("127.0.0.1", port), handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    return server
