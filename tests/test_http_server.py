"""HTTP contract tests mirroring the reference's chai suite
(app/server/test/index.js:25-81) plus a Spark-backed e2e:

1. GET /records?streamname=... -> 200 JSON array, stubbed producer
   (their proxyquire'd kinesisReader stub = our injected records_fn);
2. GET /INVALID_PATH -> 404;
3. GET /records (no streamname) -> 400 with {badRequest: true,
   missingRequiredParams: [...], invalidParams: [...]};
plus: invalid param -> 400, runtime failure -> 400 error envelope
(index.js:65-72), the real pipeline over live HTTP, the Spark work one
request runs, freshness across an appended part file, and the access
log line.
"""

from __future__ import annotations

import json
import logging
import time
import urllib.error
import urllib.request
from datetime import timedelta

import pytest

from kinesis_stream_reader_spark.http_server import (
    RecordsApp,
    response_limit,
    serve,
    spark_records_fn,
)

TEST_DATA = [{"record": 1}, {"record": 2}, {"record": 3}]


@pytest.fixture()
def stub_app():
    return RecordsApp(lambda query: TEST_DATA)


def _get(port: int, path: str):
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}") as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as err:
        return err.code, json.loads(err.read())


def test_ok_with_data(stub_app):
    status, body = stub_app.handle("/records", {"streamname": "test-stream"})
    assert status == 200
    assert isinstance(body, list)
    assert body == TEST_DATA  # test/index.js:38-49


def test_not_found(stub_app):
    status, _ = stub_app.handle("/INVALID_PATH", {})
    assert status == 404  # test/index.js:53-62


def test_missing_streamname_is_bad_request(stub_app):
    status, body = stub_app.handle("/records", {})
    assert status == 400  # test/index.js:65-80
    assert body["badRequest"] is True
    assert body["missingRequiredParams"] == ["streamname"]
    assert body["invalidParams"] == []


def test_invalid_param_is_bad_request(stub_app):
    status, body = stub_app.handle(
        "/records", {"streamname": "s", "nope": "1"}
    )
    assert status == 400
    assert body["badRequest"] is True
    assert body["invalidParams"] == ["nope"]


def test_runtime_failure_becomes_error_envelope():
    def boom(query):
        raise RuntimeError("InvalidStreamNameException")

    app = RecordsApp(boom)
    status, body = app.handle("/records", {"streamname": "nope"})
    assert status == 400  # index.js:65-72
    assert body["badRequest"] is True
    assert "InvalidStreamNameException" in body["error"]


def test_live_http_roundtrip_with_stub(stub_app):
    server = serve(stub_app)
    port = server.server_address[1]
    try:
        assert _get(port, "/records?streamname=test-stream") == (200, TEST_DATA)
        status, _ = _get(port, "/INVALID_PATH")
        assert status == 404
        status, body = _get(port, "/records")
        assert status == 400 and body["badRequest"] is True
    finally:
        server.shutdown()


def test_limit_param_is_allowed_and_bounds():
    """Engine extension: `limit` is in the allowed set (no 400) and
    response_limit resolves min(requested, ceiling)."""
    app = RecordsApp(lambda query: TEST_DATA[: response_limit(query, 2)])
    status, body = app.handle("/records", {"streamname": "s", "limit": "1"})
    assert (status, body) == (200, TEST_DATA[:1])
    # no limit param -> ceiling applies
    status, body = app.handle("/records", {"streamname": "s"})
    assert (status, body) == (200, TEST_DATA[:2])
    # requested limit can never RAISE the ceiling
    status, body = app.handle("/records", {"streamname": "s", "limit": "99"})
    assert (status, body) == (200, TEST_DATA[:2])


def test_limit_param_malformed_is_400_envelope():
    app = RecordsApp(lambda query: TEST_DATA[: response_limit(query)])
    for bad in ("abc", "0", "-5"):
        status, body = app.handle("/records", {"streamname": "s", "limit": bad})
        assert status == 400
        assert body["badRequest"] is True
        assert "error" in body


def test_default_ceiling_bounds_unbounded_producer():
    """A producer yielding an unbounded stream must still return at most
    MAX_RESPONSE_ROWS — the reference's whole-window-in-one-heap failure
    mode (responses/index.js:34) cannot happen here."""
    from itertools import count, islice

    from kinesis_stream_reader_spark.schema import MAX_RESPONSE_ROWS

    def endless(query):
        cap = response_limit(query)
        return [{"record": i} for i in islice(count(), cap)]

    app = RecordsApp(endless)
    status, body = app.handle("/records", {"streamname": "s"})
    assert status == 200
    assert len(body) == MAX_RESPONSE_ROWS


def test_spark_records_fn_limit(spark, sf_dir):
    """The Spark producer honors the per-request limit end-to-end: the
    plan's `.limit()` under collect() is a CollectLimit take, so no more
    than the limit of rows reaches the driver."""
    fn = spark_records_fn(spark, sf_dir)
    rows = fn({"streamname": "events", "duration": "960", "limit": "5"})
    assert len(rows) == 5
    unlimited = fn({"streamname": "events", "duration": "960"})
    assert len(unlimited) <= 10_000


def test_live_http_spark_pipeline(spark, sf_dir):
    """The full engine pipeline behind real HTTP: same result set as
    the records_pipeline plan, same flat-id shape, CORS header set."""
    from kinesis_stream_reader_spark.operators.events import flatten_ids, to_nested
    from kinesis_stream_reader_spark.plans.pipeline import records_plan
    from kinesis_stream_reader_spark.sources.tables import load_events

    server = serve(RecordsApp(spark_records_fn(spark, sf_dir)))
    port = server.server_address[1]
    try:
        url = (
            f"http://127.0.0.1:{port}/records"
            "?streamname=events&duration=960&serverName=SERVER-click"
        )
        with urllib.request.urlopen(url) as resp:
            assert resp.status == 200
            assert resp.headers["Access-Control-Allow-Origin"] == "*"
            body = json.loads(resp.read())
        want = [
            r.asDict()
            for r in flatten_ids(
                records_plan(
                    to_nested(load_events(spark, sf_dir)),
                    {"streamname": "events", "duration": "960",
                     "serverName": "SERVER-click"},
                )
            ).collect()
        ]
        key = lambda d: d["event_id"]  # noqa: E731
        assert sorted(body, key=key) == sorted(want, key=key)
        assert len(body) > 0
    finally:
        server.shutdown()


def _executed_plan(spark, job_id: int) -> str:
    """Physical plan description of the SQL execution that ran `job_id`."""
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    for i in range(executions.size() - 1, -1, -1):
        execution = executions.apply(i)
        if execution.jobs().contains(job_id):
            return execution.physicalPlanDescription()
    raise AssertionError(f"no SQL execution ran job {job_id}")


def test_spark_records_fn_runs_one_job_with_pushed_window(spark, sf_dir):
    """Once the per-version state is built, a request runs one Spark job,
    and its literal window bound is pushed into the parquet scan."""
    sc = spark.sparkContext
    fn = spark_records_fn(spark, sf_dir)
    query = {"streamname": "events", "duration": "960"}
    fn(query)  # warm: builds the nested plan and the anchor
    group = "records_one_request"
    sc.setJobGroup(group, group)
    try:
        assert fn(query)
    finally:
        sc.setJobGroup("", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 1
    scans = [
        line for line in _executed_plan(spark, jobs[0]).splitlines()
        if "PushedFilters" in line
    ]
    assert scans and all("GreaterThanOrEqual(ts," in line for line in scans)


def test_spark_records_fn_follows_appended_part(spark, sf_dir, tmp_path):
    """A part file appended to events.parquet moves the window anchor:
    the next response holds the newest events and drops the rows that
    fell out of the 960-minute window."""
    from pyspark.sql import functions as F

    from kinesis_stream_reader_spark.sources.tables import load_events

    events = load_events(spark, sf_dir)
    path = str(tmp_path / "events.parquet")
    events.coalesce(1).write.parquet(path)
    fn = spark_records_fn(spark, str(tmp_path))
    query = {"streamname": "events", "duration": "960"}
    before = {r["event_id"] for r in fn(query)}

    first_new_id = events.agg(F.max("event_id")).first()[0] + 1
    later = events.withColumn("event_id", F.col("event_id") + first_new_id)
    later = later.withColumn("ts", F.col("ts") + F.expr("INTERVAL 12 HOURS"))
    later.coalesce(1).write.mode("append").parquet(path)
    after = {r["event_id"] for r in fn(query)}

    rows = load_events(spark, str(tmp_path)).select("event_id", "ts").collect()
    newest = max(rows, key=lambda r: r["ts"])
    cutoff = newest["ts"] - timedelta(minutes=960)
    assert after == {r["event_id"] for r in rows if r["ts"] >= cutoff}
    assert newest["event_id"] >= first_new_id and newest["event_id"] in after
    assert before - after  # rows now outside the window are gone


def test_spark_records_fn_empty_events(spark, empty_dir):
    """An empty events table has a NULL anchor, so the window predicate
    is NULL and every request returns no rows."""
    fn = spark_records_fn(spark, empty_dir)
    query = {"streamname": "events", "duration": "960"}
    assert fn(query) == []
    for param, value in (
        ("contactId", "1"),
        ("agentId", "10"),
        ("serverName", "Server-click"),
        ("tenantId", "1"),
        ("agentShiftId", "1"),
    ):
        assert fn({**query, param: value}) == []


def test_access_log_line_per_request(stub_app, caplog):
    """One JSON access line per request: path, status, rows, ms."""
    logger = "kinesis_stream_reader_spark.http_server"
    caplog.set_level(logging.INFO, logger=logger)
    server = serve(stub_app)
    port = server.server_address[1]
    try:
        assert _get(port, "/records?streamname=s")[0] == 200
        assert _get(port, "/records")[0] == 400
        # the handler thread logs after writing the response
        deadline = time.monotonic() + 5
        while len(caplog.records) < 2 and time.monotonic() < deadline:
            time.sleep(0.01)
    finally:
        server.shutdown()
    lines = sorted(
        (json.loads(r.getMessage()) for r in caplog.records if r.name == logger),
        key=lambda line: line["status"],
    )
    assert [(x["path"], x["status"], x["rows"]) for x in lines] == [
        ("/records", 200, len(TEST_DATA)),
        ("/records", 400, 0),
    ]
    assert all(set(x) == {"path", "status", "rows", "ms"} and x["ms"] >= 0 for x in lines)
