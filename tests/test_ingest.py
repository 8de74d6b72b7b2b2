"""Branch coverage for KPL de-aggregation + JSON parse
(FIXTURES.md §2; kinesisReader/index.js:110-176)."""

from __future__ import annotations

import base64
import json
import os
import shutil

from pyspark.sql import Row

from kinesis_stream_reader_spark.operators.ingest import (
    deagg_explode,
    json_parse,
    kpl_decode,
    kpl_encode,
)
from kinesis_stream_reader_spark.schema import KPL_MAGIC
from kinesis_stream_reader_spark.sources.tables import load_table


def test_kpl_roundtrip():
    payloads = [b'{"a": 1}', b'{"a": 2}', b'{"a": 3}']
    blob = kpl_encode(payloads)
    assert blob[:4] == KPL_MAGIC
    decoded = kpl_decode(blob)
    assert [base64.b64decode(d) for d in decoded] == payloads


def test_corrupt_aggregate_silently_drops():
    # kinesisReader/index.js:163-164 — decode failure emits nothing
    blob = KPL_MAGIC + b"\xff\xff\xff garbage" + b"\x00" * 16
    assert kpl_decode(blob) == []


def test_checksum_mismatch_drops():
    blob = bytearray(kpl_encode([b"x"]))
    blob[-1] ^= 0xFF
    assert kpl_decode(bytes(blob)) == []
    # reference skips the check when computeChecksums=false
    assert kpl_decode(bytes(blob), verify_checksum=False) != []


def test_non_kpl_passthrough():
    # kinesisReader/index.js:166-174 — single record, base64-wrapped
    raw = b'{"plain": true}'
    assert kpl_decode(raw) == [base64.b64encode(raw).decode()]


def test_deagg_default_skips_checksum_like_reference(spark):
    # production call site passes computeChecksums=false
    # (kinesisReader/index.js:31): bad checksum still decodes
    blob = bytearray(kpl_encode([b'{"k": 9}']))
    blob[-1] ^= 0xFF
    df = spark.createDataFrame([Row(seq=1, data=bytes(blob))], "seq INT, data BINARY")
    assert deagg_explode(df).count() == 1                       # default: decoded
    assert deagg_explode(df, verify_checksums=True).count() == 0  # strict: dropped


def test_deagg_explode_mixed(spark):
    rows = [
        Row(seq=1, data=kpl_encode([b'{"k": 1}', b'{"k": 2}'])),     # 2 rows
        Row(seq=2, data=b'{"k": 3}'),                                # passthrough
        Row(seq=3, data=KPL_MAGIC + b"\x99bad" + b"\x00" * 16),      # dropped
        Row(seq=4, data=b"not json at all"),                         # passthrough, corrupt JSON
    ]
    df = spark.createDataFrame(rows, "seq INT, data BINARY")
    out = json_parse(deagg_explode(df)).orderBy("seq", "k").collect()
    assert [(r.seq, r.k, r["INVALID JSON"]) for r in out] == [
        (1, 1, None),
        (1, 2, None),
        (2, 3, None),
        (4, None, "not json at all"),  # {"INVALID JSON": raw} fallback
    ]


def test_payload_order_preserved():
    payloads = [json.dumps({"i": i}).encode() for i in range(20)]
    decoded = kpl_decode(kpl_encode(payloads))
    assert [json.loads(base64.b64decode(d))["i"] for d in decoded] == list(range(20))


def test_raw_cache_without_success_marker_repacks(spark, sf_dir):
    """A cache directory a failed pack left behind (no `_SUCCESS`) is
    repacked, not read: reading it fails with UNABLE_TO_INFER_SCHEMA."""
    from kinesis_stream_reader_spark.sources.raw import kpl_raw_records, raw_cache_dir

    group_size = 37  # a cache key no other test shares
    cache_dir = raw_cache_dir(sf_dir, group_size)
    shutil.rmtree(cache_dir, ignore_errors=True)
    os.makedirs(cache_dir)
    got = kpl_raw_records(spark, sf_dir, group_size).orderBy("agg_id").collect()
    want = kpl_raw_records(spark, sf_dir, group_size, cache=False).orderBy("agg_id").collect()
    assert got and got == want
    assert os.path.isfile(os.path.join(cache_dir, "_SUCCESS"))


def test_pyds_fixture_without_marker_rebuilds(spark, sf_dir):
    """A shard directory a failed dump left behind (no completion marker)
    is cleared and rebuilt, not read as complete: the Python DataSource
    backfill returns every event."""
    from kinesis_stream_reader_spark.registry import r1_parity_ext

    shard_dir = r1_parity_ext._pyds_shard_dir(sf_dir)
    shutil.rmtree(shard_dir, ignore_errors=True)
    os.makedirs(shard_dir)
    got = r1_parity_ext.source_python_backfill_query(spark, sf_dir)
    want = load_table(spark, sf_dir, "events")
    assert sorted(r.event_id for r in got.collect()) == sorted(
        r.event_id for r in want.select("event_id").collect()
    )
    assert os.path.isfile(os.path.join(shard_dir, "_COMPLETE"))
