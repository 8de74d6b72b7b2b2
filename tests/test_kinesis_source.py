"""Kinesis source parity tests against a recorded-wire fake client.

The live connector jar and real AWS are unavailable in this sandbox, so
the reference's request/response contract (kinesisReader/index.js:11-108)
is exercised through `sources.kinesis.fetch_records` driving a fake
boto3-shaped client whose pages replay the reference's observable
behavior: AT_TIMESTAMP iterator positioning, Limit=100 paging via
NextShardIterator, the drain-until-(caught-up AND empty) stop rule, and
the InvalidStreamNameException error path. The decoded payloads then run
the SAME deagg/json pipeline the streaming source feeds.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import pytest

from kinesis_stream_reader_spark.operators.ingest import kpl_decode, kpl_encode
from kinesis_stream_reader_spark.sources.kinesis import (
    FETCH_LIMIT,
    InvalidStreamNameError,
    fetch_records,
    records_dataframe,
)


class FakeKinesis:
    """Single-shard recorded-wire Kinesis: a list of (arrival_ts, data)
    records; iterators are plain integer offsets encoded as strings.
    `lag_pages` simulates MillisBehindLatest > 0 responses: the first N
    pages report lag even when they return rows (the reference must
    keep paging on either signal, index.js:39)."""

    def __init__(self, records, lag_pages: int = 0, empty_lag_pages: int = 0):
        self.records = records  # list[(datetime, bytes)]
        self.lag_pages = lag_pages
        self.empty_lag_pages = empty_lag_pages
        self.calls: list[tuple] = []

    def get_shard_iterator(self, *, StreamName, ShardId, ShardIteratorType, Timestamp):
        self.calls.append(("get_shard_iterator", StreamName, ShardId, ShardIteratorType))
        if StreamName != "events":
            raise RuntimeError("ResourceNotFoundException")
        assert ShardId == "0"  # index.js:77 — the reference is single-shard
        assert ShardIteratorType == "AT_TIMESTAMP"
        # "If a record with this exact timestamp does not exist, the
        # iterator returned is for the next (later) record" (index.js:62-65)
        pos = next(
            (i for i, (ts, _) in enumerate(self.records) if ts >= Timestamp),
            len(self.records),
        )
        return {"ShardIterator": str(pos)}

    def get_records(self, *, ShardIterator, Limit):
        self.calls.append(("get_records", ShardIterator, Limit))
        assert Limit == FETCH_LIMIT  # index.js:22
        pos = int(ShardIterator)
        if self.empty_lag_pages > 0:
            # caught up on data but the stream reports lag: the
            # reference keeps polling (MillisBehindLatest !== 0)
            self.empty_lag_pages -= 1
            return {
                "Records": [],
                "NextShardIterator": ShardIterator,
                "MillisBehindLatest": 1500,
            }
        batch = self.records[pos : pos + Limit]
        behind = 0 if pos + len(batch) >= len(self.records) else 4200
        if self.lag_pages > 0:
            self.lag_pages -= 1
            behind = max(behind, 1)
        return {
            "Records": [{"Data": data} for _, data in batch],
            "NextShardIterator": str(pos + len(batch)),
            "MillisBehindLatest": behind,
        }


def _mk_records(n: int, start_hour: int = 0):
    return [
        (
            datetime(2024, 1, 1, start_hour + i // 60, i % 60, tzinfo=timezone.utc),
            b'{"k": %d}' % i,
        )
        for i in range(n)
    ]


def test_at_timestamp_positions_iterator():
    """Records strictly older than the timestamp never appear —
    the AT_TIMESTAMP bound the /records `duration` param maps to."""
    records = _mk_records(300)
    fake = FakeKinesis(records)
    cutoff = records[120][0]
    got = list(fetch_records(fake, "events", cutoff))
    assert got == [data for ts, data in records if ts >= cutoff]


def test_pages_follow_next_shard_iterator():
    """250 records at Limit=100 -> 3 data pages + the terminal empty
    page, chained via NextShardIterator."""
    records = _mk_records(250)
    fake = FakeKinesis(records)
    got = list(fetch_records(fake, "events", records[0][0]))
    assert len(got) == 250
    fetch_calls = [c for c in fake.calls if c[0] == "get_records"]
    # pages: 100, 100, 50(caught up, non-empty -> keeps paging), 0(stop)
    assert len(fetch_calls) == 4
    assert [c[1] for c in fetch_calls] == ["0", "100", "200", "250"]


def test_drains_until_caught_up_and_empty():
    """MillisBehindLatest > 0 with empty Records must NOT stop the
    loop (index.js:39: `!== 0 || length !== 0`)."""
    records = _mk_records(50)
    fake = FakeKinesis(records, empty_lag_pages=2)
    got = list(fetch_records(fake, "events", records[0][0]))
    assert len(got) == 50
    fetch_calls = [c for c in fake.calls if c[0] == "get_records"]
    # 2 empty-but-lagging polls + 1 data page (caught up, non-empty)
    # + the terminal empty caught-up page
    assert len(fetch_calls) == 4


def test_invalid_stream_name_raises():
    fake = FakeKinesis(_mk_records(3))
    with pytest.raises(InvalidStreamNameError):
        list(fetch_records(fake, "no-such-stream", datetime(2024, 1, 1)))


def test_kpl_wire_roundtrip_through_fetch(spark):
    """End-to-end parity: KPL aggregates fetched via the drain loop,
    exploded and parsed by the engine pipeline, reproduce the original
    payloads — the full kinesisReader getRecords->deaggregate->JSON
    path on recorded wire bytes."""
    from pyspark.sql import functions as F

    from kinesis_stream_reader_spark.operators.ingest import deagg_explode, json_parse

    payloads = [b'{"k": %d}' % i for i in range(130)]
    # 3 KPL aggregates of 50/50/30 user records + 2 passthrough records
    wire = [
        (datetime(2024, 1, 1, 0, i, tzinfo=timezone.utc), blob)
        for i, blob in enumerate(
            [
                kpl_encode(payloads[:50]),
                kpl_encode(payloads[50:100]),
                kpl_encode(payloads[100:]),
                b'{"k": 1000}',
                b"not json at all",
            ]
        )
    ]
    fake = FakeKinesis(wire)
    df = records_dataframe(spark, fake, "events", wire[0][0])
    parsed = json_parse(deagg_explode(df), schema="k BIGINT")
    rows = parsed.select("k", F.col("INVALID JSON").alias("bad")).collect()
    ks = sorted(r.k for r in rows if r.k is not None)
    assert ks == sorted([*range(130), 1000])
    assert [r.bad for r in rows if r.bad is not None] == ["not json at all"]


def test_connector_builder_gated(spark):
    """The structured-streaming builder path: without the connector jar
    the builder must fail with the documented gate, not an opaque
    AnalysisException."""
    from kinesis_stream_reader_spark.sources.kinesis import kinesis_stream

    with pytest.raises(RuntimeError, match="Kinesis connector not available"):
        kinesis_stream(spark, "events", "us-west-2", datetime(2024, 1, 1))


def test_kpl_decode_matches_reference_unit_vectors():
    """kpl_decode against hand-assembled wire vectors mirroring
    kinesisReader/index.js:120-176: magic+protobuf+md5 explodes,
    corrupt aggregate silently drops, non-KPL passes through."""
    import base64

    payloads = [b"alpha", b"beta"]
    blob = kpl_encode(payloads)
    assert [base64.b64decode(p) for p in kpl_decode(blob)] == payloads
    # corrupt the protobuf body -> silent [] (index.js:163-164)
    corrupt = blob[:6] + b"\xff\xff" + blob[8:]
    assert kpl_decode(corrupt, verify_checksum=True) == []
    # non-KPL passthrough keeps bytes verbatim
    assert [base64.b64decode(p) for p in kpl_decode(b"plain")] == [b"plain"]


def test_python_datasource_backfill(spark, tmp_path):
    """Spark 4 Python DataSource: shard files -> kinesis_backfill
    format -> one partition per shard, executor-side reads, KPL decode
    roundtrip through the standard ingestion pipeline."""
    from pyspark.sql import functions as F

    from kinesis_stream_reader_spark.operators.ingest import deagg_explode, json_parse
    from kinesis_stream_reader_spark.sources.python_source import (
        KinesisBackfillDataSource,
        write_shard_file,
    )

    spark.dataSource.register(KinesisBackfillDataSource)
    payloads = [b'{"k": %d}' % i for i in range(120)]
    write_shard_file(str(tmp_path / "shard-0.jsonl"), [kpl_encode(payloads[:60])])
    write_shard_file(
        str(tmp_path / "shard-1.jsonl"), [kpl_encode(payloads[60:]), b'{"k": 777}']
    )
    df = spark.read.format("kinesis_backfill").option("path", str(tmp_path)).load()
    assert df.rdd.getNumPartitions() == 2  # one per shard
    assert {r.shard_id for r in df.select("shard_id").distinct().collect()} == {
        "0",
        "1",
    }
    parsed = json_parse(deagg_explode(df), schema="k BIGINT")
    ks = sorted(r.k for r in parsed.select("k").collect())
    assert ks == sorted([*range(120), 777])


def test_python_datasource_writer_pages_and_manifest(spark, sf_dir):
    """The writer flushes putRecords-sized pages, seals a manifest on
    commit, and the reader round-trips every record."""
    import json as _json
    import os
    import tempfile

    from pyspark.sql import functions as F

    from kinesis_stream_reader_spark.sources.python_source import (
        KinesisBackfillDataSource,
        KinesisWireWriter,
    )

    spark.dataSource.register(KinesisBackfillDataSource)
    df = spark.range(1203).select(
        F.encode(F.col("id").cast("string"), "utf-8").alias("data")
    ).repartition(2)
    out = tempfile.mkdtemp(prefix="ksr_wire_test_")
    df.write.format("kinesis_backfill").option("path", out).mode("append").save()
    manifest = _json.load(open(os.path.join(out, "_MANIFEST.json")))
    assert manifest["n_records"] == 1203
    shard_files = [f for f in os.listdir(out) if f.startswith("shard-")]
    assert sorted(os.path.join(out, f) for f in shard_files) == manifest["files"]
    # page accounting: ceil per task at the PutRecords limit
    limit = KinesisWireWriter.PUT_RECORDS_LIMIT
    per_file = []
    for f in shard_files:
        n = sum(1 for _ in open(os.path.join(out, f)))
        per_file.append(n)
    assert sum(per_file) == 1203
    assert manifest["n_pages"] == sum(-(-n // limit) for n in per_file if n)
    back = spark.read.format("kinesis_backfill").option("path", out).load()
    vals = sorted(int(bytes(r.data).decode()) for r in back.collect())
    assert vals == list(range(1203))


def test_wire_writer_abort_leaves_no_manifest_and_rerun_converges(
    spark, tmp_path
):
    """Exactly-once proof for the abort path: kill one task mid-write
    (injected failure in the partition holding id 0), assert the job
    fails WITHOUT sealing _MANIFEST.json (readers treat the directory
    as unpublished) and that successful tasks' shard files were removed
    by DataSourceWriter.abort; then re-run the same write and assert it
    converges to a sealed manifest with every record present."""
    import json as _json
    import os

    import pandas as _pd
    import pytest as _pytest

    from kinesis_stream_reader_spark.sources.python_source import (
        KinesisBackfillDataSource,
    )

    spark.dataSource.register(KinesisBackfillDataSource)
    out = str(tmp_path / "wire_abort")

    def poisoned(df):
        def batches(it):
            for pdf in it:
                if (pdf["id"] == 0).any():
                    raise RuntimeError("injected task failure")
                yield _pd.DataFrame(
                    {"data": [str(i).encode() for i in pdf["id"]]}
                )

        return df.mapInPandas(batches, "data binary")

    base = spark.range(1000).repartition(4)
    with _pytest.raises(Exception, match="injected task failure"):
        poisoned(base).write.format("kinesis_backfill").option(
            "path", out
        ).mode("append").save()
    assert not os.path.exists(os.path.join(out, "_MANIFEST.json"))
    # abort() removed every committed task's file; at most the failed
    # task's partial file may linger (same name, overwritten on re-run)
    leftovers = [f for f in os.listdir(out)] if os.path.exists(out) else []
    assert os.path.join(out, "_MANIFEST.json") not in leftovers

    def clean(df):
        def batches(it):
            for pdf in it:
                yield _pd.DataFrame(
                    {"data": [str(i).encode() for i in pdf["id"]]}
                )

        return df.mapInPandas(batches, "data binary")

    clean(base).write.format("kinesis_backfill").option("path", out).mode(
        "append"
    ).save()
    manifest = _json.load(open(os.path.join(out, "_MANIFEST.json")))
    assert manifest["n_records"] == 1000
    back = spark.read.format("kinesis_backfill").option("path", out).load()
    vals = sorted(int(bytes(r.data).decode()) for r in back.collect())
    assert vals == list(range(1000))


def test_python_stream_source_drains_in_pages(spark, sf_dir, tmp_path):
    """The streaming DataSource must respect offsets: records appended
    AFTER the first drain are picked up by a second drain without
    re-reading the first page (per-shard count offsets)."""
    import base64 as _b64
    import json as _json

    from kinesis_stream_reader_spark.sources.python_source import (
        KinesisBackfillDataSource,
        write_shard_file,
    )

    spark.dataSource.register(KinesisBackfillDataSource)
    d = str(tmp_path / "wire")
    import os as _os

    _os.makedirs(d)
    write_shard_file(f"{d}/shard-0.jsonl", [b"alpha", b"beta"])
    write_shard_file(f"{d}/shard-1.jsonl", [b"gamma"])
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")

    def drain():
        q = (
            spark.readStream.format("kinesis_backfill")
            .option("path", d)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    first = spark.read.parquet(out).collect()
    assert sorted(bytes(r.data) for r in first) == [b"alpha", b"beta", b"gamma"]
    # append one record to shard 0 (simulate new arrivals)
    with open(f"{d}/shard-0.jsonl", "a") as fh:
        fh.write(_json.dumps({"seq": 2, "data": _b64.b64encode(b"delta").decode()}) + "\n")
    drain()
    second = spark.read.parquet(out).collect()
    assert sorted(bytes(r.data) for r in second) == [
        b"alpha", b"beta", b"delta", b"gamma",
    ]
    # exactly-once: the replayed drain added ONLY the new record
    assert len(second) == 4


class TestReshardSource:
    """kinesis_reshard: lineage-chain planning + parent-before-child
    drain order (round 10)."""

    LINEAGE = [
        {"shard_id": "s0", "closed": True},
        {"shard_id": "s2", "parent": "s0"},
        {"shard_id": "s3", "parent": "s0"},
        {"shard_id": "s1a", "closed": True},
        {"shard_id": "s1b", "closed": True},
        {"shard_id": "s4", "parent": "s1a", "adjacent_parent": "s1b"},
    ]

    def _fixture(self, tmp_path):
        from kinesis_stream_reader_spark.sources.python_source import (
            write_reshard_manifest,
            write_reshard_shard_file,
        )

        d = str(tmp_path)
        # split family: key 7 lives in s0 then s2; merge family: key 60
        # lives in s1a then s4, key 80 in s1b then s4
        write_reshard_shard_file(d, "s0", [(1, 7, b"a"), (3, 7, b"b")])
        write_reshard_shard_file(d, "s2", [(10, 7, b"c")])
        write_reshard_shard_file(d, "s3", [(11, 30, b"d")])
        write_reshard_shard_file(d, "s1a", [(2, 60, b"e")])
        write_reshard_shard_file(d, "s1b", [(4, 80, b"f")])
        write_reshard_shard_file(
            d, "s4", [(20, 60, b"g"), (21, 80, b"h")]
        )
        write_reshard_manifest(d, self.LINEAGE)
        return d

    def test_chain_planning(self):
        from kinesis_stream_reader_spark.sources.python_source import (
            plan_lineage_chains,
        )

        chains = plan_lineage_chains(self.LINEAGE)
        assert [c["chain_id"] for c in chains] == ["s0", "s1a"]
        assert chains[0]["shards"] == [("s0", 0), ("s2", 1), ("s3", 1)]
        assert chains[1]["shards"] == [("s1a", 0), ("s1b", 0), ("s4", 1)]

    def test_parent_drains_before_children(self, spark, tmp_path):
        from kinesis_stream_reader_spark.sources.python_source import (
            KinesisReshardDataSource,
        )

        spark.dataSource.register(KinesisReshardDataSource)
        d = self._fixture(tmp_path)
        rows = (
            spark.read.format("kinesis_reshard")
            .option("path", d)
            .load()
            .collect()
        )
        assert len(rows) == 8
        by_shard = {}
        for r in rows:
            by_shard.setdefault(r.shard_id, []).append(r)
        # within each chain, every parent row's emit_idx precedes every
        # child row's (SHARD_END before children — the KCL lease rule)
        assert max(r.emit_idx for r in by_shard["s0"]) < min(
            r.emit_idx for r in by_shard["s2"] + by_shard["s3"]
        )
        assert max(
            r.emit_idx
            for r in by_shard["s1a"] + by_shard["s1b"]
        ) < min(r.emit_idx for r in by_shard["s4"])
        # per-key sequence order along emission order
        for key in (7, 60, 80):
            krows = sorted(
                (r for r in rows if r.partition_key == key),
                key=lambda r: r.emit_idx,
            )
            seqs = [r.sequence_number for r in krows]
            assert seqs == sorted(seqs)
        # generations from topology
        gens = {r.shard_id: r.generation for r in rows}
        assert gens == {
            "s0": 0, "s2": 1, "s3": 1, "s1a": 0, "s1b": 0, "s4": 1,
        }

    def test_expired_parent_is_skipped(self, spark, tmp_path):
        """A manifest-listed parent with no wire file = expired from
        retention (already consumed): descendants still drain in
        lineage order."""
        from kinesis_stream_reader_spark.sources.python_source import (
            KinesisReshardDataSource,
            write_reshard_manifest,
            write_reshard_shard_file,
        )

        spark.dataSource.register(KinesisReshardDataSource)
        d = str(tmp_path)
        write_reshard_shard_file(d, "c1", [(5, 1, b"x")])
        write_reshard_shard_file(d, "c2", [(9, 1, b"y")])
        write_reshard_manifest(
            d,
            [
                {"shard_id": "p", "closed": True},  # no file
                {"shard_id": "c1", "parent": "p", "closed": True},
                {"shard_id": "c2", "parent": "c1"},
            ],
        )
        rows = sorted(
            spark.read.format("kinesis_reshard")
            .option("path", d)
            .load()
            .collect(),
            key=lambda r: r.emit_idx,
        )
        assert [r.shard_id for r in rows] == ["c1", "c2"]
        assert [r.generation for r in rows] == [1, 2]
        assert [r.chain_id for r in rows] == ["c1", "c1"]


def test_stream_reader_admission_control_is_deterministic(spark, tmp_path):
    """maxRecordsPerShardPerBatch slices the drain into deterministic
    per-shard windows anchored on the PLANNED batch end (commit() may
    only fire at the next trigger, after the engine already probed
    latestOffset — anchoring there stalls processAllAvailable after
    one batch)."""
    import tempfile

    from kinesis_stream_reader_spark.sources.python_source import (
        KinesisBackfillDataSource,
        write_shard_file,
    )

    spark.dataSource.register(KinesisBackfillDataSource)
    d = str(tmp_path)
    write_shard_file(os.path.join(d, "shard-a.jsonl"), [b"x"] * 10)
    write_shard_file(os.path.join(d, "shard-b.jsonl"), [b"y"] * 4)
    batches = []

    def obs(df, bid):
        batches.append(
            (
                int(bid),
                sorted(
                    (r.shard_id, r["count"])
                    for r in df.groupBy("shard_id").count().collect()
                ),
            )
        )

    st = (
        spark.readStream.format("kinesis_backfill")
        .option("path", d)
        .option("maxRecordsPerShardPerBatch", "3")
        .load()
    )
    with tempfile.TemporaryDirectory() as ck:
        q = (
            st.writeStream.foreachBatch(obs)
            .option("checkpointLocation", ck)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
    assert batches == [
        (0, [("a", 3), ("b", 3)]),
        (1, [("a", 3), ("b", 1)]),
        (2, [("a", 3)]),
        (3, [("a", 1)]),
    ]


def test_reshard_stream_children_wait_for_parents(spark, tmp_path):
    """Streaming lease rule: a child shard's first batch must come
    after its parent's last; independent chains drain in parallel."""
    import tempfile

    from kinesis_stream_reader_spark.sources.python_source import (
        KinesisReshardDataSource,
        write_reshard_manifest,
        write_reshard_shard_file,
    )

    spark.dataSource.register(KinesisReshardDataSource)
    d = str(tmp_path)
    write_reshard_shard_file(d, "p", [(i, 1, b"x") for i in range(5)])
    write_reshard_shard_file(d, "c1", [(10 + i, 1, b"y") for i in range(4)])
    write_reshard_shard_file(d, "q", [(i, 2, b"z") for i in range(3)])
    write_reshard_manifest(
        d,
        [
            {"shard_id": "p", "closed": True},
            {"shard_id": "c1", "parent": "p"},
            {"shard_id": "q"},
        ],
    )
    batches = []

    def obs(df, bid):
        batches.append(
            (
                int(bid),
                sorted(
                    (r.shard_id, r["count"])
                    for r in df.groupBy("shard_id").count().collect()
                ),
            )
        )

    st = (
        spark.readStream.format("kinesis_reshard")
        .option("path", d)
        .option("maxRecordsPerShardPerBatch", "2")
        .load()
    )
    with tempfile.TemporaryDirectory() as ck:
        q = (
            st.writeStream.foreachBatch(obs)
            .option("checkpointLocation", ck)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
    assert batches == [
        (0, [("p", 2), ("q", 2)]),
        (1, [("p", 2), ("q", 1)]),
        (2, [("p", 1)]),
        (3, [("c1", 2)]),
        (4, [("c1", 2)]),
    ]


def test_reshard_stream_resumes_from_checkpoint_mid_drain(spark, tmp_path):
    """Exactly-once across a restart MID-DRAIN: stop after the first
    micro-batches, restart from the same checkpoint, and the union of
    batches must cover every record exactly once with the lease rule
    still holding (parent rows never after child rows)."""
    import os as _os
    import tempfile

    from kinesis_stream_reader_spark.sources.python_source import (
        KinesisReshardDataSource,
        write_reshard_manifest,
        write_reshard_shard_file,
    )

    spark.dataSource.register(KinesisReshardDataSource)
    d = str(tmp_path / "wire")
    _os.makedirs(d)
    write_reshard_shard_file(d, "p", [(i, 1, b"x") for i in range(6)])
    write_reshard_shard_file(d, "c", [(10 + i, 1, b"y") for i in range(4)])
    write_reshard_manifest(
        d,
        [
            {"shard_id": "p", "closed": True},
            {"shard_id": "c", "parent": "p"},
        ],
    )
    ckpt = str(tmp_path / "ckpt")
    # batchId-keyed idempotent observer: q.stop() can land MID-batch,
    # leaving that batch uncommitted in the checkpoint — on resume the
    # engine replays the SAME batch id (foreachBatch is at-least-once),
    # and an idempotent sink overwrites rather than double-counts. This
    # is exactly the sink contract the engine documents for its own
    # foreachBatch writers.
    batches: dict[int, list[tuple[str, int, int]]] = {}

    def obs(df, bid):
        batches[int(bid)] = [
            (r.shard_id, int(r.sequence_number), int(bid))
            for r in df.collect()
        ]

    def run(stop_after_batches: int | None):
        st = (
            spark.readStream.format("kinesis_reshard")
            .option("path", d)
            .option("maxRecordsPerShardPerBatch", "2")
            .load()
        )
        q = (
            st.writeStream.foreachBatch(obs)
            .option("checkpointLocation", ckpt)
            .start()
        )
        if stop_after_batches is not None:
            import time as _t

            while len(batches) < stop_after_batches:
                _t.sleep(0.1)
            q.stop()
            q.awaitTermination()
        else:
            q.processAllAvailable()
            q.stop()
            q.awaitTermination()

    run(stop_after_batches=2)  # partial drain: p still mid-flight
    n_first = sum(len(rows) for rows in batches.values())
    assert 0 < n_first < 10
    run(stop_after_batches=None)  # resume from the SAME checkpoint
    # exactly-once: every record exactly once across both runs
    seen = [t for rows in batches.values() for t in rows]
    assert sorted((s, q) for s, q, _ in seen) == sorted(
        [("p", i) for i in range(6)] + [("c", 10 + i) for i in range(4)]
    )
    # lease rule survives the restart: p's max batch < c's min batch
    p_b = [b for s, _, b in seen if s == "p"]
    c_b = [b for s, _, b in seen if s == "c"]
    assert max(p_b) < min(c_b)


def _batch_census(spark, fmt: str, d: str, cap: int) -> list:
    """(batch_id, sorted [(shard_id, rows)]) of a capped processAllAvailable
    drain of `d` through `fmt`."""
    import tempfile

    batches = []

    def obs(df, bid):
        batches.append(
            (
                int(bid),
                sorted(
                    (r.shard_id, r["count"])
                    for r in df.groupBy("shard_id").count().collect()
                ),
            )
        )

    st = (
        spark.readStream.format(fmt)
        .option("path", d)
        .option("maxRecordsPerShardPerBatch", str(cap))
        .load()
    )
    with tempfile.TemporaryDirectory() as ck:
        q = st.writeStream.foreachBatch(obs).option("checkpointLocation", ck).start()
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
    return batches


def test_backfill_stream_ignores_reshard_manifest(spark, tmp_path):
    """kinesis_backfill reads every shard file as a root shard even when
    the directory holds a _SHARDS.json lineage: the child is admitted in
    batch 0 alongside its parent, where kinesis_reshard makes it wait."""
    from kinesis_stream_reader_spark.sources.python_source import (
        KinesisBackfillDataSource,
        KinesisReshardDataSource,
        write_reshard_manifest,
        write_reshard_shard_file,
    )

    spark.dataSource.register(KinesisBackfillDataSource)
    spark.dataSource.register(KinesisReshardDataSource)
    d = str(tmp_path)
    write_reshard_shard_file(d, "p", [(i, 1, b"x") for i in range(3)])
    write_reshard_shard_file(d, "c1", [(10 + i, 1, b"y") for i in range(2)])
    write_reshard_manifest(
        d, [{"shard_id": "p", "closed": True}, {"shard_id": "c1", "parent": "p"}]
    )
    assert _batch_census(spark, "kinesis_backfill", d, 2) == [
        (0, [("c1", 2), ("p", 2)]),
        (1, [("p", 1)]),
    ]
    assert _batch_census(spark, "kinesis_reshard", d, 2) == [
        (0, [("p", 2)]),
        (1, [("p", 1)]),
        (2, [("c1", 2)]),
    ]


def test_shard_census_equals_decoded_counts(spark, sf_dir):
    """The line census both registry drains size their admission cap from
    equals the per-shard count of the decoded records, through either
    format, on the registry's reshard fixture."""
    from kinesis_stream_reader_spark.registry.r10_round10 import (
        _reshard_fixture_dir,
    )
    from kinesis_stream_reader_spark.sources.python_source import (
        KinesisBackfillDataSource,
        KinesisReshardDataSource,
    )

    d = _reshard_fixture_dir(spark, sf_dir)
    for source in (KinesisBackfillDataSource, KinesisReshardDataSource):
        spark.dataSource.register(source)
        decoded = {
            r.shard_id: r["count"]
            for r in spark.read.format(source.name())
            .option("path", d)
            .load()
            .groupBy("shard_id")
            .count()
            .collect()
        }
        assert decoded and source({"path": d}).census() == decoded


def test_backfill_stream_resumes_from_checkpoint(spark, tmp_path):
    """A capped kinesis_backfill drain stopped mid-way resumes from its
    checkpoint: every record lands exactly once, and the checkpointed
    offsets are {"pos", "sizes"} keyed by shard id."""
    import json as _json
    import time

    from kinesis_stream_reader_spark.sources.python_source import (
        KinesisBackfillDataSource,
        write_shard_file,
    )

    spark.dataSource.register(KinesisBackfillDataSource)
    d = str(tmp_path / "wire")
    os.makedirs(d)
    write_shard_file(os.path.join(d, "shard-a.jsonl"), [b"a%d" % i for i in range(6)])
    write_shard_file(os.path.join(d, "shard-b.jsonl"), [b"b%d" % i for i in range(3)])
    ckpt = str(tmp_path / "ckpt")
    # keyed by batch id: a batch cut by stop() is replayed on resume
    batches: dict[int, list[bytes]] = {}

    def obs(df, bid):
        batches[int(bid)] = [bytes(r.data) for r in df.collect()]

    def run(stop_after: int | None) -> None:
        q = (
            spark.readStream.format("kinesis_backfill")
            .option("path", d)
            .option("maxRecordsPerShardPerBatch", "2")
            .load()
            .writeStream.foreachBatch(obs)
            .option("checkpointLocation", ckpt)
            .start()
        )
        if stop_after is None:
            q.processAllAvailable()
        else:
            while len(batches) < stop_after:
                time.sleep(0.1)
        q.stop()
        q.awaitTermination()

    run(stop_after=1)
    assert 0 < sum(map(len, batches.values())) < 9
    run(stop_after=None)
    got = sorted(rec for recs in batches.values() for rec in recs)
    assert got == sorted([b"a%d" % i for i in range(6)] + [b"b%d" % i for i in range(3)])
    offsets = os.path.join(ckpt, "offsets")
    last = max(os.listdir(offsets), key=lambda f: int(f) if f.isdigit() else -1)
    with open(os.path.join(offsets, last)) as fh:
        offset = _json.loads(fh.read().splitlines()[-1])
    assert offset == {"pos": {"a": 6, "b": 3}, "sizes": {"a": 6, "b": 3}}
