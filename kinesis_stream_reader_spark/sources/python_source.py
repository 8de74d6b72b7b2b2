"""Spark 4 Python DataSource: recorded-wire Kinesis shards as one source
with two formats.

`sources/kinesis.py:fetch_records` reproduces the reference's
getRecords drain (kinesisReader/index.js:11-48) as a driver-side
generator; this module lifts the same contract into the user-defined
data source API so it composes like any other format:

    spark.dataSource.register(KinesisBackfillDataSource)
    df = spark.read.format("kinesis_backfill").option("path", wire_dir).load()
    deagg_explode(df) ...

A wire directory holds one `shard-<shard_id>.jsonl` file per shard, one
JSON line per record (base64 payload), as a get_records page dump. The
two formats differ only in where the shard list comes from:

- `kinesis_backfill`: every shard file is a root shard (no parents,
  generation 0, its own chain). Its schema is the connector's
  (`data BINARY` + shard/sequence metadata), so every downstream
  pipeline (KPL deagg, JSON parse, filters) is byte-identical across
  the real connector, the backfill loop and this source. It also has a
  writer: each task plays a putRecords producer into one shard file.
- `kinesis_reshard`: shards and their split/merge lineage come from the
  `_SHARDS.json` manifest (the ListShards projection), and each row also
  carries `chain_id`, `generation`, `emit_idx` and `partition_key`.

Both formats run on one batch reader and one stream reader:

- the batch reader plans one InputPartition per lineage chain and drains
  its shards parents-first on the executor;
- the stream reader keeps per-shard offsets `{"pos", "sizes"}` keyed by
  shard id (the Python analogue of sequence-number checkpoints), admits
  at most `maxRecordsPerShardPerBatch` records per shard past the last
  planned batch end, and admits a child only once every parent is
  planned to SHARD_END (the KCL lease rule; a root shard is always
  admitted);
- each format's schema selects its columns from one Arrow page builder.

`census()` counts each shard's records from its line count, without
decoding a record.

In production the per-partition `read()` would hold a boto3 client and
page one shard via get_shard_iterator/get_records (the fetch_records
loop verbatim); here the recorded wire is read back through the full
DataSource machinery (registration, partition planning, Arrow-batched
row emission).
"""

from __future__ import annotations

import base64
import itertools
import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

BACKFILL_SCHEMA = (
    "shard_id STRING, sequence_number BIGINT, data BINARY"
)
RESHARD_SCHEMA = (
    "shard_id STRING, chain_id STRING, generation INT, emit_idx BIGINT, "
    "sequence_number BIGINT, partition_key BIGINT, data BINARY"
)
# Arrow type of every column a schema can select (pyarrow aliases), in
# RESHARD_SCHEMA order
_ARROW_TYPES = {
    "shard_id": "string",
    "chain_id": "string",
    "generation": "int32",
    "emit_idx": "int64",
    "sequence_number": "int64",
    "partition_key": "int64",
    "data": "binary",
}
_SHARDS_MANIFEST = "_SHARDS.json"
_ARROW_PAGE_ROWS = 4096


def _shard_path(path: str, shard_id: str) -> str:
    return os.path.join(path, f"shard-{shard_id}.jsonl")


def _wire_line(seq: int, blob: bytes, key: int | None = None) -> str:
    """One recorded-wire record: a JSON line with a base64 payload; the
    partition key is written only when given."""
    rec = {"seq": seq} if key is None else {"seq": seq, "key": key}
    rec["data"] = base64.b64encode(blob).decode()
    return json.dumps(rec) + "\n"


def write_shard_file(path: str, records: list[bytes]) -> None:
    """Recorded-wire shard fixture at `path`: the records in order,
    sequence numbers 0, 1, ..."""
    with open(path, "w") as fh:
        fh.writelines(_wire_line(seq, blob) for seq, blob in enumerate(records))


def write_reshard_shard_file(
    path: str, shard_id: str, records: list[tuple[int, int, bytes]]
) -> None:
    """One recorded-wire shard file: (sequence_number, partition_key,
    payload) triples, line-ordered by sequence number like a
    get_records drain."""
    with open(_shard_path(path, shard_id), "w") as fh:
        fh.writelines(_wire_line(seq, blob, key) for seq, key, blob in sorted(records))


def write_reshard_manifest(path: str, shards: list[dict]) -> None:
    """Lineage manifest: [{shard_id, parent, adjacent_parent, closed}]
    — the ListShards projection the reshard format plans from."""
    with open(os.path.join(path, _SHARDS_MANIFEST), "w") as fh:
        json.dump({"shards": shards}, fh, indent=1)


def read_reshard_manifest(path: str) -> list[dict]:
    with open(os.path.join(path, _SHARDS_MANIFEST)) as fh:
        return json.load(fh)["shards"]


def _line_census(path: str, shard_ids) -> dict[str, int]:
    """{shard_id: records} for every listed shard whose wire file exists.
    A record is one line, so this counts lines and decodes nothing."""
    out = {}
    for sid in shard_ids:
        fpath = _shard_path(path, sid)
        if os.path.exists(fpath):
            with open(fpath, "rb") as fh:
                out[sid] = sum(1 for _ in fh)
    return out


# ---------------------------------------------------------------------------
# Lineage (round 10): real Kinesis streams split and merge shards; a
# shard closes (its SequenceNumberRange gets an EndingSequenceNumber)
# and its records CONTINUE in one or two child shards that name it via
# ParentShardId / AdjacentParentShardId (ListShards, docs/APIReference
# API_Shard). Per-key ordering is only guaranteed if a parent is drained
# to SHARD_END before its children start — the KCL's lease-ordering
# rule. The reference never faces this (it reads exactly shard '0',
# kinesisReader/index.js:77).
#
# Spark-first shape: lineage is DATA, not scheduling. The batch reader
# groups shards into lineage CHAINS (connected components of the
# parent->child DAG) — one InputPartition per chain, so independent
# chains read fully in parallel while each chain drains its shards in
# topological order (parents to SHARD_END first, children by shard_id
# within a generation). Every reshard row carries (chain_id,
# generation, emit_idx), so downstream plans can VERIFY
# parent-before-child emission declaratively instead of trusting the
# scheduler; at 100 TB a chain is bounded by the retention window of
# one hash-range family, and the chain count (~current shard count) is
# the read parallelism, same as any Kinesis consumer.
#
# A parent listed in the manifest with no shard file is treated as
# expired-from-retention (already fully consumed and trimmed) — the
# KCL's parent-lease-gone case — so lineage still orders its surviving
# descendants.
# ---------------------------------------------------------------------------


def plan_lineage_chains(shards: list[dict]) -> list[dict]:
    """Pure planning step (driver-side, manifest-sized): topological
    generation per shard (roots 0, child = 1 + max(parent gens)) and
    connected-component chains. Returns one dict per chain:
    {chain_id, shards: [(shard_id, generation), ...] in drain order}.
    Drain order = generation, then shard_id — parents always precede
    children; merge parents (same generation) drain deterministically
    by id."""
    by_id = {s["shard_id"]: s for s in shards}

    def parents(sid: str) -> list[str]:
        s = by_id[sid]
        return [
            p
            for p in (s.get("parent"), s.get("adjacent_parent"))
            if p and p in by_id
        ]

    gen: dict[str, int] = {}

    def generation(sid: str) -> int:
        if sid not in gen:
            ps = parents(sid)
            gen[sid] = 1 + max((generation(p) for p in ps), default=-1)
        return gen[sid]

    for sid in by_id:
        generation(sid)

    # union-find over parent edges -> chains
    root: dict[str, str] = {sid: sid for sid in by_id}

    def find(x: str) -> str:
        while root[x] != x:
            root[x] = root[root[x]]
            x = root[x]
        return x

    for sid in by_id:
        for p in parents(sid):
            root[find(sid)] = find(p)

    chains: dict[str, list[str]] = {}
    for sid in by_id:
        chains.setdefault(find(sid), []).append(sid)
    out = []
    for members in chains.values():
        ordered = sorted(members, key=lambda s: (gen[s], s))
        out.append(
            {
                "chain_id": min(members),
                "shards": [(s, gen[s]) for s in ordered],
            }
        )
    return sorted(out, key=lambda c: c["chain_id"])


class _ShardRangePartition(InputPartition):
    """Wire lines [start, end) of each of `shards` in order (end None =
    to EOF), with emit_idx = base + line index, counting on from one
    shard to the next. A batch partition is a whole lineage chain
    (start 0); a stream partition is one admitted range of one shard."""

    def __init__(
        self, shards: list[str], start: int = 0, end: int | None = None, base: int = 0
    ) -> None:
        self.shards = shards
        self.start = start
        self.end = end
        # chain-global emit_idx offset: the cumulative size of every
        # shard draining earlier in the chain
        self.base = base

    @property
    def shard_id(self) -> str:
        """The first shard (for a stream partition, the only one)."""
        return self.shards[0]


class _ShardReader:
    """What the batch and stream readers share: the shard list, its
    lineage plan, and the executor-side read of a shard range."""

    def __init__(
        self, options: dict, shards: list[dict] | None = None, schema=None
    ) -> None:
        self.dir = options["path"]
        if shards is None:
            shards = read_reshard_manifest(self.dir)
        self.names = schema.fieldNames() if schema is not None else list(_ARROW_TYPES)
        self._chains = plan_lineage_chains(shards)
        self._gen: dict[str, tuple[int, str]] = {
            sid: (g, c["chain_id"]) for c in self._chains for sid, g in c["shards"]
        }
        self._parents = {
            s["shard_id"]: [
                p for p in (s.get("parent"), s.get("adjacent_parent")) if p
            ]
            for s in shards
        }

    def _counts(self) -> dict[str, int]:
        return _line_census(self.dir, self._parents)

    def read(self, partition: _ShardRangePartition):
        # ON THE EXECUTOR: a chain drains in topological order, so each
        # parent hits SHARD_END (EOF of its recorded wire) before any
        # child opens — the KCL parent-lease rule; emit_idx
        # materializes that order as data
        emit = partition.base + partition.start
        for sid in partition.shards:
            with open(_shard_path(self.dir, sid)) as fh:
                lines = itertools.islice(fh, partition.start, partition.end)
                emit = yield from self._pages(sid, lines, emit)

    def _pages(self, sid: str, lines, emit: int):
        """Arrow pages of <= _ARROW_PAGE_ROWS records of shard `sid` in
        the schema's columns, emit_idx counting from `emit`; returns the
        emit_idx after the last record. Pages are yielded as
        RecordBatches (supported from Python-source read() since Spark
        4.0): one columnar hand-off per page, not one pickled tuple per
        row."""
        import pyarrow as pa

        schema = pa.schema(
            [(n, pa.type_for_alias(_ARROW_TYPES[n])) for n in self.names]
        )
        gen, chain = self._gen[sid]
        while recs := [
            json.loads(line) for line in itertools.islice(lines, _ARROW_PAGE_ROWS)
        ]:
            n = len(recs)
            cols = {
                "shard_id": [sid] * n,
                "chain_id": [chain] * n,
                "generation": [gen] * n,
                "emit_idx": range(emit, emit + n),
                "sequence_number": [r["seq"] for r in recs],
                "partition_key": [r.get("key") for r in recs],
                "data": [base64.b64decode(r["data"]) for r in recs],
            }
            yield pa.RecordBatch.from_arrays(
                [pa.array(cols[f.name], f.type) for f in schema], schema=schema
            )
            emit += n
        return emit


class KinesisReshardReader(_ShardReader, DataSourceReader):
    """Batch reader of both formats: one InputPartition per lineage
    chain; a shard with no wire file expired from retention and is
    skipped."""

    def partitions(self):
        return [
            _ShardRangePartition(
                [
                    sid
                    for sid, _ in c["shards"]
                    if os.path.exists(_shard_path(self.dir, sid))
                ]
            )
            for c in self._chains
        ]


class KinesisReshardStreamReader(_ShardReader, DataSourceStreamReader):
    """Stream reader of both formats: the KCL's lease rule enforced
    across micro-batches — a child shard is admitted only once every
    parent it names has been PLANNED to SHARD_END (expired parents with
    no wire file count as consumed; a root shard is always admitted).
    Offsets are {"pos": {shard_id: records planned}, "sizes": {...}}.

    Admission control (the Kinesis connector's maxFetchRecordsPerShard
    analog): each micro-batch admits at most maxRecordsPerShardPerBatch
    records per shard past the last PLANNED batch end. Anchoring on
    partitions()'s end offset (not commit(), which the engine may invoke
    only at the NEXT trigger — after it has already probed latestOffset
    and concluded "no new data") keeps latestOffset idempotent between
    batch plannings, so the drain schedule is fully deterministic: a
    shard of size s at cap r drains in ceil(s/r) consecutive batches
    starting the batch after its slowest parent finishes. commit() is
    where a production source would checkpoint sequence numbers; the
    engine has already recorded the offsets in its offset log, which is
    what exactly-once resume rides on."""

    def __init__(
        self, options: dict, shards: list[dict] | None = None, schema=None
    ) -> None:
        super().__init__(options, shards, schema)
        cap = options.get("maxrecordspershardperbatch")
        self.cap = int(cap) if cap else None
        self._planned_end: dict | None = None
        self._frozen_sizes: dict[str, int] = {}
        # shards draining BEFORE each shard in its chain — their
        # cumulative sizes offset its emit_idx, so streaming emit_idx is
        # chain-global like the batch reader's
        self._chain_prior = {
            sid: [s for s, _ in c["shards"][:i]]
            for c in self._chains
            for i, (sid, _) in enumerate(c["shards"])
        }

    def initialOffset(self) -> dict:
        return {"pos": {s: 0 for s in self._counts()}, "sizes": {}}

    def latestOffset(self) -> dict:
        counts = self._counts()
        base = self._planned_end or {s: 0 for s in counts}

        def parent_done(sid: str) -> bool:
            return all(
                p not in counts  # expired from retention = consumed
                or int(base.get(p, 0)) >= counts[p]
                for p in self._parents.get(sid, [])
            )

        out = {}
        sizes = dict(self._frozen_sizes)
        for sid, total in counts.items():
            lo = int(base.get(sid, 0))
            admitted = parent_done(sid)
            if not admitted:
                out[sid] = lo
            elif self.cap is None:
                out[sid] = total
            else:
                out[sid] = min(total, lo + self.cap)
            # "sizes" FREEZES each shard's record count the first time it
            # is fully planned: it rides the offset into the checkpoint,
            # so recovery replays the exact chain-global emit_idx bases
            # of the original run even if a prior shard's wire file
            # later expires from retention (a live re-census would see
            # 0). Only an admitted shard freezes (round 13): a
            # present-but-EMPTY wire file of a not-yet-admitted shard
            # also satisfies out >= total (0 >= 0), and freezing that 0
            # would undercount every descendant's base once records land.
            if sid not in sizes and admitted and out[sid] >= total:
                sizes[sid] = total
        self._frozen_sizes = sizes
        return {"pos": out, "sizes": sizes}

    def partitions(self, start: dict, end: dict):
        start_pos, end_pos = start["pos"], end["pos"]
        # restore frozen sizes from the checkpointed offsets (recovery
        # path) and keep the in-memory view cumulative
        frozen = {**self._frozen_sizes, **start["sizes"], **end["sizes"]}
        self._frozen_sizes = frozen
        # monotonic max over (previous window, this batch's end, this
        # batch's START): re-planning/retries must not advance the
        # window twice, and on a checkpoint RESTART the start offset
        # (the committed position) jump-starts the window so the drain
        # resumes at the checkpoint instead of walking forward through
        # empty catch-up batches
        prev = self._planned_end or {}
        self._planned_end = {
            s: max(
                int(prev.get(s, 0)),
                int(end_pos.get(s, 0)),
                int(start_pos.get(s, 0)),
            )
            for s in set(prev) | set(end_pos) | set(start_pos)
        }
        parts = []
        for sid, hi in sorted(end_pos.items()):
            lo = int(start_pos.get(sid, 0))
            if int(hi) > lo:
                # chain-global emit_idx base: cumulative FROZEN sizes of
                # every shard draining earlier in sid's chain. Under the
                # lease rule a shard is admitted only after its parents
                # are fully planned, which froze their sizes; a prior
                # that expired before it was ever fully planned
                # contributes 0 on the original run AND on every replay.
                base = sum(frozen.get(p, 0) for p in self._chain_prior[sid])
                parts.append(_ShardRangePartition([sid], lo, int(hi), base))
        return parts


class KinesisReshardDataSource(DataSource):
    """`kinesis_reshard` format: lineage-aware recorded-wire reads, the
    shard list from `_SHARDS.json` — one InputPartition per
    parent/child chain, parents drained to SHARD_END before children."""

    @classmethod
    def name(cls) -> str:
        return "kinesis_reshard"

    def schema(self) -> str:
        return RESHARD_SCHEMA

    def shards(self) -> list[dict]:
        return read_reshard_manifest(self.options["path"])

    def census(self) -> dict[str, int]:
        """{shard_id: records} of every shard with a wire file."""
        return _line_census(
            self.options["path"], [s["shard_id"] for s in self.shards()]
        )

    def reader(self, schema) -> DataSourceReader:
        return KinesisReshardReader(self.options, self.shards(), schema)

    def streamReader(self, schema) -> "DataSourceStreamReader":
        return KinesisReshardStreamReader(self.options, self.shards(), schema)


class KinesisBackfillDataSource(KinesisReshardDataSource):
    """`kinesis_backfill` format: the lineage-free case — every shard
    file of the directory is a root shard, read with the connector's
    schema; any manifest in the directory is ignored. Also the wire
    writer."""

    @classmethod
    def name(cls) -> str:
        return "kinesis_backfill"

    def schema(self) -> str:
        return BACKFILL_SCHEMA

    def shards(self) -> list[dict]:
        return [
            {"shard_id": f[len("shard-") : -len(".jsonl")]}
            for f in sorted(os.listdir(self.options["path"]))
            if f.startswith("shard-") and f.endswith(".jsonl")
        ]

    def writer(self, schema, overwrite: bool) -> "DataSourceWriter":
        return KinesisWireWriter(self.options)


class _WireCommit(WriterCommitMessage):
    """Per-task commit message: which shard file the task wrote and
    how many records/pages it contains (picklable plain fields)."""

    def __init__(self, path: str, n_records: int, n_pages: int) -> None:
        self.path = path
        self.n_records = n_records
        self.n_pages = n_pages


class KinesisWireWriter(DataSourceWriter):
    """The SINK half of the Python DataSource story: each task plays a
    putRecords producer for its partition — records buffer into pages
    of <= 500 entries (the Kinesis PutRecords request limit,
    docs/APIReference API_PutRecords) and flush page by page into one
    recorded-wire shard file, so the written layout is exactly what the
    kinesis_backfill reader reads back. commit() runs on the driver only
    after every task reports success and seals the manifest — the
    all-or-nothing contract of the DataSourceWriter API; an abort leaves
    no manifest, so readers treat the directory as unpublished."""

    PUT_RECORDS_LIMIT = 500

    def __init__(self, options: dict) -> None:
        self.dir = options["path"]

    def write(self, iterator):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        os.makedirs(self.dir, exist_ok=True)
        path = _shard_path(self.dir, f"{pid:04d}")
        n = 0
        pages = 0
        buf: list[str] = []

        def flush(fh) -> None:
            nonlocal pages
            if buf:
                fh.write("".join(buf))
                buf.clear()
                pages += 1

        with open(path, "w") as fh:
            for row in iterator:
                buf.append(_wire_line(n, bytes(row.data)))
                n += 1
                if len(buf) >= self.PUT_RECORDS_LIMIT:
                    flush(fh)
            flush(fh)
        return _WireCommit(path, n, pages)

    def commit(self, messages) -> None:
        manifest = {
            "files": sorted(m.path for m in messages if m is not None),
            "n_records": sum(m.n_records for m in messages if m is not None),
            "n_pages": sum(m.n_pages for m in messages if m is not None),
        }
        with open(os.path.join(self.dir, "_MANIFEST.json"), "w") as fh:
            json.dump(manifest, fh)

    def abort(self, messages) -> None:
        for m in messages or []:
            if m is not None and os.path.exists(m.path):
                os.remove(m.path)
