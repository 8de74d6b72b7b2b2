"""Seeded input generators for the benchmark workloads.

Everything here is plain numpy + pyarrow: no Spark, so inputs are made
before the engine starts and the program only ever sees the files.  The
same seed gives byte-identical files (``tests/test_perfbench.py`` checks
it).  Each generator also returns the expected answers the output checks
compare against, computed from the generated values, never by the
engine.

Table schemas follow the fixture tables the engine's registry reads
(events, documents, embeddings and the TPC-H-ish star schema), so every
public entry point runs unchanged on the generated directory.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
CONTACT_TYPES = ("click", "view", "purchase")
AGENT_TYPES = ("signup", "error")
EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000

# Bumped whenever a generator changes what it writes for a given seed;
# runs made with different versions compare different inputs.
GEN_VERSION = 5


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """An independent, reproducible stream per (seed, purpose)."""
    tag = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:8], "little")
    return np.random.default_rng([seed, tag])


def write_table(path: str, table: pa.Table) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def dir_digest(root: str) -> str:
    """sha256 over every file's relative path and bytes under ``root``."""
    h = hashlib.sha256()
    for base, dirs, files in os.walk(root):
        dirs.sort()
        for name in sorted(files):
            path = os.path.join(base, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


# --- events -----------------------------------------------------------------


def events_columns(seed: int, n: int, days: int = 30, users: int = 150) -> dict:
    """The fixture's flat `events` table as numpy columns, in time order."""
    rng = rng_for(seed, "events")
    ts = np.sort(EPOCH_US + rng.integers(0, days * DAY_US, n))
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts.astype(np.int64),
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": rng.integers(0, len(EVENT_TYPES), n),
        "value": rng.integers(1, 49_003, n) / 100.0,
        "k": rng.integers(0, 100, n).astype(np.int64),
    }


def events_table(cols: dict, rows: np.ndarray | slice = slice(None)) -> pa.Table:
    types = np.array(EVENT_TYPES, dtype=object)
    return pa.table(
        {
            "event_id": pa.array(cols["event_id"][rows], pa.int64()),
            "ts": pa.array(cols["ts"][rows], pa.timestamp("us")),
            "user_id": pa.array(cols["user_id"][rows], pa.int64()),
            "event_type": pa.array(types[cols["event_type"][rows]], pa.string()),
            "value": pa.array(cols["value"][rows], pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in cols["k"][rows]], pa.string()),
        }
    )


def flat_ids(cols: dict) -> dict:
    """Reference twin of operators.events.to_nested + flatten_ids: the ten
    id columns every records filter reads, as float arrays with NaN for
    a NULL wrapper or a missing branch."""
    e, u = cols["event_id"], cols["user_id"]
    etype = cols["event_type"]
    contact = np.isin(etype, [EVENT_TYPES.index(t) for t in CONTACT_TYPES])
    agent = np.isin(etype, [EVENT_TYPES.index(t) for t in AGENT_TYPES])

    def wrap(value, present):
        return np.where(present, value, np.nan).astype(np.float64)

    return {
        "event_id": e,
        "tenant_id": wrap(u, u % 7 != 0),
        "tenant_id_alt": wrap(u + 1000, u % 5 != 0),
        "server_name": np.array(["Server-" + t for t in EVENT_TYPES], dtype=object)[etype],
        "contact_id": wrap(e % 500, contact & (e % 3 != 0)),
        "contact_id_alt": wrap(e % 100, contact & (e % 4 != 0)),
        "agent_shift_id": wrap(e % 50, agent & (e % 3 != 0)),
        "agent_shift_id_alt": wrap(e % 60, agent & (e % 4 != 0)),
        "agent_id": wrap(u * 10, agent & (u % 3 != 0)),
        "agent_id_alt": wrap(u + 500, agent & (u % 4 != 0)),
    }


# --- records_api ------------------------------------------------------------

FILTER_PARAMS = ("contactId", "agentId", "serverName", "tenantId", "agentShiftId")
_ID_COLUMNS = {
    "contactId": ("contact_id", "contact_id_alt"),
    "agentId": ("agent_id", "agent_id_alt"),
    "tenantId": ("tenant_id", "tenant_id_alt"),
    "agentShiftId": ("agent_shift_id", "agent_shift_id_alt"),
}
DURATIONS = (None, 10, 60, 240, 960, 1500, 100_000)  # last two exceed the clamp
MAX_DURATION = 960
DEFAULT_DURATION = 10
MAX_RESPONSE_ROWS = 10_000


def _literal_pools(seed: int, users: int) -> dict[str, list[str]]:
    """Per-param literal pools, shuffled so the popular head differs by
    seed.  Drawn Zipf-like, so a few request shapes repeat often."""
    rng = rng_for(seed, "pools")
    u = np.arange(users)
    pools = {
        "contactId": np.arange(500),
        "agentId": np.concatenate([u * 10, u + 500]),
        "tenantId": np.concatenate([u, u + 1000]),
        "agentShiftId": np.arange(60),
    }
    out = {k: [str(int(v)) for v in rng.permutation(p)] for k, p in pools.items()}
    names = []
    for t in EVENT_TYPES:
        names += [f"server-{t}", f"SERVER-{t.upper()}", f"Server-{t}"]
    out["serverName"] = [names[i] for i in rng.permutation(len(names))]
    return out


def records_requests(seed: int, n: int, users: int = 150, stream: str = "requests") -> list[dict]:
    """A seeded request mix for GET /records.

    Each item is {"query": {...}, "status": expected status}.  The shape
    of request i is fixed, so every run, however short, sees the same mix
    in the same order: the filter count cycles through 0-5 and, on a
    coprime cycle, the duration through the default, 10/60/240/960
    minutes and two values over the clamp; every 4th request sends
    `limit`; every 10th is invalid (missing streamname or an unknown
    param) and must get a 400.  Which params filter, the pool rank of
    each literal and the limits are the same for every seed too, so runs
    with different seeds repeat earlier literals (codegen cache hits) at
    the same places; the seed permutes the pools, so the literal values
    themselves differ."""
    rng = rng_for(0, stream)
    pools = _literal_pools(seed, users)
    n_shapes = len(FILTER_PARAMS) + 1
    out: list[dict] = []
    for i in range(n):
        k = i % n_shapes
        duration = DURATIONS[i % len(DURATIONS)]
        query: dict[str, str] = {"streamname": "bench-stream"}
        if duration is not None:
            query["duration"] = str(duration)
        for param in rng.choice(FILTER_PARAMS, size=k, replace=False):
            pool = pools[str(param)]
            idx = min(int(rng.zipf(1.6)) - 1, len(pool) - 1)
            query[str(param)] = pool[idx]
        if i % 4 == 1:
            query["limit"] = str(int(rng.integers(1, 200)))
        status = 200
        if i % 20 == 9:
            del query["streamname"]
            status = 400
        elif i % 20 == 19:
            query["shard"] = "0"  # not an allowed param
            status = 400
        out.append({"query": query, "status": status})
    return out


def _parse_int(value: str) -> int | None:
    """The engine's parseInt semantics for the decimal literals we send."""
    try:
        return int(value)
    except ValueError:
        return None


def expected_ids(ids: dict, ts: np.ndarray, query: dict) -> tuple[np.ndarray, int]:
    """Event ids a valid request must draw from, and the row cap."""
    d = query.get("duration")
    minutes = DEFAULT_DURATION if d is None else min(_parse_int(d), MAX_DURATION)
    mask = ts >= ts.max() - minutes * 60_000_000
    for param in FILTER_PARAMS:
        value = query.get(param)
        if value is None:
            continue
        if param == "serverName":
            mask &= np.char.lower(ids["server_name"].astype(str)) == value.lower()
            continue
        v = _parse_int(value)
        a, b = _ID_COLUMNS[param]
        mask &= (ids[a] == v) | (ids[b] == v)
    cap = MAX_RESPONSE_ROWS
    if "limit" in query:
        cap = min(int(query["limit"]), cap)
    return ids["event_id"][mask], cap


def reference_row(ids: dict, event_id: int) -> dict:
    row = {}
    for name, col in ids.items():
        v = col[event_id]
        if isinstance(v, float) and np.isnan(v):
            row[name] = None
        elif name == "server_name":
            row[name] = str(v)
        else:
            row[name] = int(v)
    return row


def make_records_api(seed: int, root: str, n_events: int) -> dict:
    cols = events_columns(seed, n_events)
    write_table(f"{root}/events.parquet", events_table(cols))
    return {"events": n_events}


# --- kpl_ingest ---------------------------------------------------------------

INGEST_MIN_K = 10  # the pipeline's filter keeps k IS NULL OR k >= this


@dataclass
class IngestExpect:
    wire_records: int = 0
    user_records: int = 0
    dropped_aggregates: int = 0
    invalid_json: int = 0
    sum_k: int = 0
    kept_rows: int = 0
    kept_sum_k: int = 0
    kinds: dict = field(default_factory=dict)


def kpl_wire_records(seed: int, n_user: int) -> tuple[pa.Table, IngestExpect]:
    """Wire records built with the engine's public ``kpl_encode``.

    Mix: KPL aggregates with 1-100 user records each (about 1% of inner
    payloads are invalid JSON), plain non-KPL passthrough records, plain
    records with invalid JSON, and corrupt aggregates whose protobuf body
    is cut inside its last record (silently dropped by the decoder)."""
    from kinesis_stream_reader_spark.operators.ingest import kpl_encode
    from kinesis_stream_reader_spark.schema import KPL_MAGIC, KPL_MD5_LEN

    rng = rng_for(seed, "kpl")
    exp = IngestExpect(kinds={"aggregate": 0, "plain": 0, "plain_invalid": 0, "corrupt": 0})
    data, keys = [], []
    next_id = 0

    def payload(k: int) -> bytes:
        nonlocal next_id
        next_id += 1
        return json.dumps({"event_id": next_id, "k": k}).encode()

    def count_valid(k: int) -> None:
        exp.user_records += 1
        exp.sum_k += k
        if k >= INGEST_MIN_K:
            exp.kept_rows += 1
            exp.kept_sum_k += k

    def count_invalid() -> None:
        exp.user_records += 1
        exp.invalid_json += 1
        exp.kept_rows += 1

    while exp.user_records < n_user:
        r = rng.random()
        pk = f"pk-{int(rng.integers(0, 64))}"
        if r < 0.82:
            payloads = []
            for _ in range(int(rng.integers(1, 101))):
                if rng.random() < 0.01:
                    payloads.append(b'{"event_id": %d, "k": ' % next_id)
                    count_invalid()
                else:
                    k = int(rng.integers(0, 100))
                    payloads.append(payload(k))
                    count_valid(k)
            blob = kpl_encode(payloads, pk)
            exp.kinds["aggregate"] += 1
        elif r < 0.92:
            k = int(rng.integers(0, 100))
            blob = payload(k)
            count_valid(k)
            exp.kinds["plain"] += 1
        elif r < 0.96:
            blob = b"not json %d" % int(rng.integers(0, 1 << 30))
            count_invalid()
            exp.kinds["plain_invalid"] += 1
        else:
            body = kpl_encode([payload(int(rng.integers(0, 100))) for _ in range(3)], pk)
            body = body[len(KPL_MAGIC) : -KPL_MD5_LEN][:-5]
            blob = KPL_MAGIC + body + hashlib.md5(body).digest()
            exp.dropped_aggregates += 1
            exp.kinds["corrupt"] += 1
        data.append(blob)
        keys.append(pk)
    exp.wire_records = len(data)
    table = pa.table(
        {
            "wire_id": pa.array(np.arange(len(data), dtype=np.int64)),
            "partition_key": pa.array(keys, pa.string()),
            "data": pa.array(data, pa.binary()),
        }
    )
    return table, exp


def make_kpl_ingest(seed: int, root: str, n_user: int, shards: int = 4) -> tuple[dict, IngestExpect]:
    """Wire records split into ``shards`` part files by arrival order, one
    per stream shard, so the decode runs as that many parallel tasks."""
    table, exp = kpl_wire_records(seed, n_user)
    bounds = np.linspace(0, table.num_rows, shards + 1).astype(int)
    for i in range(shards):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        write_table(f"{root}/raw_records.parquet/part-{i:05d}.parquet", part)
    return {"user_records_target": n_user, "shards": shards}, exp


# --- operator_suite -----------------------------------------------------------

_WORDS = (
    "the fast key order sort table scan merge part window small hash join "
    "batch stream spark dup group query row data slow filter customer line "
    "value column agg vector big a"
).split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")


def documents_table(seed: int, n: int) -> pa.Table:
    """Word-salad documents over the fixture vocabulary; about 10% exact
    copies and 10% one-word edits of an earlier document, so the dedup
    family has work to do."""
    rng = rng_for(seed, "documents")
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.10:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.20:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(words))
        else:
            m = int(rng.integers(8, 90))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), m)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n)], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(seed: int, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    rng = rng_for(seed, "embeddings")
    centers = rng.normal(0, 0.12, (labels, dim))
    label = rng.integers(0, labels, n)
    vecs = (centers[label] + rng.normal(0, 0.06, (n, dim))).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32)),
        }
    )


def tpch_tables(seed: int, orders: int) -> dict[str, pa.Table]:
    """A small TPC-H-ish star schema with the fixture's columns."""
    rng = rng_for(seed, "tpch")
    n_cust, n_part, n_supp = max(orders // 10, 10), max(orders // 7, 10), 10
    segments = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING")
    prios = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    # TPC-H order dates: 1992-01-01 .. 1998-08-02, so Q6's 1994 window
    # holds about a seventh of the line items
    day0 = np.datetime64("1992-01-01", "us").astype(np.int64)
    o_date = day0 + rng.integers(0, 2406, orders) * DAY_US
    lines_per = rng.integers(1, 8, orders)
    l_order = np.repeat(np.arange(orders), lines_per)
    n_lines = len(l_order)
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    price = np.round(qty * rng.uniform(900, 2100, n_lines), 2)
    ship = o_date[l_order] + rng.integers(1, 120, n_lines) * DAY_US
    return {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
                "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
                "c_mktsegment": [segments[i] for i in rng.integers(0, 5, n_cust)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
                "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
                "p_name": [f"{a} widget" for a in rng.choice(["cold", "small", "red", "big"], n_part)],
                "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
                "p_type": list(rng.choice(["PROMO", "ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM"], n_part)),
                "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
                "p_retailprice": pa.array(np.round(900 + np.arange(n_part) * 0.1, 2)),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(orders, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, n_cust, orders).astype(np.int64)),
                "o_orderstatus": list(rng.choice(["F", "O", "P"], orders)),
                "o_totalprice": pa.array(np.round(rng.uniform(1000, 400000, orders), 2)),
                "o_orderdate": pa.array(o_date, pa.timestamp("us")),
                "o_orderpriority": [prios[i] for i in rng.integers(0, 5, orders)],
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(l_order.astype(np.int64)),
                "l_partkey": pa.array(rng.integers(0, n_part, n_lines).astype(np.int64)),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines).astype(np.int64)),
                "l_linenumber": pa.array(
                    (np.arange(n_lines) - np.repeat(np.cumsum(lines_per) - lines_per, lines_per) + 1).astype(np.int32)
                ),
                "l_quantity": pa.array(qty),
                "l_extendedprice": pa.array(price),
                "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100.0),
                "l_returnflag": list(rng.choice(["A", "N", "R"], n_lines)),
                "l_linestatus": list(rng.choice(["O", "F"], n_lines)),
                "l_shipdate": pa.array(ship, pa.timestamp("us")),
            }
        ),
    }


def make_operator_suite(
    seed: int, root: str, n_events: int, n_docs: int, n_vecs: int, n_orders: int, event_parts: int
) -> dict:
    """The suite's fixture directory.  `events` is written as
    ``event_parts`` time-ordered part files, so a streaming drain over it
    runs one trigger per file and no row is ever behind the watermark."""
    cols = events_columns(seed, n_events)
    bounds = np.linspace(0, n_events, event_parts + 1).astype(int)
    for p in range(event_parts):
        rows = np.arange(bounds[p], bounds[p + 1])
        write_table(f"{root}/events.parquet/part-{p:05d}.parquet", events_table(cols, rows))
    write_table(f"{root}/documents.parquet", documents_table(seed, n_docs))
    write_table(f"{root}/embeddings.parquet", embeddings_table(seed, n_vecs))
    tables = tpch_tables(seed, n_orders)
    for name, table in tables.items():
        write_table(f"{root}/{name}.parquet", table)
    return {
        "events": n_events,
        "event_parts": event_parts,
        "documents": n_docs,
        "embeddings": n_vecs,
        "orders": n_orders,
    }
