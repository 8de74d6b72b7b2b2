"""Round-14 optimization-round tests: libm golden pins for the driver
replay paths, dense driver-kernel bounds guards, the tmpfs local-dir
master gate, and the bool-matmul BFS overflow fix."""

from __future__ import annotations

import json
import math
import os

import pytest


# ---------------------------------------------------------------------------
# libm pins (round-13 verdict #7): the driver-side replays of what used
# to be JVM ln() must keep agreeing with the DuckDB oracle's libm. A
# platform libm change should fail HERE, not silently diverge a hash.
# ---------------------------------------------------------------------------

def test_adamic_adar_log_weights_golden():
    golden = json.load(
        open(os.path.join(os.path.dirname(__file__), "golden_adamic_adar_w.json"))
    )["w"]
    now = [
        int(math.floor(1e9 / math.log(float(d)) + 0.5)) for d in range(2, 401)
    ]
    assert now == golden


def test_adamic_adar_log_weights_match_oracle_libm():
    duckdb = pytest.importorskip("duckdb")
    rows = duckdb.sql(
        "select d, cast(floor(1e9/ln(d) + 0.5) as bigint)"
        " from range(2, 401) t(d)"
    ).fetchall()
    for d, oracle_w in rows:
        assert oracle_w == int(
            math.floor(1e9 / math.log(float(d)) + 0.5)
        ), f"libm divergence at deg={d}"


def test_hyperball_smallrange_estimator_golden():
    # est = m * ln(m / vz) with m = 16, vz = m - cnt in [1, 15]
    golden = [
        44.3614195558365,
        33.27106466687737,
        26.783622937146745,
        22.18070977791825,
        18.610412956890894,
        15.693268048187619,
        13.226857170951487,
        11.090354888959125,
        9.205826318456989,
        7.52005806793177,
        5.995095191062571,
        4.6029131592284935,
        3.3222298364519127,
        2.136502281992361,
        1.0326163382011386,
    ]
    now = [16.0 * math.log(16.0 / float(vz)) for vz in range(1, 16)]
    assert now == golden
    duckdb = pytest.importorskip("duckdb")
    rows = duckdb.sql(
        "select vz, 16.0 * ln(16.0 / vz) from range(1, 16) t(vz)"
    ).fetchall()
    for vz, oracle_est in rows:
        assert oracle_est == 16.0 * math.log(16.0 / float(vz))


# ---------------------------------------------------------------------------
# Dense driver-kernel bounds guard (round-13 advice): oversized
# diagnostic parameters must fail loudly, not OOM the driver.
# ---------------------------------------------------------------------------

def test_driver_graph_bounds_guard():
    from kinesis_stream_reader_spark.operators.graph import (
        _check_driver_graph_bounds,
    )

    _check_driver_graph_bounds(200, 199, 512, "ok")  # defaults pass
    with pytest.raises(ValueError, match="vertex cap"):
        _check_driver_graph_bounds(5000, 5000, 4096, "too_big")


def test_driver_graph_bounds_env_override(monkeypatch):
    from kinesis_stream_reader_spark.operators.graph import (
        _check_driver_graph_bounds,
    )

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_GRAPH_MAX_VERTICES", "20000")
    _check_driver_graph_bounds(5000, 5000, 4096, "raised_cap")
    # the override is the n^2 cap; the n^3 cap grows so the wedge tensor
    # grows by the same factor, (20000/4096)^2: 512 * 4.88^(2/3) = 1473.6
    _check_driver_graph_bounds(1000, 473, 512, "triangle_count", exponent=3)
    with pytest.raises(ValueError, match="vertex cap 1473"):
        _check_driver_graph_bounds(1000, 474, 512, "triangle_count", exponent=3)
    with pytest.raises(ValueError, match="vertex cap"):
        _check_driver_graph_bounds(5000, 5000, 512, "triangle_count", exponent=3)
    # a malformed override fails loudly, naming the variable
    for value in ("lots", "1e4", "-5", "0"):
        monkeypatch.setenv("SPARK_GRAFT_DRIVER_GRAPH_MAX_VERTICES", value)
        with pytest.raises(ValueError, match="MAX_VERTICES must be a positive"):
            _check_driver_graph_bounds(200, 199, 512, "triangle_count", exponent=3)


# ---------------------------------------------------------------------------
# PCA zero-norm branch: on an all-zero embedding corpus the first
# round's normalizer is 0; the engine must return the oracle's rows
# (`DIV 0` is NULL, so every loading is NULL), not a crash or zeros.
# ---------------------------------------------------------------------------

def test_pca_zero_norm_matches_oracle(spark, tmp_path):
    duckdb = pytest.importorskip("duckdb")
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entrymod

    n = 6
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n), pa.int64()),
                "embedding": pa.array([[0.0] * 64] * n, pa.list_(pa.float32())),
                "label": pa.array([i % 2 for i in range(n)], pa.int32()),
            }
        ),
        tmp_path / "embeddings.parquet",
    )
    query = entrymod.queries()["pca_power_iteration"]
    got = [tuple(r) for r in query(spark, str(tmp_path)).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{tmp_path}/embeddings.parquet'"
    )
    want = con.sql(entrymod.oracle_sql()["pca_power_iteration"]).fetchall()
    assert len(got) == 64
    assert got == want


# ---------------------------------------------------------------------------
# tmpfs local-dir gate (round-13 verdict #6): the /dev/shm default for
# spark.local.dir (shuffle spill!) must only apply under a LOCAL master.
# ---------------------------------------------------------------------------

def test_local_dir_gated_on_master(monkeypatch):
    from kinesis_stream_reader_spark import session

    monkeypatch.delenv("SPARK_GRAFT_LOCAL_DIR", raising=False)
    if session.FAST_TMP:
        assert session._local_dir_for("local[4]") == session.FAST_TMP
    assert session._local_dir_for("spark://node:7077") is None
    assert session._local_dir_for("yarn") is None
    assert session._local_dir_for("k8s://https://host") is None


def test_local_dir_explicit_override_any_master(monkeypatch):
    from kinesis_stream_reader_spark import session

    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", "/somewhere/fast")
    # explicit operator override is honored for any master, and the
    # value returned is the live override, not the import-time default
    assert session._local_dir_for("spark://node:7077") == "/somewhere/fast"
    assert session._local_dir_for("local[4]") == "/somewhere/fast"
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", "-")
    assert session._local_dir_for("local[4]") is None


# ---------------------------------------------------------------------------
# bool-matmul BFS (round-13 advice, HIGH): a frontier with >= 128
# members adjacent to one node wrapped int8 accumulation to <= 0 and
# silently dropped the node from the ball. The star-pair graph below
# makes node 151's discovery round see a 150-member frontier.
# ---------------------------------------------------------------------------

def test_hyperball_dense_frontier_no_int8_overflow(spark):
    from kinesis_stream_reader_spark.operators import graph

    # projection edges are (user_id % 200, event_id % 199); build
    # leaves 1..150 each linked to hubs 0 and 151
    rows = []
    for leaf in range(1, 151):
        rows.append((0, leaf))
        rows.append((151, leaf))
    events = spark.createDataFrame(rows, "user_id BIGINT, event_id BIGINT")
    out = {
        int(r["node"]): int(r["exact_ball"])
        for r in graph.hyperball_neighborhood(events, rounds=3).collect()
    }
    # every node reaches all 152 within radius 3 (hub-leaf-hub paths);
    # int8 accumulation dropped node 151 from hub 0's ball (and vice
    # versa) because the discovery frontier had 150 members
    assert out[0] == 152
    assert out[151] == 152
    assert out[1] == 152
