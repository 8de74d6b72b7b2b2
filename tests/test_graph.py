"""The bounded interaction graph (operators/graph.py): every graph query
passes the driver vertex-cap guard before its edge census runs, and on
empty tables every graph query returns its DuckDB oracle's rows (the
edgeless branch of the shared census)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

GRAPH_QUERIES = [
    "graph_triangles",
    "graph_label_propagation",
    "graph_modularity_report",
    "link_prediction_jaccard",
    "link_prediction_adamic_adar",
    "hyperball_neighborhood",
    "harmonic_centrality",
    "betweenness_centrality",
]


@pytest.mark.parametrize("name", GRAPH_QUERIES)
def test_graph_query_guard_runs_before_census(spark, sf_dir, monkeypatch, name):
    var = "SPARK_GRAFT_DRIVER_GRAPH_MAX_VERTICES"
    monkeypatch.setenv(var, "8")

    def census_ran(self):
        raise AssertionError(f"{name} collected its edges before the bounds guard")

    monkeypatch.setattr(type(spark.range(1)), "collect", census_ran)
    with pytest.raises(ValueError, match=var):
        entrymod.queries()[name](spark, sf_dir)


@pytest.mark.parametrize("name", GRAPH_QUERIES)
def test_graph_query_empty_inputs_match_oracle(spark, empty_dir, name):
    duckdb = pytest.importorskip("duckdb")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{empty_dir}/events.parquet/*.parquet'"
    )
    got = [tuple(r) for r in entrymod.queries()[name](spark, empty_dir).collect()]
    want = con.sql(entrymod.oracle_sql()[name]).fetchall()
    assert got == want
