"""Integer SPARK_GRAFT_* settings are validated where they are read: a
malformed value raises a ValueError that names the variable, never a
bare int() error or an unchecked Spark conf string."""

from __future__ import annotations

import pytest


def _cpus(spark):
    from kinesis_stream_reader_spark import session

    return session.default_parallelism()


def _bpe_vocab_max(spark):
    from kinesis_stream_reader_spark.operators import text

    return text._bpe_driver_vocab_max()


def _textrank_edges_max(spark):
    from kinesis_stream_reader_spark.operators import text

    docs = spark.createDataFrame([(1, "a b c")], "doc_id BIGINT, text STRING")
    return text.keyword_textrank(docs)


def _lloyd_max_parts(spark):
    from kinesis_stream_reader_spark.operators import similarity

    return similarity._lloyd_driver_reduce_max_parts()


def _stream_partitions(spark):
    from kinesis_stream_reader_spark.streaming.jobs import run_available_now

    return run_available_now(spark.range(1), "settings_probe")


def _graph_max_vertices(spark):
    from kinesis_stream_reader_spark.operators.graph import (
        _check_driver_graph_bounds,
    )

    return _check_driver_graph_bounds(200, 199, 4096, "probe")


READERS = {
    "SPARK_GRAFT_CPUS": _cpus,
    "SPARK_GRAFT_BPE_DRIVER_VOCAB_MAX": _bpe_vocab_max,
    "SPARK_GRAFT_TEXTRANK_DRIVER_EDGES_MAX": _textrank_edges_max,
    "SPARK_GRAFT_LLOYD_DRIVER_REDUCE_MAX_PARTS": _lloyd_max_parts,
    "SPARK_GRAFT_STREAM_PARTITIONS": _stream_partitions,
    "SPARK_GRAFT_DRIVER_GRAPH_MAX_VERTICES": _graph_max_vertices,
}


@pytest.mark.parametrize("value", ["lots", "-5", "2.5", "1e4"])
@pytest.mark.parametrize("var", list(READERS))
def test_malformed_integer_setting_names_the_variable(spark, monkeypatch, var, value):
    monkeypatch.setenv(var, value)
    with pytest.raises(ValueError, match=f"{var} must be a"):
        READERS[var](spark)
