"""The reference's end-to-end query pipeline, Spark-first.

Reference lifecycle (app/server/index.js:43-73):
  validate params -> compute time window -> scan stream -> filter -> JSON sink

Here the whole thing is one lazy logical plan: validation happens up
front in Python (api.py), everything else is column algebra that
Catalyst optimizes (conjunctive filters merged, unused columns pruned,
and the time bound pushed into the scan when its anchor is a literal;
the data-relative anchor of with_data_relative_window is a joined
column and is not pushed). Nothing materializes until the sink.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..api import QueryParamValidator, ValidationResult
from ..operators.events import to_nested
from ..operators.filters import (
    filter_records,
    time_range_predicate,
    with_data_relative_window,
)
from ..sources.tables import load_events


def records_plan(
    events_nested: DataFrame, query: Mapping[str, object], now: Column | None = None
) -> DataFrame:
    """scan -> time window -> conjunctive filters (index.js:57-61).

    ``now`` anchors the window. None anchors it at the data's
    max(event_time) inside the plan (with_data_relative_window). A
    literal anchor, e.g. F.timestamp_micros(F.lit(us)), is pushed into
    the parquet scan; a live deployment passes F.current_timestamp()."""
    duration = query.get("duration")
    if now is None:
        windowed = with_data_relative_window(events_nested, duration)
    else:
        windowed = events_nested.filter(time_range_predicate(now, duration))
    return filter_records(windowed, query)


def records_query(
    spark: SparkSession, sf_dir: str, query: Mapping[str, object]
) -> tuple[ValidationResult, DataFrame | None]:
    """Full front-door path: validate -> plan. Bad request -> (result, None),
    mirroring the reference's 400-and-stop (index.js:52-55)."""
    validation = QueryParamValidator().validate_params(query)
    if validation.badRequest:
        return validation, None
    nested = to_nested(load_events(spark, sf_dir))
    return validation, records_plan(nested, query)


def sink_json(df: DataFrame) -> DataFrame:
    """JSON sink (responses/index.js:26-37): one JSON document per row.

    The reference serializes the whole array on one thread
    (JSON.stringify, responses/index.js:34); here serialization is
    distributed (to_json per row on executors) and only the final
    strings move. For file output use df.write.json(path).
    """
    return df.select(F.to_json(F.struct(*df.columns)).alias("json"))


# --- declarative pipeline DSL ----------------------------------------------

_ALLOWED_AGGS = {"count", "sum", "min", "max", "avg"}


def pipeline_from_spec(spark, tables: dict, spec: dict):
    """Execute a declarative JSON pipeline spec — the generalization of
    the reference's query-param API (queryTools validates five fixed
    params; this validates and runs an arbitrary filter/project/join/
    aggregate/sort/limit chain), the shape a saved-query service or a
    notebook-to-production handoff uses.

    Spec grammar (all declarative, compiled to ONE DataFrame plan so
    Catalyst optimizes across steps — the DSL adds zero execution
    machinery):

      {"source": "events",
       "steps": [
         {"op": "filter", "expr": "event_type = 'click'"},
         {"op": "join", "table": "customer", "on": "...", "how": "inner",
          "broadcast": true},
         {"op": "select", "columns": ["..."]},
         {"op": "with_column", "name": "c", "expr": "..."},
         {"op": "group_agg", "keys": [...], "aggs": [
            {"fn": "sum", "col": "x", "alias": "sx"}]},
         {"op": "order_by", "columns": ["c desc", "d"]},
         {"op": "limit", "n": 100}]}

    Validation mirrors api.py's stance: unknown ops/aggs raise
    ValueError BEFORE any execution (the 400 path), and expressions go
    through Spark's SQL parser (injection surface identical to any SQL
    front door)."""
    from pyspark.sql import functions as F

    if spec.get("source") not in tables:
        raise ValueError(f"unknown source {spec.get('source')!r}")
    df = tables[spec["source"]]
    for i, step in enumerate(spec.get("steps", [])):
        op = step.get("op")
        if op == "filter":
            df = df.filter(F.expr(step["expr"]))
        elif op == "select":
            df = df.select(*step["columns"])
        elif op == "with_column":
            df = df.withColumn(step["name"], F.expr(step["expr"]))
        elif op == "join":
            other = tables.get(step["table"])
            if other is None:
                raise ValueError(f"unknown join table {step['table']!r}")
            if step.get("broadcast"):
                other = F.broadcast(other)
            df = df.join(other, F.expr(step["on"]), step.get("how", "inner"))
        elif op == "group_agg":
            aggs = []
            for a in step["aggs"]:
                if a["fn"] not in _ALLOWED_AGGS:
                    raise ValueError(f"agg fn {a['fn']!r} not allowed")
                col = F.count(F.lit(1)) if a["fn"] == "count" else getattr(
                    F, a["fn"]
                )(a["col"])
                aggs.append(col.alias(a["alias"]))
            df = df.groupBy(*step["keys"]).agg(*aggs)
        elif op == "order_by":
            cols = [
                F.col(c[: -len(" desc")]).desc()
                if c.lower().endswith(" desc")
                else F.col(c)
                for c in step["columns"]
            ]
            df = df.orderBy(*cols)
        elif op == "limit":
            df = df.limit(int(step["n"]))
        else:
            raise ValueError(f"unknown op {op!r} at step {i}")
    return df
