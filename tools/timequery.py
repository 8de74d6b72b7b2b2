"""Isolated-warm per-query timing probe: bench.py's warmup + _run_once
methodology over a named subset, N repeats, min + all walls to stderr-safe
file or stdout. The session runs local[$SPARK_GRAFT_CPUS] (the host's
cores when unset), and each query runs once untimed before its timed
repeats, so a wall does not depend on the query's position in the list.
Usage:
  SPARK_GRAFT_SF_DIR=... python tools/timequery.py [-n N] name...
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kinesis_stream_reader_spark.session import get_host_spark  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    n = 2
    if args and args[0] == "-n":
        n = int(args[1]); args = args[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_host_spark("timequery")
    qs = entrymod.queries()
    from kinesis_stream_reader_spark.sources.tables import TABLES
    for table in TABLES:
        spark.read.parquet(f"{sf_dir}/{table}.parquet").count()
    from kinesis_stream_reader_spark.sources.raw import kpl_raw_records
    kpl_raw_records(spark, sf_dir).count()
    from kinesis_stream_reader_spark.operators.rowmap import map_batches
    map_batches(spark.range(10_000), lambda batches: batches, "id long").count()
    from kinesis_stream_reader_spark.operators.events import to_nested
    from kinesis_stream_reader_spark.sources.tables import load_events
    to_nested(load_events(spark, sf_dir)).count()
    import shutil, tempfile
    warm_dir = tempfile.mkdtemp(prefix="ksr_tq_warm_src_")
    warm_ckpt = tempfile.mkdtemp(prefix="ksr_tq_warm_ckpt_")
    try:
        spark.range(1_000).write.mode("overwrite").parquet(warm_dir)
        (spark.readStream.schema("id long").parquet(warm_dir).groupBy().count()
         .writeStream.format("memory").queryName("ksr_tq_warm").outputMode("complete")
         .option("checkpointLocation", warm_ckpt).trigger(availableNow=True)
         .start().awaitTermination())
        spark.catalog.dropTempView("ksr_tq_warm")
    finally:
        shutil.rmtree(warm_dir, ignore_errors=True)
        shutil.rmtree(warm_ckpt, ignore_errors=True)
    shuffle_parts = spark.conf.get("spark.sql.shuffle.partitions")
    preexisting = {r.name for r in spark.catalog.listTables()}

    def cleanup() -> None:
        for s in spark.streams.active:
            s.stop()
        for r in spark.catalog.listTables():
            if r.isTemporary and r.name not in preexisting:
                spark.catalog.dropTempView(r.name)
        spark.catalog.clearCache()
        spark.conf.set("spark.sql.shuffle.partitions", shuffle_parts)

    out = {}
    for name in args:
        qs[name](spark, sf_dir).count()  # untimed warm run
        cleanup()
        walls = []
        for _ in range(n):
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).count()
            walls.append(round(time.perf_counter() - t0, 3))
            cleanup()
        out[name] = walls
    with open("/tmp/timequery_out.json", "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
