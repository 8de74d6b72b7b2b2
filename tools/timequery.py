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
from bench import warmup  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    n = 2
    if args and args[0] == "-n":
        n = int(args[1]); args = args[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_host_spark("timequery")
    qs = entrymod.queries()
    cleanup = warmup(spark, sf_dir)

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
