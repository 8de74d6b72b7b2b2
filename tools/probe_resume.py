"""Isolated timing probe for streaming_resume_exactly_once (round-6
verdict item 1): run the query N times in one session at sf0.1, first
cold then warm, to separate first-exerciser checkpoint-machinery cost
from the query's steady-state cost. Usage:
  python tools/probe_resume.py [sf_dir] [reps]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")

from kinesis_stream_reader_spark.session import get_spark  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    spark = get_spark("probe_resume")
    fn = entrymod.queries()["streaming_resume_exactly_once"]
    for i in range(reps):
        t0 = time.perf_counter()
        n = fn(spark, sf_dir).count()
        print(f"rep{i}: {time.perf_counter() - t0:.2f}s rows={n}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
