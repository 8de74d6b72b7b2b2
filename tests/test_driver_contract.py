"""Driver-contract simulation: the correctness driver builds its OWN
bare SparkSession (no engine confs) and calls queries() on it. This
test reproduces that environment in a fresh JVM subprocess and runs a
conf-sensitive sample end to end — catching anything that silently
depends on session.get_spark's builder confs."""

from __future__ import annotations

import subprocess
import sys

SCRIPT = r"""
import sys
sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]")
         .config("spark.ui.enabled", "false").getOrCreate())
import __spark_entry__ as e
qs = e.queries()
sample = [
    "records_pipeline",        # nested projection + filters
    "join_bucketed_colocated", # saveAsTable + warehouse handling
    "gap_fill_locf",           # sequence/explode + window
    "udtf_token_stats",        # Python UDTF registration
    "streaming_upsert_compact",# foreachBatch + checkpoint dirs
    "dedup_minhash_lsh",       # window + xxhash pipeline
    "streaming_sessionize_native",  # session_window append-mode drain
    "multimodal_image_decode", # mapInArrow codec path
    "ann_pq",                  # explode/slice HOFs + packed argmin
]
for name in sample:
    n = qs[name](spark, "/root/testdata/sf0.001").count()
    print(f"OK {name} {n}")
print("DONE")
"""


def test_bare_session_runs_conf_sensitive_queries():
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT],
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = proc.stdout
    assert "DONE" in out, out[-2000:]
    assert out.count("OK ") == 9, out[-2000:]
