"""Local correctness harness mirroring the driver's verify step.

Runs every queries() entry at the given scale factor on Spark AND its
oracle_sql() twin on DuckDB, then compares row count, column names, and
order-insensitive values (columns sorted by name, rows sorted, floats
rounded). The session runs local[$SPARK_GRAFT_CPUS] (the host's cores
when unset). Usage:

    python tools/check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time
import traceback

import duckdb
import pandas as pd

sys.path.insert(0, ".")

from kinesis_stream_reader_spark.session import get_host_spark  # noqa: E402
from kinesis_stream_reader_spark.sources.tables import TABLES  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].astype("float64").round(6)
        elif df[c].dtype.kind in "iu":
            df[c] = df[c].astype("Int64")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_host_spark("check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL {name}: spark error")
            traceback.print_exc()
            failures += 1
            continue
        elapsed = time.perf_counter() - t0
        if name not in oracles:
            print(f"ok?  {name}: rows-only check, {len(spark_pdf)} rows ({elapsed:.1f}s)")
            continue
        try:
            duck_pdf = con.sql(oracles[name]).df()
        except Exception:
            print(f"FAIL {name}: duckdb error")
            traceback.print_exc()
            failures += 1
            continue
        a, b = canon(spark_pdf), canon(duck_pdf)
        if list(a.columns) != list(b.columns):
            print(f"FAIL {name}: columns {list(a.columns)} vs {list(b.columns)}")
            failures += 1
        elif len(a) != len(b):
            print(f"FAIL {name}: rows {len(a)} vs {len(b)}")
            failures += 1
        elif not a.equals(b):
            neq = (a != b) & ~(a.isna() & b.isna())
            print(f"FAIL {name}: value mismatch in {neq.any()[neq.any()].index.tolist()}")
            print("spark:", a[neq.any(axis=1)].head(3).to_string())
            print("duck :", b[neq.any(axis=1)].head(3).to_string())
            failures += 1
        else:
            print(f"PASS {name}: {len(a)} rows ({elapsed:.1f}s)")
    spark.stop()
    print("failures:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
