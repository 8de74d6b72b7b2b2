"""DuckDB oracle for operator_suite.

Runs each suite query's ``oracle_sql()`` twin over the generated files
and stores its result in canonical form, one pickle per query.  It runs
in a process of its own, before the engine starts, so neither
``setup_s`` nor the memory figures include DuckDB.

    python3 perfbench/oracle.py INPUT_DIR OUT_DIR QUERY...
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def canon(df):
    """Order-insensitive form of a result frame: columns sorted by name,
    floats rounded to 6 places, integers as nullable Int64, objects as
    strings, rows sorted.  Two engines agree when their canonical frames
    are equal.  The same rule as ``tools/check.py``'s ``canon``, which
    cannot be imported here: importing that module loads DuckDB and the
    driver entry point, and the benchmark process must load neither."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].astype("float64").round(6)
        elif df[c].dtype.kind in "iu":
            df[c] = df[c].astype("Int64")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def result_path(out_dir: str, name: str) -> str:
    return os.path.join(out_dir, f"{name}.pkl")


def main(argv: list[str]) -> int:
    inputs, out_dir, names = argv[0], argv[1], argv[2:]
    sys.path.insert(0, ROOT)
    import duckdb

    from kinesis_stream_reader_spark.registry import oracle_sql
    from kinesis_stream_reader_spark.sources.tables import TABLES

    sql = oracle_sql()
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{out_dir}/duckdb_tmp'")
    con.execute("SET threads=2")
    for t in TABLES:
        path = f"{inputs}/{t}.parquet"
        if os.path.isdir(path):
            path += "/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    for name in names:
        canon(con.sql(sql[name]).df()).to_pickle(result_path(out_dir, name))
    con.close()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
