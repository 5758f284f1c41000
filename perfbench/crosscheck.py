#!/usr/bin/env python3
"""Cross-check the benchmark's recorded expectations against DuckDB.

    python3 perfbench/run.py --record     # writes results + oracle SQL
    python3 perfbench/crosscheck.py       # compares them with DuckDB

For every workload query that has an oracle in graft.SparkEntry.oracleSql,
run the oracle in DuckDB over the same parquet tables the benchmark read
and compare it with the engine's recorded result: same columns, same row
count, same values with columns sorted by name and rows sorted by all
columns. Queries hashed with engine-native functions have no oracle and
are reported as rows-only. Exits non-zero on any mismatch.
"""
import glob
import json
import os
import sys

import duckdb
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
RECORD = os.path.join(os.path.dirname(HERE), ".bench_build", "record")


def canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


def main():
    oracles = json.load(open(os.path.join(RECORD, "oracle_sql.json")))
    expected = json.load(open(os.path.join(HERE, "expected.json")))["queries"]
    fails = 0
    for q in expected:
        spark_df = pq.read_table(os.path.join(RECORD, q)).to_pandas()
        if q not in oracles:
            print(f"{q}: rows-only ({len(spark_df)} rows, no oracle)")
            continue
        con = duckdb.connect()
        for p in glob.glob(os.path.join(oracles[q]["data"], "*.parquet")):
            name = os.path.basename(p)[:-len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
        a, b = canon(spark_df), canon(con.execute(oracles[q]["sql"]).fetchdf())
        if list(a.columns) != list(b.columns):
            print(f"{q}: COLUMN MISMATCH engine={list(a.columns)} oracle={list(b.columns)}")
            fails += 1
        elif len(a) != len(b):
            print(f"{q}: ROWCOUNT MISMATCH engine={len(a)} oracle={len(b)}")
            fails += 1
        elif not a.equals(b):
            diff = (a != b) & ~(a.isna() & b.isna())
            n = int(diff.to_numpy().sum())
            if n:
                print(f"{q}: VALUE MISMATCH ({n} cells)")
                fails += 1
            else:
                print(f"{q}: OK ({len(a)} rows)")
        else:
            print(f"{q}: OK ({len(a)} rows)")
        if len(a) != expected[q]["rows"]:
            print(f"{q}: recorded rows {expected[q]['rows']} differ from the result ({len(a)})")
            fails += 1
    print(f"{'FAIL' if fails else 'PASS'} ({fails} failures)")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
