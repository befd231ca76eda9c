#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate: run graft.Verify at a
given scale factor, then execute each oracle_sql.json query in DuckDB over
the same parquet tables and compare against the Spark result parquet
(columns sorted by name, rows in emitted order, values normalized).

Usage: python3 local_oracle_check.py [sfDir] [outDir] [names] [--no-run]

`names` (optional) is a comma-separated list of gate-name substrings,
passed through to graft.Verify's own filter: only matching gates run and
are compared (e.g. `sim2,sim3,st1` while iterating on the index
lifecycle). Acceptance runs omit it and cover every gate.
"""
import json
import math
import subprocess
import sys

import duckdb
import pandas as pd

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft-verify-out"
ONLY = (sys.argv[3].split(",")
        if len(sys.argv) > 3 and not sys.argv[3].startswith("--") else None)
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def selected(name: str) -> bool:
    return ONLY is None or any(o in name for o in ONLY)


def run_verify():
    r = subprocess.run(
        ["sbt", "-batch", f"runMain graft.Verify {SF} {OUT}"
         + (f" {','.join(ONLY)}" if ONLY else "")],
        capture_output=True, text=True, timeout=1800)
    for line in r.stdout.splitlines():
        if "[verify]" in line or "error]" in line.lower():
            print(line)
    if r.returncode != 0:
        print(r.stdout[-3000:])
        sys.exit("verify run failed")


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.reset_index(drop=True)


def compare(name: str, sql: str, con) -> str:
    try:
        spark_df = norm(pd.read_parquet(f"{OUT}/{name}"))
    except Exception as e:
        return f"NO-SPARK-OUTPUT ({e})"
    try:
        duck_df = norm(con.sql(sql).df())
    except Exception as e:
        return f"ORACLE-SQL-ERROR ({e})"
    if list(spark_df.columns) != list(duck_df.columns):
        return f"SCHEMA-MISMATCH spark={list(spark_df.columns)} duck={list(duck_df.columns)}"
    if len(spark_df) != len(duck_df):
        return f"ROWCOUNT-MISMATCH spark={len(spark_df)} duck={len(duck_df)}"
    for c in spark_df.columns:
        a, b = spark_df[c], duck_df[c]
        try:
            if a.dtype.kind == "f" or b.dtype.kind == "f":
                bad = ~(
                    (a.isna() & b.isna())
                    | (a == b)
                    | ((a - b).abs() <= 0))  # exact: driver hashes, so 0 tolerance
            else:
                aa, bb = a.astype(str), b.astype(str)
                bad = aa != bb
        except Exception as e:
            return f"COMPARE-ERROR col={c} ({e})"
        if bad.any():
            i = bad.idxmax()
            return (f"VALUE-MISMATCH col={c} row={i} "
                    f"spark={spark_df[c][i]!r} duck={duck_df[c][i]!r} "
                    f"(n_bad={int(bad.sum())})")
    return "OK"


def main():
    if "--no-run" not in sys.argv:
        run_verify()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    oracles = {k: v for k, v in json.load(open(f"{OUT}/oracle_sql.json")).items()
               if selected(k)}
    n_ok = 0
    for name in sorted(oracles):
        res = compare(name, oracles[name], con)
        print(f"{'PASS' if res == 'OK' else 'FAIL'} {name}: {res}")
        n_ok += res == "OK"
    print(f"\n{n_ok}/{len(oracles)} oracle queries match")
    # rows-only queries: just confirm output exists and is non-empty
    import os
    for d in sorted(os.listdir(OUT)):
        full = f"{OUT}/{d}"
        if os.path.isdir(full) and d not in oracles and selected(d):
            try:
                n = len(pd.read_parquet(full))
                print(f"{'PASS' if n > 0 else 'FAIL'} {d}: rows-only n={n}")
            except Exception as e:
                print(f"FAIL {d}: unreadable ({e})")


if __name__ == "__main__":
    main()
