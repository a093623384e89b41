#!/usr/bin/env python3
"""Certify a workload's oracled results against DuckDB.

Usage: python3 c360bench/certify.py <workload> [--corpus-sf 0.1]

Runs the workload's set-up, writes each oracled query's result as
parquet (`run.py --dump`), runs the query's oracle SQL in DuckDB over the
same corpus, and compares the two exactly: column names (sorted), row
count and every value in row order. Goldens recorded with `run.py
--record 1` on a corpus that passes here are certified.
"""
import glob
import json
import os
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    workload = sys.argv[1]
    extra = sys.argv[2:]
    out = os.path.join(os.path.dirname(HERE), ".c360bench", "certify",
                       workload)
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                    "--workload", workload, "--seed", "1", "--seconds", "1",
                    "--trace", "0", "--dump", out] + extra, check=True)
    corpus = open(os.path.join(out, "corpus.txt")).read().strip()
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(corpus, f"{t}.parquet")
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    fails = []
    for name in sorted(oracle):
        exp = con.execute(oracle[name]).fetch_arrow_table()
        files = sorted(glob.glob(os.path.join(out, name, "*.parquet")))
        got = con.execute("SELECT * FROM read_parquet(?)",
                          [files]).fetch_arrow_table()
        exp = exp.select(sorted(exp.column_names))
        got = got.select(sorted(got.column_names))
        ok = (exp.column_names == got.column_names
              and exp.to_pylist() == got.to_pylist())
        print(f"{name}: {'OK' if ok else 'MISMATCH'} ({exp.num_rows} rows)")
        if not ok:
            fails.append(name)
    print(f"== {len(oracle) - len(fails)} ok, {len(fails)} mismatch"
          + (": " + ",".join(fails) if fails else ""))
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
