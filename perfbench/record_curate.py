#!/usr/bin/env python3
"""Records the curate workload's expected output hashes.

Usage (from the repository root, after one `perfbench/run.py` build):

    python3 perfbench/record_curate.py OUT_DIR

Runs each curate query on the unpermuted corpus in perfbench/data, writes
each query's order-independent content hash to
perfbench/data/curate_expected.tsv, and checks every result against DuckDB
running the query's oracle SQL over the same files, compared the way
tools/check.py compares them: columns by name, rows sorted, exact values.
Exits non-zero when a result disagrees with DuckDB; the hashes are then not
to be committed.
"""
import glob
import json
import os
import subprocess
import sys

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def agrees(name, spark_df, duck_df):
    if list(spark_df.columns) != list(duck_df.columns) or len(spark_df) != len(duck_df):
        print("FAIL %s: shape %s vs %s" % (name, spark_df.shape, duck_df.shape))
        return False
    for c in spark_df.columns:
        a, b = spark_df[c].tolist(), duck_df[c].tolist()
        bad = [i for i in range(len(a)) if not (a[i] == b[i] or (pd.isna(a[i]) and pd.isna(b[i])))]
        if bad:
            print("FAIL %s: column %s differs at %d rows" % (name, c, len(bad)))
            return False
    print("ok   %s (%d rows)" % (name, len(spark_df)))
    return True


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    out = os.path.abspath(sys.argv[1])
    data = os.path.join(HERE, "data")
    with open(os.path.join(HERE, "target", "launch.txt")) as fh:
        jvm = [l for l in fh.read().splitlines() if l]
    subprocess.run(["java"] + jvm + ["perfbench.Record", data, out], cwd=ROOT, check=True)
    con = duckdb.connect()
    for t in ("documents",):
        con.sql("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/%s.parquet')" % (t, data, t))
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    ok = True
    for name in sorted(oracle):
        files = glob.glob(os.path.join(out, name, "*.parquet"))
        spark_df = canon(pd.concat([pd.read_parquet(f) for f in files]))
        ok &= agrees(name, spark_df, canon(con.sql(oracle[name]).df()))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
