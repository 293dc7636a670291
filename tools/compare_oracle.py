#!/usr/bin/env python3
"""Local simulation of the driver's DuckDB-oracle compare: for each query
result parquet under OUTDIR, run the oracle SQL from oracle_sql.json in
DuckDB over the same sf tables, sort columns by name + rows, and compare
values. A table is a parquet file or a directory of parquet part files
(what `Bench scale` writes). Usage: compare_oracle.py <sfdir> <outdir>"""
import json, sys, glob, os
import duckdb
import pandas as pd

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for p in glob.glob(f"{sfdir}/*.parquet"):
    name = os.path.basename(p)[:-len(".parquet")]
    src = f"{p}/*.parquet" if os.path.isdir(p) else p
    con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{src}'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
ok = fail = 0
for name in sorted(os.listdir(outdir)):
    d = os.path.join(outdir, name)
    if not os.path.isdir(d):
        continue
    spark_df = pd.concat([pd.read_parquet(f)
                          for f in glob.glob(f"{d}/*.parquet")])
    if name not in oracle:
        print(f"{name:28s} rows-only: {len(spark_df)} rows")
        continue
    try:
        duck_df = con.sql(oracle[name]).df()
    except Exception as e:
        print(f"{name:28s} ORACLE SQL ERROR: {e}")
        fail += 1
        continue
    def canon(df):
        # mimic the driver's dtype-sensitive hash: stringify EVERY value
        # (int64 332 -> '332', float64 332.0 -> '332.0' — a dtype drift
        # between engines must surface here, not in the round report)
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            df[c] = df[c].astype(str)
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)
    a, b = canon(spark_df), canon(duck_df)
    if list(a.columns) != list(b.columns):
        print(f"{name:28s} SCHEMA MISMATCH spark={list(a.columns)} "
              f"duck={list(b.columns)}")
        fail += 1
        continue
    if len(a) != len(b):
        print(f"{name:28s} ROWCOUNT MISMATCH spark={len(a)} duck={len(b)}")
        fail += 1
        continue
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False,
                                      check_exact=True)
        print(f"{name:28s} OK ({len(a)} rows)")
        ok += 1
    except AssertionError as e:
        print(f"{name:28s} VALUE MISMATCH: {str(e)[:300]}")
        fail += 1
print(f"\n{ok} ok, {fail} fail")
sys.exit(1 if fail else 0)
