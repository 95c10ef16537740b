#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

Loads each <verifyOutDir>/<name> parquet (Spark result), runs the matching
oracle SQL from <verifyOutDir>/oracle_sql.json in DuckDB against the sfDir
tables, and compares: row count, column names/dtypes, and exact values after
sorting columns by name and rows by all columns. Strictest plausible compare —
if this passes, any sane driver compare passes.
"""
import sys, json, glob, os
import duckdb
import pandas as pd
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize list/array cells to tuples so sorting/compare works
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = n_skip = 0
    for name in sorted(oracle):
        res_dir = f"{out_dir}/{name}"
        files = glob.glob(f"{res_dir}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark result parquet")
            n_fail += 1
            continue
        try:
            spark_df = pd.concat([pd.read_parquet(f) for f in files])
            duck_df = con.sql(oracle[name]).df()
        except Exception as e:
            print(f"FAIL {name}: exec error {e}")
            n_fail += 1
            continue
        s, d = canon(spark_df), canon(duck_df)
        if list(s.columns) != list(d.columns):
            print(f"FAIL {name}: cols spark={list(s.columns)} duck={list(d.columns)}")
            n_fail += 1
            continue
        if len(s) != len(d):
            print(f"FAIL {name}: rows spark={len(s)} duck={len(d)}")
            n_fail += 1
            continue
        dt_mismatch = [(c, str(s[c].dtype), str(d[c].dtype))
                       for c in s.columns if str(s[c].dtype) != str(d[c].dtype)]
        eq = True
        for c in s.columns:
            sv, dv = s[c].values, d[c].values
            if np.issubdtype(s[c].dtype, np.floating) or np.issubdtype(d[c].dtype, np.floating):
                col_eq = np.array_equal(sv.astype(float), dv.astype(float), equal_nan=True)
            else:
                col_eq = (pd.Series(sv).fillna("__N__") == pd.Series(dv).fillna("__N__")).all()
            if not col_eq:
                eq = False
                bad = [i for i in range(len(sv)) if not _cell_eq(sv[i], dv[i])][:3]
                print(f"FAIL {name}: col '{c}' differs at rows {bad}: "
                      f"spark={[sv[i] for i in bad]} duck={[dv[i] for i in bad]}")
                break
        if eq:
            tag = f" (dtype diff: {dt_mismatch})" if dt_mismatch else ""
            print(f"PASS {name}: {len(s)} rows{tag}")
            n_pass += 1
        else:
            n_fail += 1
    # queries without oracle = rows-only
    print(f"== {n_pass} pass, {n_fail} fail ==")
    if not oracle:
        print(f"FAIL: {out_dir}/oracle_sql.json names no query")
    sys.exit(1 if n_fail or not oracle else 0)


def _cell_eq(a, b):
    try:
        if isinstance(a, float) or isinstance(b, float):
            return (np.isnan(a) and np.isnan(b)) or a == b
        return a == b
    except Exception:
        return False


if __name__ == "__main__":
    main()
