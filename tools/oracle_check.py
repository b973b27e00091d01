#!/usr/bin/env python3
"""Local mimic of the driver's DuckDB-oracle compare.

Usage: python3 tools/oracle_check.py <verify_out_dir> [sf_dir] [--timeout SECONDS]

Reads each <out>/<name>/ parquet (Spark result) and runs the matching
SQL from <out>/oracle_sql.json in DuckDB over the same sf tables.
Compares: schema (column names sorted), row count, and exact values
(rows sorted by all columns). Reports per-query PASS/FAIL with diffs.
A DuckDB query still running after --timeout seconds (default 600, 0 =
no limit) is interrupted and reported as [TIMEOUT]; a timeout is never
a pass, and any failure or timeout makes the exit status 1.
"""
import argparse, sys, os, glob, json, threading
import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dtype, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
        elif s.dtype == object:
            # decimals from duckdb -> float-safe string compare via repr
            if len(s) and type(s.iloc[0]).__name__ == "Decimal":
                df[c] = s.astype("float64")
    # sort rows deterministically
    try:
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    except Exception:
        df = df.reset_index(drop=True)
    return df


def run_oracle(con, sql, timeout):
    """The query's result, or None when it ran past `timeout` seconds."""
    fired = threading.Event()

    def interrupt():
        fired.set()
        con.interrupt()

    timer = threading.Timer(timeout, interrupt) if timeout > 0 else None
    if timer:
        timer.start()
    try:
        return con.execute(sql).df()
    except Exception:
        if fired.is_set():
            return None
        raise
    finally:
        if timer:
            timer.cancel()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("out", nargs="?", default="/tmp/verify_out")
    ap.add_argument("sf", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("--timeout", type=float, default=600,
                    help="seconds one DuckDB query may run (0 = no limit)")
    args = ap.parse_args()
    out, sf = args.out, args.sf
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    n_pass = n_fail = n_skip = n_timeout = 0
    for name in sorted(os.listdir(out)):
        d = os.path.join(out, name)
        if not os.path.isdir(d):
            continue
        files = glob.glob(f"{d}/*.parquet")
        if not files:
            print(f"[FAIL] {name}: no spark output"); n_fail += 1; continue
        spark_df = pq.ParquetDataset(files).read().to_pandas()
        if name not in oracle:
            print(f"[SKIP] {name}: no oracle ({len(spark_df)} rows)"); n_skip += 1
            continue
        try:
            duck_df = run_oracle(con, oracle[name], args.timeout)
        except Exception as e:
            print(f"[FAIL] {name}: oracle SQL error: {e}"); n_fail += 1; continue
        if duck_df is None:
            print(f"[TIMEOUT] {name}", flush=True); n_timeout += 1; continue
        a, b = normalize(spark_df), normalize(duck_df)
        if list(a.columns) != list(b.columns):
            print(f"[FAIL] {name}: columns spark={list(a.columns)} duck={list(b.columns)}")
            n_fail += 1; continue
        if len(a) != len(b):
            print(f"[FAIL] {name}: rows spark={len(a)} duck={len(b)}"); n_fail += 1; continue
        bad = []
        for c in a.columns:
            av, bv = a[c].values, b[c].values
            if pd.api.types.is_float_dtype(a[c]):
                eq = (av == bv) | (pd.isna(av) & pd.isna(bv))
                if not eq.all():
                    mx = np.nanmax(np.abs(av - bv))
                    bad.append(f"{c} (maxdiff={mx:g}, {int((~eq).sum())} rows)")
            else:
                eq = (pd.Series(av).astype(str).values == pd.Series(bv).astype(str).values)
                if not eq.all():
                    i = int(np.argmax(~eq))
                    bad.append(f"{c} (first diff row {i}: {av[i]!r} vs {bv[i]!r})")
        if bad:
            print(f"[FAIL] {name}: value diffs: {'; '.join(bad)}"); n_fail += 1
        else:
            print(f"[PASS] {name} ({len(a)} rows)", flush=True); n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_timeout} timeout, {n_skip} rows-only")
    sys.exit(1 if n_fail or n_timeout else 0)


if __name__ == "__main__":
    main()
