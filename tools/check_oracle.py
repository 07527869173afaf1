#!/usr/bin/env python3
"""Dev-only local replica of the driver's DuckDB correctness gate.

NOT part of the shipped library (the engine is pure Scala/Spark). This
mirrors what the driver does with Verify's output: run each oracle SQL in
DuckDB over the same parquet tables, then compare against the Spark
result parquet — columns sorted by name, exact value equality.

Usage: python3 tools/check_oracle.py [--only q1,q2,...] [--memory-limit 8GB]
           <sfDir> <verifyOutDir>

Every query runs in its own fresh in-memory DuckDB connection, so one
query's memory is released before the next starts. --only checks just
the named queries; --memory-limit sets DuckDB's memory_limit on every
connection.
"""
import argparse, sys, json, glob, math
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.reset_index(drop=True)

def cells_equal(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    if isinstance(a, (list, tuple)) or str(type(a)).find("ndarray") >= 0:
        return list(a) == list(b)
    return a == b

def compare(name, spark_df, duck_df, sort_rows):
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        return f"COLUMN MISMATCH spark={sorted(spark_df.columns)} duck={sorted(duck_df.columns)}"
    s, d = norm(spark_df), norm(duck_df)
    if len(s) != len(d):
        return f"ROWCOUNT MISMATCH spark={len(s)} duck={len(d)}"
    # The driver's hash compare is dtype-sensitive: DuckDB SUM(BIGINT)
    # returns HUGEINT which pandas renders as float64 — int-vs-float
    # columns hash-mismatch even when every value compares equal.
    for col in s.columns:
        kinds = {s[col].dtype.kind, d[col].dtype.kind}
        if kinds in ({"i", "f"}, {"u", "f"}):
            return (f"DTYPE MISMATCH col {col}: spark={s[col].dtype} "
                    f"duck={d[col].dtype} (cast the oracle side explicitly)")
    if sort_rows:
        s = s.sort_values(by=list(s.columns), kind="mergesort").reset_index(drop=True)
        d = d.sort_values(by=list(d.columns), kind="mergesort").reset_index(drop=True)
    bad = []
    for col in s.columns:
        sv, dv = s[col].tolist(), d[col].tolist()
        for i, (a, b) in enumerate(zip(sv, dv)):
            if not cells_equal(a, b):
                bad.append(f"row {i} col {col}: spark={a!r} duck={b!r}")
                if len(bad) >= 5:
                    return "VALUE MISMATCH\n    " + "\n    ".join(bad)
    if bad:
        return "VALUE MISMATCH\n    " + "\n    ".join(bad)
    return None

def connect(sf_dir, memory_limit):
    con = duckdb.connect()
    if memory_limit:
        con.sql(f"SET memory_limit = '{memory_limit}'")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con

def check(args, oracle, name):
    """Check one query's Spark output against its oracle, run in a fresh
    DuckDB connection; True = pass."""
    parts = sorted(glob.glob(f"{args.out_dir}/{name}/part-*.parquet"))
    if not parts:
        print(f"[FAIL] {name}: no spark output parts")
        return False
    spark_df = pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)
    if name not in oracle:
        print(f"[rows] {name}: no oracle; rows={len(spark_df)} "
              + ("OK" if len(spark_df) > 0 else "EMPTY(FAIL)"))
        return len(spark_df) > 0
    con = connect(args.sf_dir, args.memory_limit)
    try:
        duck_df = con.sql(oracle[name]).df()
    except Exception as e:
        print(f"[FAIL] {name}: oracle SQL error: {e}")
        return False
    finally:
        con.close()
    err = compare(name, spark_df, duck_df, sort_rows=False)
    if err and compare(name, spark_df, duck_df, sort_rows=True) is None:
        err = f"order-only mismatch (values match when row-sorted): {err.splitlines()[0]}"
    if err:
        print(f"[FAIL] {name}: {err}")
        return False
    print(f"[OK]   {name}: {len(spark_df)} rows hash-match")
    return True

def main():
    ap = argparse.ArgumentParser(description="Compare Verify output against the DuckDB oracles.")
    ap.add_argument("sf_dir")
    ap.add_argument("out_dir")
    ap.add_argument("--only", help="comma-separated query names to check (default: all)")
    ap.add_argument("--memory-limit", help="DuckDB memory_limit for every connection, e.g. 8GB")
    args = ap.parse_args()
    with open(f"{args.out_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    # every output dir and every oracle, so an oracle without output
    # fails in check() like any other missing output
    names = sorted({p.rstrip("/").split("/")[-1]
                    for p in glob.glob(f"{args.out_dir}/*/")} | set(oracle))
    if args.only:
        names = [n for n in args.only.split(",") if n]
    failures = sum(not check(args, oracle, name) for name in names)
    sys.exit(1 if failures else 0)

if __name__ == "__main__":
    main()
