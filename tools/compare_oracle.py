#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle correctness check.

Usage: python3 tools/compare_oracle.py <sfDir> <verifyOutDir>

For each query dir under verifyOutDir: load the Spark parquet result,
run the matching oracle SQL from oracle_sql.json in DuckDB (tables
registered as views over <sfDir>/*.parquet), sort columns by name, sort
rows, and compare cell values (exact for ints/strings, tiny epsilon for
floats, µs-truncated for timestamps). An oracle_sql.json key with no
result dir fails too: Verify writes no dir for a query that threw.
"""
import json, math, sys, glob, os
import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].dt.floor("us")
    if len(df) > 0:
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df

def cells_equal(a, b) -> bool:
    if pd.isna(a) and pd.isna(b):
        return True
    if isinstance(a, float) or isinstance(b, float):
        try:
            af, bf = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if math.isnan(af) and math.isnan(bf):
            return True
        return af == bf or abs(af - bf) <= 1e-9 * max(1.0, abs(af), abs(bf))
    return a == b

def compare(name, spark_df, duck_df):
    s, d = canon(spark_df), canon(duck_df)
    if list(s.columns) != list(d.columns):
        return f"SCHEMA spark={list(s.columns)} duck={list(d.columns)}"
    if len(s) != len(d):
        return f"ROWS spark={len(s)} duck={len(d)}"
    for c in s.columns:
        sa, da = s[c].tolist(), d[c].tolist()
        for i, (x, y) in enumerate(zip(sa, da)):
            if not cells_equal(x, y):
                return f"VALUE col={c} row={i} spark={x!r} duck={y!r}"
    return None

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    names = sorted(d for d in os.listdir(out_dir)
                   if os.path.isdir(os.path.join(out_dir, d)))
    n_pass = n_fail = n_noora = 0
    for name in sorted(set(oracle) - set(names)):
        print(f"FAIL {name}: no spark output"); n_fail += 1
    for name in names:
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        spark_df = pd.concat([pd.read_parquet(f) for f in sorted(files)])
        if name not in oracle:
            print(f"SKIP {name}: rows-only ({len(spark_df)} rows)"); n_noora += 1; continue
        try:
            duck_df = con.sql(oracle[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {str(e)[:300]}"); n_fail += 1; continue
        err = compare(name, spark_df, duck_df)
        if err:
            print(f"FAIL {name}: {err}"); n_fail += 1
        else:
            print(f"PASS {name} ({len(spark_df)} rows)"); n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_noora} rows-only")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
