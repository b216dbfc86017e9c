#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Runs each oracle SQL from oracle_sql.json in DuckDB over the sf tables,
reads the Spark result parquet written by graft.Verify, canonicalizes
both (sort columns by name, sort rows), and compares exactly.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [query ...]
"""
import json, sys, glob, os
import duckdb
import pandas as pd

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # tz-aware → naive UTC, so Spark (instant) and DuckDB (naive) align
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            try:
                df[c] = df[c].dt.tz_localize(None)
            except (TypeError, AttributeError):
                pass
        # duckdb returns float32 lists; normalize numeric dtypes
        if df[c].dtype == 'float32':
            df[c] = df[c].astype('float64')
        if str(df[c].dtype).startswith('int'):
            df[c] = df[c].astype('int64')
        if str(df[c].dtype) in ('uint64', 'uint32'):
            df[c] = df[c].astype('int64')
    df = df.sort_values(by=list(df.columns), kind='mergesort', ignore_index=True)
    return df

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    # every oracle names a query that must have written output: Verify
    # logs a query that throws and writes no directory for it, so the
    # directory listing alone would drop that query without a word
    dirs = {os.path.basename(p) for p in glob.glob(f"{out_dir}/*") if os.path.isdir(p)}
    names = sorted(only or dirs | set(oracles))
    for name in names:
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        spark_df = pd.read_parquet(f"{out_dir}/{name}")
        if name not in oracles:
            print(f"rows {name}: {len(spark_df)} rows (no oracle)"); continue
        try:
            duck_df = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}"); n_fail += 1; continue
        a, b = canon(spark_df), canon(duck_df)
        if list(a.columns) != list(b.columns):
            print(f"FAIL {name}: columns spark={list(a.columns)} duck={list(b.columns)}")
            n_fail += 1; continue
        if len(a) != len(b):
            print(f"FAIL {name}: rows spark={len(a)} duck={len(b)}"); n_fail += 1; continue
        # driver hashes stringified values: int 1 vs float 1.0 diverge even
        # when check_exact comparison passes (the q75 HUGEINT→float64 trap)
        kind_bad = [c for c in a.columns if a[c].dtype.kind != b[c].dtype.kind
                    and {a[c].dtype.kind, b[c].dtype.kind} <= {'i', 'u', 'f'}]
        if kind_bad:
            print(f"FAIL {name}: dtype kind mismatch " +
                  ", ".join(f"{c}: spark={a[c].dtype} duck={b[c].dtype}" for c in kind_bad))
            n_fail += 1; continue
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
            print(f"PASS {name} ({len(a)} rows)"); n_pass += 1
        except AssertionError as e:
            msg = str(e).split("\n")
            print(f"FAIL {name}: " + " | ".join(msg[:6]))
            # show first few differing rows
            neq = (a != b) & ~(a.isna() & b.isna())
            bad = neq.any(axis=1)
            if bad.any():
                idx = a.index[bad][:3]
                for i in idx:
                    print(f"  row {i} spark: {a.loc[i].to_dict()}")
                    print(f"  row {i} duck : {b.loc[i].to_dict()}")
            n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail of {len(names)} expected ==")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
