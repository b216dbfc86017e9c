"""DuckDB oracle compare for the `curation` workload.

Runs each query's oracle SQL (`SparkEntry.oracleSql`, dumped by the JVM
next to the Spark results) in DuckDB over the same generated documents
table, canonicalises both sides (columns sorted by name, rows sorted,
timestamps tz-naive, integer widths unified) and compares them exactly:
row count, then every value. The oracle queries run side by side, each on
a cursor of its own: most of them use one core.

The queries in STORED read only the documents every seed shares (the
first 301, see `Gen.documents`), so their oracle results are recorded
once, as row count and digest of the canonical result, and each run
compares its Spark result with those. They take most of the oracle's
time (about 7 s on 4 cores). Re-record them after changing the document
generator or one of those queries, from a run's dumps:

    python3 perfbench/oracle.py --record ORACLE_DIR DOCUMENTS_DIR
"""
import concurrent.futures
import glob
import hashlib
import json
import os
import sys

import duckdb
import pandas as pd

# query -> (rows, digest of the canonical DuckDB result) over the shared
# documents
STORED = {
    "q118_curation_chain_excision": (89, "fbc8af2658361b34"),
    "q43_minhash_lsh_pairs": (11543, "7812d5432e835eb9"),
    "q82_dedup_clusters": (301, "1a7252adc1d65e3e"),
}


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            try:
                df[c] = df[c].dt.tz_localize(None)
            except (TypeError, AttributeError):
                pass
        kind = str(df[c].dtype)
        if kind == "float32":
            df[c] = df[c].astype("float64")
        elif kind.startswith("int") or kind.startswith("uint"):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), kind="mergesort", ignore_index=True)


def digest(df: pd.DataFrame) -> str:
    return hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()[:16]


def oracle_results(sqls: dict, documents: str) -> dict:
    """{query: future of its DuckDB result} over the documents table."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    files = sorted(glob.glob(os.path.join(documents, "*.parquet")))
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet({files!r})")

    def run(sql):
        return con.cursor().execute(sql).df()

    with concurrent.futures.ThreadPoolExecutor(len(sqls) or 1) as pool:
        return {name: pool.submit(run, sql) for name, sql in sqls.items()}


def compare(oracle_dir: str, documents: str) -> dict:
    """Returns {query: (ok, detail)} for every query dumped in oracle_dir."""
    with open(os.path.join(oracle_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    oracle = oracle_results({q: s for q, s in sqls.items() if q not in STORED}, documents)
    out = {}
    for name in sorted(sqls):
        got_dir = os.path.join(oracle_dir, name)
        if not glob.glob(os.path.join(got_dir, "*.parquet")):
            out[name] = (False, "no Spark result")
            continue
        try:
            a = canon(pd.read_parquet(got_dir))
            b = None if name in STORED else canon(oracle[name].result())
        except Exception as e:  # a broken oracle or result is a failed check
            out[name] = (False, f"{type(e).__name__}: {e}"[:300])
            continue
        if b is None:
            rows, want = STORED[name]
            got = digest(a)
            out[name] = (len(a) == rows and got == want,
                         f"{len(a)} rows, hash {got} (stored oracle: {rows} rows, hash {want})")
        elif list(a.columns) != list(b.columns):
            out[name] = (False, f"columns {list(a.columns)} vs oracle {list(b.columns)}")
        elif len(a) != len(b):
            out[name] = (False, f"rows {len(a)} vs oracle {len(b)}")
        elif any(a[c].dtype.kind != b[c].dtype.kind
                 and {a[c].dtype.kind, b[c].dtype.kind} <= set("iuf") for c in a.columns):
            # an int column against a float one hashes differently
            out[name] = (False, f"numeric kinds {list(a.dtypes)} vs oracle {list(b.dtypes)}")
        else:
            try:
                pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
                out[name] = (True, f"{len(a)} rows, hash {digest(a)}")
            except AssertionError as e:
                out[name] = (False, " | ".join(str(e).split("\n")[:4]))
    return out


def record(oracle_dir: str, documents: str) -> None:
    """Prints a STORED entry for every query, from the DuckDB oracle over
    `documents`."""
    with open(os.path.join(oracle_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    for name, res in sorted(oracle_results(sqls, documents).items()):
        b = canon(res.result())
        print(f'    "{name}": ({len(b)}, "{digest(b)}"),')


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] != "--record":
        sys.exit(__doc__)
    record(sys.argv[2], sys.argv[3])
