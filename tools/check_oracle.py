#!/usr/bin/env python3
"""Local mimic of the driver's DuckDB-oracle comparison.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

For each query result parquet in <verifyOutDir>/<name>/, runs the matching
oracle SQL from <verifyOutDir>/oracle_sql.json in DuckDB over the same
parquet tables, sorts columns by name, sorts rows, and compares values.

The MinHash oracles (dedup_incremental_near, dedup_minhash) build GBs of
TEMP tables even at sf0.001, so memory is bounded: each query runs on its
own DuckDB connection (its TEMP tables go with it) under a fixed memory
limit, spilling to a temporary directory beyond it, and its frames are
dropped once it is compared.
"""
import sys, json, glob, os, tempfile
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
MEMORY_LIMIT = "2GB"


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True, kind="mergesort",
                        na_position="first")
    return df


def norm_cell(v):
    import decimal, datetime
    import numpy as np
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (np.floating, float)):
        f = float(v)
        return None if f != f else f
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        return pd.Timestamp(v).isoformat()
    return v


def duck_result(sf_dir, spill_dir, sql):
    """`sql` on a fresh connection: its TEMP tables are freed on return."""
    con = duckdb.connect(config={"memory_limit": MEMORY_LIMIT, "temp_directory": spill_dir})
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return con.execute(sql).df()
    finally:
        con.close()


def compare(spark_df, duck_df):
    a, b = canon(spark_df), canon(duck_df)
    if list(a.columns) != list(b.columns):
        return f"COL_MISMATCH spark={list(a.columns)} duck={list(b.columns)}"
    if len(a) != len(b):
        return f"ROWS_MISMATCH spark={len(a)} duck={len(b)}"
    for c in a.columns:
        av = [norm_cell(x) for x in a[c].tolist()]
        bv = [norm_cell(x) for x in b[c].tolist()]
        if av != bv:
            diffs = [(i, x, y) for i, (x, y) in enumerate(zip(av, bv)) if x != y][:3]
            return f"VAL_MISMATCH col={c} n={sum(1 for x, y in zip(av, bv) if x != y)} ex={diffs}"
    return f"OK rows={len(a)}"


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    results = {}
    with tempfile.TemporaryDirectory(prefix="oracle-spill-") as spill_dir:
        for path in sorted(glob.glob(os.path.join(out_dir, "*/"))):
            name = os.path.basename(path.rstrip("/"))
            spark_df = pd.concat(
                [pd.read_parquet(f) for f in sorted(glob.glob(path + "*.parquet"))],
                ignore_index=True) if glob.glob(path + "*.parquet") else None
            if name not in oracle:
                results[name] = f"ROWS_ONLY rows={0 if spark_df is None else len(spark_df)}"
            else:
                results[name] = compare(spark_df, duck_result(sf_dir, spill_dir, oracle[name]))
            del spark_df
    width = max(len(k) for k in results)
    n_ok = sum(1 for v in results.values() if v.startswith("OK"))
    for k, v in sorted(results.items()):
        print(f"{k:<{width}}  {v[:200]}")
    print(f"-- {n_ok}/{len([k for k in results if k in oracle])} oracle-matched, "
          f"{len(results)} total")


if __name__ == "__main__":
    main()
