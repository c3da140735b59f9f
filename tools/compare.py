#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each oracle SQL
from outDir/oracle_sql.json in DuckDB over the sfDir parquet tables and
compare to the Spark parquet dumps (exact, column-name-sorted, row by row,
NaN == NaN and null == null, arrays and structs element by element).

Usage: compare.py <sfDir> <outDir> [query ...]
"""
import json, sys, glob, os
import duckdb
import numpy as np
import pandas as pd


def same(x, y):
    """Exact equality of two cells, recursing into lists and structs."""
    if isinstance(x, np.ndarray):
        x = x.tolist()
    if isinstance(y, np.ndarray):
        y = y.tolist()
    if isinstance(x, (list, tuple)) or isinstance(y, (list, tuple)):
        return (isinstance(x, (list, tuple)) and isinstance(y, (list, tuple))
                and len(x) == len(y) and all(map(same, x, y)))
    if isinstance(x, dict) or isinstance(y, dict):
        return (isinstance(x, dict) and isinstance(y, dict)
                and x.keys() == y.keys() and all(same(x[k], y[k]) for k in x))
    if pd.isna(x) or pd.isna(y):
        return bool(pd.isna(x) and pd.isna(y))
    return bool(x == y)


def mismatches(a, b):
    """Row positions where columns a and b differ."""
    return [i for i, (x, y) in enumerate(zip(a, b)) if not same(x, y)]


sfdir, outdir = sys.argv[1], sys.argv[2]
only = set(sys.argv[3:])

con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    p = f"{sfdir}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
fail = 0
for name, sql in sorted(oracle.items()):
    if only and name not in only:
        continue
    files = glob.glob(f"{outdir}/{name}/*.parquet")
    if not files:
        print(f"{name}: NO SPARK OUTPUT"); fail += 1; continue
    try:
        odf = con.execute(sql).fetchdf()
    except Exception as e:
        print(f"{name}: ORACLE SQL ERROR: {e}"); fail += 1; continue
    sdf = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
    # driver sorts columns by name before hashing
    odf = odf[sorted(odf.columns)]
    sdf = sdf[sorted(sdf.columns)]
    if list(odf.columns) != list(sdf.columns):
        print(f"{name}: SCHEMA MISMATCH spark={list(sdf.columns)} oracle={list(odf.columns)}"); fail += 1; continue
    if len(odf) != len(sdf):
        print(f"{name}: ROWS MISMATCH spark={len(sdf)} oracle={len(odf)}"); fail += 1; continue
    odf = odf.reset_index(drop=True); sdf = sdf.reset_index(drop=True)
    bad = {c: rows for c in odf.columns if (rows := mismatches(odf[c], sdf[c]))}
    if bad:
        print(f"{name}: VALUE MISMATCH in cols {list(bad)}")
        row = next(iter(bad.values()))[0]
        print(f"  first diff row {row}: oracle={odf.iloc[row].to_dict()} spark={sdf.iloc[row].to_dict()}")
        fail += 1
    else:
        print(f"{name}: OK ({len(sdf)} rows)")
sys.exit(1 if fail else 0)
