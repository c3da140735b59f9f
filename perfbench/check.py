"""Output check for the batch workloads: each query's result, as the run
wrote it, must equal its oracle SQL run by DuckDB over the same tables.

Columns are compared sorted by name, rows in order, values exactly (NaN
equals NaN, list cells by their text), as the project's driver compares
them.
"""
import glob
import os

import duckdb
import numpy as np

from inputs import TABLES


def _connect(tables_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    return con


def _same(odf, sdf):
    """None when equal, else a one-line description of the first difference."""
    odf = odf[sorted(odf.columns)].reset_index(drop=True)
    sdf = sdf[sorted(sdf.columns)].reset_index(drop=True)
    if list(odf.columns) != list(sdf.columns):
        return f"columns {list(sdf.columns)} != oracle {list(odf.columns)}"
    if len(odf) != len(sdf):
        return f"{len(sdf)} rows != oracle {len(odf)}"
    for c in odf.columns:
        a, b = odf[c], sdf[c]
        if any(isinstance(x, (list, tuple, np.ndarray)) for x in list(a.head(5)) + list(b.head(5))):
            ok = [str(x) for x in a] == [str(x) for x in b]
        else:
            ok = bool(((a == b) | (a.isna() & b.isna())).all())
        if not ok:
            return f"values differ in column {c}"
    return None


def check(tables_dir, results_dir, oracle_sql):
    """Returns {query: None | error text} for every query in `oracle_sql`."""
    con = _connect(tables_dir)
    out = {}
    for q, sql in oracle_sql.items():
        files = sorted(glob.glob(os.path.join(results_dir, q, "*.parquet")))
        if not files:
            out[q] = "no output"
            continue
        if sql is None:
            out[q] = "no oracle SQL"
            continue
        try:
            odf = con.execute(sql).fetchdf()
            sdf = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
            out[q] = _same(odf, sdf)
        except Exception as e:  # an oracle or read error fails the query's check
            out[q] = f"{type(e).__name__}: {str(e)[:200]}"
    return out
