#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each oracle SQL
from outDir/oracle_sql.json in DuckDB over the sfDir parquet tables and
compare to the Spark parquet dumps (exact, column-name-sorted, row by row,
NaN == NaN and null == null but null != NaN, arrays and structs element by
element). Both sides are read through Arrow, which keeps NULL and NaN apart.
Each column's Arrow type must also fall in the same class on both sides:
integer, decimal, floating point, string, list or struct (lists and
structs by their element types); any other type is its own class.

Usage: compare.py <sfDir> <outDir> [query ...]
"""
import json, sys, glob, math, os
import duckdb
import pyarrow.types as pat


def isnan(v):
    return isinstance(v, float) and math.isnan(v)


def same(x, y):
    """Exact equality of two cells, recursing into lists and structs.
    NULL equals only NULL and NaN only NaN."""
    if isinstance(x, (list, tuple)) or isinstance(y, (list, tuple)):
        return (isinstance(x, (list, tuple)) and isinstance(y, (list, tuple))
                and len(x) == len(y) and all(map(same, x, y)))
    if isinstance(x, dict) or isinstance(y, dict):
        return (isinstance(x, dict) and isinstance(y, dict)
                and x.keys() == y.keys() and all(same(x[k], y[k]) for k in x))
    if x is None or y is None:
        return x is None and y is None
    if isnan(x) or isnan(y):
        return isnan(x) and isnan(y)
    return bool(x == y)


def mismatches(a, b):
    """Row positions where columns a and b differ."""
    return [i for i, (x, y) in enumerate(zip(a, b)) if not same(x, y)]


def type_class(t):
    """The class of an Arrow type that the comparison holds equal."""
    if pat.is_integer(t):
        return "integer"
    if pat.is_decimal(t):
        return "decimal"
    if pat.is_floating(t):
        return "floating point"
    if pat.is_string(t) or pat.is_large_string(t):
        return "string"
    if pat.is_list(t) or pat.is_large_list(t) or pat.is_fixed_size_list(t):
        return f"list<{type_class(t.value_type)}>"
    if pat.is_struct(t):
        return "struct<" + ", ".join(f"{f.name}: {type_class(f.type)}" for f in t) + ">"
    return str(t)


def columns(rel):
    """A DuckDB result as {column name: (type class, Python values)}, read
    through Arrow so that a NULL stays None (pandas would turn a NULL
    double into NaN)."""
    tbl = rel.fetch_arrow_table()
    return {f.name: (type_class(f.type), tbl.column(f.name).to_pylist())
            for f in tbl.schema}


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
        ocols = columns(con.execute(sql))
    except Exception as e:
        print(f"{name}: ORACLE SQL ERROR: {e}"); fail += 1; continue
    scols = columns(con.execute(f"SELECT * FROM read_parquet({files!r})"))
    # driver sorts columns by name before hashing
    if sorted(ocols) != sorted(scols):
        print(f"{name}: SCHEMA MISMATCH spark={sorted(scols)} oracle={sorted(ocols)}"); fail += 1; continue
    cols = sorted(ocols)
    types = {c: (ocols[c][0], scols[c][0]) for c in cols if ocols[c][0] != scols[c][0]}
    if types:
        print(f"{name}: TYPE MISMATCH " + ", ".join(
            f"{c}: spark={sp} oracle={o}" for c, (o, sp) in types.items())); fail += 1; continue
    ocols = {c: v for c, (_, v) in ocols.items()}
    scols = {c: v for c, (_, v) in scols.items()}
    nrows = len(scols[cols[0]])
    if len(ocols[cols[0]]) != nrows:
        print(f"{name}: ROWS MISMATCH spark={nrows} oracle={len(ocols[cols[0]])}"); fail += 1; continue
    bad = {c: rows for c in cols if (rows := mismatches(ocols[c], scols[c]))}
    if bad:
        print(f"{name}: VALUE MISMATCH in cols {list(bad)}")
        row = next(iter(bad.values()))[0]
        print(f"  first diff row {row}: oracle={ {c: ocols[c][row] for c in cols} } spark={ {c: scols[c][row] for c in cols} }")
        fail += 1
    else:
        print(f"{name}: OK ({nrows} rows)")
sys.exit(1 if fail else 0)
