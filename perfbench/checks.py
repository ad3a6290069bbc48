"""Result checks that run outside the timed loop, once per invocation.

- Catalog workloads: each query's output (written by the first warm-up
  pass) against its DuckDB oracle over the same parquet tables, with the
  dtype-strict, bit-exact compare of `scripts/local_verify.py`.
- milan_etl: the top-cells output against a DuckDB replay of the
  reference's SQL over the generated CSVs.

Each function returns {name: error or None}.
"""
import json
import math
import os
import sys

import duckdb
import pandas as pd

import milan_gen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(ROOT, "scripts"))
from local_verify import TABLES, canon, values_equal  # noqa: E402


def compare(spark_df, oracle_df):
    """None when equal; else the first difference, as local_verify names it."""
    s, o = canon(spark_df), canon(oracle_df)
    if list(s.columns) != list(o.columns):
        return f"SCHEMA_MISMATCH spark={list(s.columns)} oracle={list(o.columns)}"
    if len(s) != len(o):
        return f"ROWCOUNT_MISMATCH spark={len(s)} oracle={len(o)}"
    for c in s.columns:
        if str(s[c].dtype) != str(o[c].dtype):
            return f"DTYPE_MISMATCH col={c} spark={s[c].dtype} oracle={o[c].dtype}"
    for c in s.columns:
        for i, (x, y) in enumerate(zip(s[c].tolist(), o[c].tolist())):
            x = None if (isinstance(x, float) and math.isnan(x)) else x
            y = None if (isinstance(y, float) and math.isnan(y)) else y
            if not values_equal(x, y, 0):
                return f"VALUE_MISMATCH col={c} row={i} spark={x!r} oracle={y!r}"
    return None


def catalog(check_dir, data_dir, queries):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    out = {}
    for q in queries:
        path = os.path.join(check_dir, q)
        if not os.path.isdir(path):
            out[q] = "NO_OUTPUT"
        elif q not in oracles:
            out[q] = "NO_ORACLE"
        else:
            try:
                out[q] = compare(pd.read_parquet(path), con.sql(oracles[q]).df())
            except Exception as e:  # an oracle or read error is a failed check
                out[q] = f"ERROR {str(e).splitlines()[0][:160]}"
    con.close()
    return out


def milan(check_dir, milan_dir):
    path = os.path.join(check_dir, "top_cells")
    if not os.path.isdir(path):
        return {"top_cells": "NO_OUTPUT"}
    con = duckdb.connect()
    try:
        oracle = con.sql(milan_gen.top_cells_sql(milan_dir)).df()
    finally:
        con.close()
    return {"top_cells": compare(pd.read_parquet(path), oracle)}
