#!/usr/bin/env python3
"""DuckDB oracle check for the query workload.

Runs each query's `SparkEntry.oracleSql` in DuckDB over the same events
table and compares the row set with the rows Spark returned, canonicalised
the same way as the repository's oracle gate: columns sorted by name, rows
sorted, NULL/NaN folded, integral floats printed as integers, other floats
rounded to 9 digits, and int/float/timestamp column kinds compared.

Usage: python3 oracle.py <dir holding events.parquet> <query output dir>
The output dir holds one parquet directory per query and oracle_sql.json.
Exits 0 when every query matches.
"""
import glob
import json
import math
import os
import sys

import duckdb
import pandas as pd


def kind(dtype):
    k = dtype.kind
    return {"i": "int", "u": "int", "f": "float", "b": "bool", "M": "timestamp"}.get(k, "other")


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    kinds = [kind(df[c].dtype) for c in df.columns]

    def norm(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "NULL"
        if isinstance(v, float):
            if v == int(v) and abs(v) < 1e15:
                return "%d" % int(v)
            return repr(round(v, 9))
        return str(v)

    rows = sorted(tuple(norm(v) for v in r) for r in df.itertuples(index=False))
    return list(df.columns), kinds, rows


def compare(expected, got):
    """None when the two frames match, else a one-line reason."""
    exp_cols, exp_kinds, exp_rows = canon(expected)
    got_cols, got_kinds, got_rows = canon(got)
    if [c.lower() for c in exp_cols] != [c.lower() for c in got_cols]:
        return f"schema {exp_cols} vs {got_cols}"
    bad_kinds = [f"{c}: {e} vs {g}" for c, e, g in zip(exp_cols, exp_kinds, got_kinds)
                 if e != g and "other" not in (e, g)]
    if bad_kinds and exp_rows:
        return "column kinds " + "; ".join(bad_kinds)
    if len(exp_rows) != len(got_rows):
        return f"row count {len(exp_rows)} vs {len(got_rows)}"
    bad = [(a, b) for a, b in zip(exp_rows, got_rows) if a != b]
    if bad:
        return f"{len(bad)} differing rows; first: {bad[0]}"
    return None


def check(data_dir, out_dir):
    """{query: None | reason} for every query in out_dir/oracle_sql.json."""
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{os.path.join(data_dir, 'events.parquet')}'")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    result = {}
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            result[name] = "no Spark output"
            continue
        try:
            result[name] = compare(con.sql(sql).df(), pd.concat([pd.read_parquet(f) for f in files]))
        except Exception as e:  # an oracle that cannot run is a failed check
            result[name] = f"error: {e}"[:300]
    return result


if __name__ == "__main__":
    res = check(sys.argv[1], sys.argv[2])
    for name, why in res.items():
        print(f"{'OK  ' if why is None else 'FAIL'} {name}{'' if why is None else ': ' + why}")
    sys.exit(0 if all(v is None for v in res.values()) else 1)
