"""DuckDB oracle check for the query_mix results.

The JVM writes each mix query's result as parquet under one directory,
with the query's oracle SQL in `oracle_sql.json`. Each result is compared
with DuckDB running that SQL over the same tables, canonicalised the way
the repository's oracle gate does it: columns sorted by name, rows sorted
by every column, floats to 9 significant digits, bytes as hex.

DuckDB's canonical answer depends only on the SQL text and the tables,
which do not change between runs, so it is cached under `cache_dir` by
a hash of the SQL and the table files.
"""
import hashlib
import json
import os
import pickle

import duckdb
import pandas as pd


def _canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object and len(df) and isinstance(df[c].iloc[0], bytes):
            df[c] = df[c].apply(lambda b: b.hex())
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _column(s):
    """A column's cells as text: NULL for missing, floats to 9 digits."""
    if pd.api.types.is_float_dtype(s):
        return ["NULL" if v != v else f"{v:.9g}" for v in s.tolist()]
    return ["NULL" if v is None or v != v else str(v) for v in s.tolist()]


def _table(df):
    """(column names, rows as tuples of text) of a canonicalised frame."""
    df = _canon(df)
    return list(df.columns), list(zip(*(_column(df[c]) for c in df.columns)))


def check(tables_dir, results_dir, cache_dir):
    """One (name, ok, detail) gate per query in `oracle_sql.json`."""
    files = sorted(f for f in os.listdir(tables_dir) if f.endswith(".parquet"))
    tables_key = hashlib.sha256()
    for f in files:
        with open(os.path.join(tables_dir, f), "rb") as fh:
            tables_key.update(f.encode() + fh.read())
    os.makedirs(cache_dir, exist_ok=True)
    con = None
    with open(os.path.join(results_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    gates = []
    for name, sql in sorted(oracle.items()):
        key = hashlib.sha256(tables_key.digest() + sql.encode()).hexdigest()
        cached = os.path.join(cache_dir, key + ".pickle")
        try:
            spark = _table(pd.read_parquet(os.path.join(results_dir, name)))
            if os.path.exists(cached):
                with open(cached, "rb") as fh:
                    duck = pickle.load(fh)
            else:
                if con is None:
                    con = duckdb.connect()
                    for f in files:
                        path = os.path.join(tables_dir, f).replace("'", "''")
                        con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{path}'")
                duck = _table(con.execute(sql).fetchdf())
                with open(cached, "wb") as fh:
                    pickle.dump(duck, fh)
        except Exception as e:  # a failed read or query is a failed gate
            gates.append((f"oracle:{name}", False, str(e)[:200]))
            continue
        if spark[0] != duck[0]:
            gates.append((f"oracle:{name}", False, f"columns {spark[0]} vs {duck[0]}"))
            continue
        a, b = spark[1], duck[1]
        detail = f"{len(a)} rows" if a == b else f"rows differ: spark {len(a)}, duckdb {len(b)}"
        gates.append((f"oracle:{name}", a == b, detail))
    if con is not None:
        con.close()
    return gates
