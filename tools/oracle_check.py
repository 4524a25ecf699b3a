#!/usr/bin/env python3
"""Local pre-check of SparkEntry oracle parity.

Usage: oracle_check.py [--publish] <sfDir> <verifyOutDir>

Full gate (all declared queries, publishes CORRECTNESS_LOCAL.json):
    sbt "runMain graft.Verify <sfDir> <outDir>"
    python3 tools/oracle_check.py --publish <sfDir> <outDir>
--publish may appear anywhere on the command line.

Replicates the driver's t2 compare: for each query dir under
<verifyOutDir>, read the Spark parquet result, run the corresponding
oracle SQL from oracle_sql.json in DuckDB (tables = views over the
sfDir parquet files), then compare with columns sorted by name and
rows sorted by all columns. Floats compared to 9 significant digits.
"""
import argparse
import json
import math
import sys

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        vals = df[c]
        if vals.dtype == object and len(vals) and isinstance(vals.iloc[0], bytes):
            df[c] = vals.apply(lambda b: b.hex())
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, float):
        return f"{v:.9g}"
    return str(v)


def table_hash(df: pd.DataFrame):
    return [tuple(cell(v) for v in row) for row in df.itertuples(index=False)]


def main(sf_dir: str, out_dir: str, publish: bool = False) -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    # Self-published correctness artifact (r16, VERDICT r15 #1): the
    # driver's CORRECTNESS_rN.json has arrived empty two rounds running,
    # so the gate run records its own per-query result in the driver's
    # schema. Written next to this script's working directory as
    # CORRECTNESS_LOCAL.json on FULL runs (all declared queries present).
    local = {}
    import os
    for name in sorted(os.listdir(out_dir)):
        if not os.path.isdir(f"{out_dir}/{name}"):
            continue
        spark_df = pd.concat(
            [pd.read_parquet(f"{out_dir}/{name}/{f}")
             for f in os.listdir(f"{out_dir}/{name}") if f.endswith(".parquet")],
            ignore_index=True)
        if name not in oracle:
            status = "ROWS-ONLY" if len(spark_df) > 0 else "ROWS-ONLY-EMPTY!"
            print(f"{status:18} {name} ({len(spark_df)} rows)")
            local[name] = {"rows_match": len(spark_df) > 0,
                           "schema_match": True, "hash_match": True,
                           "err": None if len(spark_df) > 0 else "rows-only query returned 0 rows"}
            continue
        try:
            duck_df = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            print(f"{'ORACLE-ERROR':18} {name}: {str(e)[:160]}")
            n_fail += 1
            local[name] = {"rows_match": False, "schema_match": False,
                           "hash_match": False, "err": str(e)[:300]}
            continue
        a, b = canon(spark_df), canon(duck_df)
        if list(a.columns) != list(b.columns):
            print(f"{'COL-MISMATCH':18} {name}: spark={list(a.columns)} duck={list(b.columns)}")
            n_fail += 1
            local[name] = {"rows_match": len(a) == len(b), "schema_match": False,
                           "hash_match": False, "err": "column mismatch"}
            continue
        # The driver's compare stringifies values without float normalization,
        # so an integer column on one side vs float on the other ("5" vs "5.0")
        # fails there even when values agree. DuckDB returns HUGEINT (-> pandas
        # float64) for SUM(int)/count_if: oracles must CAST(... AS BIGINT).
        # What the driver renders depends only on the pandas dtype each side
        # lands on (nulls coerce int columns to float64 on BOTH sides), so
        # flag exactly a float-vs-nonfloat disagreement — including columns
        # with NaNs, which the old check skipped entirely.
        dtype_diff = [
            c for c in a.columns
            if pd.api.types.is_float_dtype(a[c]) != pd.api.types.is_float_dtype(b[c])]
        if dtype_diff:
            print(f"{'DTYPE-MISMATCH':18} {name}: int/float disagree on {dtype_diff} "
                  f"(spark={[str(a[c].dtype) for c in dtype_diff]} "
                  f"duck={[str(b[c].dtype) for c in dtype_diff]}) — driver would fail this")
            n_fail += 1
            local[name] = {"rows_match": len(a) == len(b), "schema_match": False,
                           "hash_match": False,
                           "err": f"int/float dtype disagree on {dtype_diff}"}
            continue
        ha, hb = table_hash(a), table_hash(b)
        if ha == hb:
            print(f"{'PASS':18} {name} ({len(a)} rows)")
            n_pass += 1
            local[name] = {"rows_match": True, "schema_match": True,
                           "hash_match": True, "err": None}
        else:
            n_fail += 1
            diffs = [(i, x, y) for i, (x, y) in enumerate(zip(ha, hb)) if x != y][:3]
            print(f"{'HASH-MISMATCH':18} {name}: rows spark={len(ha)} duck={len(hb)}")
            for i, x, y in diffs:
                print(f"    row {i}: spark={x}")
                print(f"    row {i}:  duck={y}")
            local[name] = {"rows_match": len(ha) == len(hb), "schema_match": True,
                           "hash_match": False, "err": "hash mismatch"}
    print(f"\n{n_pass} pass / {n_fail} fail")
    # Publishing the gate artifact is now EXPLICIT (r17): the r16 form
    # auto-published whenever the checked set covered the run's own
    # oracle_sql.json — but Verify writes a FILTERED oracle_sql.json on
    # subset runs, so a subset re-check covered "its" oracle trivially
    # and could still masquerade as the gate (the exact hole ADVICE r16
    # flagged, one level up). The gate recipe is: run graft.Verify with
    # NO query filter (full oracle_sql.json), then this script with
    # --publish. Key coverage is still enforced on top — any oracle
    # query missing from out_dir blocks publication loudly.
    missing = sorted(set(oracle) - set(local))
    if missing:
        print(f"MISSING from out_dir ({len(missing)} oracle queries not "
              f"checked): {missing[:10]}{'...' if len(missing) > 10 else ''}")
    if publish:
        if missing:
            print("NOT publishing CORRECTNESS_LOCAL.json: oracle queries missing")
            return 2
        with open("CORRECTNESS_LOCAL.json", "w") as f:
            json.dump(local, f, indent=0, sort_keys=True)
        print(f"wrote CORRECTNESS_LOCAL.json ({len(local)} queries)")
    return 1 if n_fail else 0


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description="Local DuckDB-parity pre-check.")
    ap.add_argument("sf_dir", help="directory holding the <table>.parquet inputs")
    ap.add_argument("out_dir", help="graft.Verify output (query dirs + oracle_sql.json)")
    ap.add_argument("--publish", action="store_true",
                    help="write CORRECTNESS_LOCAL.json (full runs only)")
    args = ap.parse_args()
    sys.exit(main(args.sf_dir, args.out_dir, args.publish))
