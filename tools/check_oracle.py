#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each oracle
SQL in DuckDB over the sfDir tables, load the Spark parquet dump,
sort columns by name, round doubles to 6 decimals, compare.

Usage: python3 tools/check_oracle.py <verify_out_dir> <sf_dir>
(driver-side python/duckdb only — never a code dependency)
"""
import sys, json, glob, math, os
import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype.kind == 'f':
            df[c] = df[c].round(6)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith(('UInt', 'Int')) or df[c].dtype.kind in 'iu':
            df[c] = df[c].astype('int64')
    return df.reset_index(drop=True)

def main(out_dir, sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            # driver testdata tables are single files; Spark-written
            # fixtures (graft.Scale rungs) are directories
            src = f"{p}/*.parquet" if os.path.isdir(p) else p
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        spark_dir = f"{out_dir}/{name}"
        files = glob.glob(f"{spark_dir}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        try:
            got = norm(con.execute(
                f"SELECT * FROM read_parquet({files!r})").df())
            want = norm(con.execute(sql).df())
        except Exception as e:
            print(f"FAIL {name}: {e}"); n_fail += 1; continue
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name}: columns {list(got.columns)} != {list(want.columns)}")
            n_fail += 1; continue
        if got.shape != want.shape:
            print(f"FAIL {name}: shape {got.shape} != {want.shape}"); n_fail += 1; continue
        # row order: queries declare stable ORDER BY; compare as-is, but
        # also re-sort as a fallback diagnostic
        eq = got.equals(want)
        if not eq:
            gs = got.sort_values(by=list(got.columns)).reset_index(drop=True)
            ws = want.sort_values(by=list(want.columns)).reset_index(drop=True)
            if gs.equals(ws):
                print(f"WARN {name}: equal only after re-sort (row order differs)")
                n_pass += 1; continue
            diff = (got != want) & ~(got.isna() & want.isna())
            bad_cols = [c for c in got.columns if diff[c].any()]
            print(f"FAIL {name}: value mismatch in {bad_cols}")
            for c in bad_cols[:3]:
                i = diff[c].idxmax()
                print(f"   row {i} col {c}: spark={got[c][i]!r} duck={want[c][i]!r}")
            # dtype mismatches often masquerade as value mismatches
            dt = [(c, str(got[c].dtype), str(want[c].dtype))
                  for c in got.columns if str(got[c].dtype) != str(want[c].dtype)]
            if dt: print(f"   dtypes: {dt}")
            n_fail += 1; continue
        print(f"PASS {name} ({got.shape[0]} rows)")
        n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
