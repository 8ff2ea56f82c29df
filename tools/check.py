#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Runs DuckDB on each oracle_sql.json entry over the same parquet tables and
compares against the Spark result parquet written by graft.Verify.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [query ...]
"""
import json
import sys

import duckdb
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # stringify for robust compare (Decimal vs float formatting, ts precision)
    out = pd.DataFrame()
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_float_dtype(col):
            out[c] = col.round(6).map(lambda v: f"{v:.6f}" if pd.notna(v) else "NULL")
        else:
            out[c] = col.map(lambda v: "NULL" if v is None or (isinstance(v, float) and pd.isna(v)) else str(v))
    out = out.sort_values(by=list(out.columns)).reset_index(drop=True)
    return out


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    unknown = sorted(only - oracle.keys())
    if unknown:
        print(f"unknown query names: {', '.join(unknown)}", file=sys.stderr)
        sys.exit(2)
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        try:
            expect = con.execute(sql).fetchdf()
            got = con.execute(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'").fetchdf()
            e, g = normalize(expect), normalize(got)
            if list(e.columns) != list(g.columns):
                print(f"FAIL {name}: columns {list(g.columns)} != {list(e.columns)}")
                n_fail += 1
            elif len(e) != len(g):
                print(f"FAIL {name}: rows {len(g)} != {len(e)}")
                n_fail += 1
            elif not e.equals(g):
                diff = (e != g).any(axis=1)
                idx = diff[diff].index[:3]
                print(f"FAIL {name}: value mismatch at rows {list(idx)}")
                for i in idx:
                    print(f"  oracle: {e.loc[i].to_dict()}")
                    print(f"  spark : {g.loc[i].to_dict()}")
                n_fail += 1
            else:
                print(f"PASS {name} ({len(g)} rows)")
                n_pass += 1
        except Exception as ex:
            print(f"ERROR {name}: {ex}")
            n_fail += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
