#!/usr/bin/env python3
"""Local replay of the driver's correctness gate (SURVEY.md §5).

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [query ...]

Reads <verifyOutDir>/oracle_sql.json, runs each oracle SQL in DuckDB over
the sf tables (each `<sfDir>/<t>.parquet` a file or a directory of part
files), loads the Spark-written parquet for the same key, sorts
columns by name and rows by all columns, and diffs. Exit 1 on any mismatch.
"""
import json
import math
import os
import sys

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def _canon_val(v):
    """Mimic the driver's hash input: the value's canonical repr.

    numpy scalars unwrap to python; Decimal stays Decimal (so a Spark
    decimal128 column vs a DuckDB float64 column FAILS, as in the driver)."""
    if v is None:
        return "None"
    if hasattr(v, "item"):
        v = v.item()
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "None" if v is None else "nan"
    try:
        if v != v:  # NaT and friends
            return "nan"
    except Exception:
        pass
    # temporal normalization: date vs datetime64 repr noise is NOT the
    # signal we hunt (the driver reads both engines' temporals identically);
    # decimals stay strict.
    if hasattr(v, "strftime"):
        us = getattr(v, "microsecond", 0)
        return v.strftime("%Y-%m-%d %H:%M:%S") + f".{us:06d}"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == 0.0:  # -0.0 == 0.0 but repr differs; engines disagree on sign
            return "0.0"
        return repr(v)
    return repr(v)


def values_equal(a, b):
    try:
        if a is None and b is None:
            return True
    except Exception:
        pass
    return _canon_val(a) == _canon_val(b)


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        # a table is one file, or a directory of part files (make_sf1.py)
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path += "/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    failures = 0
    for name in sorted(oracle):
        if only and name not in only:
            continue
        try:
            want = canon(con.execute(oracle[name]).df())
        except Exception as e:
            print(f"FAIL {name}: oracle sql error: {e}")
            failures += 1
            continue
        try:
            import glob as _g
            import pandas as _pd
            import pyarrow.parquet as _pq
            parts = sorted(_g.glob(f"{out_dir}/{name}/*.parquet"))
            got = canon(
                _pd.concat(
                    [_pq.read_table(p).to_pandas() for p in parts],
                    ignore_index=True,
                )
            )
        except Exception as e:
            print(f"FAIL {name}: spark output missing/unreadable: {e}")
            failures += 1
            continue
        if list(want.columns) != list(got.columns):
            print(f"FAIL {name}: columns want={list(want.columns)} got={list(got.columns)}")
            failures += 1
            continue
        if len(want) != len(got):
            print(f"FAIL {name}: rows want={len(want)} got={len(got)}")
            failures += 1
            continue
        bad = 0
        for col in want.columns:
            wv, gv = want[col].tolist(), got[col].tolist()
            for i, (w, g) in enumerate(zip(wv, gv)):
                if not values_equal(w, g):
                    if bad < 3:
                        print(f"  {name}.{col}[{i}]: want={w!r} got={g!r}")
                    bad += 1
        if bad:
            print(f"FAIL {name}: {bad} value mismatches")
            failures += 1
        else:
            print(f"OK   {name}: {len(want)} rows x {len(want.columns)} cols")
    # keys in queries but absent from oracle are rows-only: check rows>0
    import glob
    for d in sorted(glob.glob(f"{out_dir}/*/")):
        name = os.path.basename(d.rstrip("/"))
        if name in oracle:
            continue
        n = con.execute(f"SELECT count(*) FROM read_parquet('{d}*.parquet')").fetchone()[0]
        status = "OK  " if n > 0 else "FAIL"
        if n == 0:
            failures += 1
        print(f"{status} {name}: rows-only, {n} rows")
    print(f"{'PASS' if failures == 0 else 'FAIL'}: {failures} failing queries")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
