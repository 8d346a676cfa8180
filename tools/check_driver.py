#!/usr/bin/env python3
"""Driver-faithful correctness gate (round 12 replacement for the
str()-normalizing duckdb-based checker, which silently passed queries the
driver failed).

Key difference from that checker: the Spark side is read with
pandas/pyarrow (pd.read_parquet), NOT duckdb — so DECIMAL columns stay
Python Decimal objects ('123.40') instead of being coerced to float64
('123.4'), and ARRAY columns stay numpy arrays that crash sort_values.
That is what the driver does, and it is exactly the seam that made
q195/q199/q204 hash-fail and q185 err in CORRECTNESS_r11 while the old
local gate said green.

Usage: python3 tools/check_driver.py <verify_out_dir> <sf_dir> [query ...]
Dev-only tool (driver-side python env); not part of the engine.
"""
import glob
import json
import sys

import duckdb
import pandas as pd
import pyarrow.parquet as pq


def read_spark(path):
    """Read Spark output the way the driver does: pyarrow → pandas with
    date32 as datetime64 (so DATE == oracle TIMESTAMP-at-midnight and a
    null date is NaT on both sides), but decimals kept as Decimal
    objects and lists as numpy arrays — the comparator-visible seams."""
    files = sorted(glob.glob(f"{path}/*.parquet"))
    tbl = pq.ParquetDataset(files).read()
    return tbl.to_pandas(date_as_object=False)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def cell(v):
    """One cell → canonical string. All NA flavors (None, NaN, NaT,
    pd.NA) collapse to 'NULL': pyarrow renders a null BOOL as None
    where duckdb renders NaN, and the driver treats them as equal
    (q37/q249 passed r11 with exactly that split)."""
    try:
        if pd.isna(v):
            return "NULL"
    except (TypeError, ValueError):
        pass  # arrays: unhashable anyway, sort_values already raised
    return str(v)


def canon(df):
    """Mimic the driver: sort columns by name, lex-sort rows by all
    columns (raises on unhashable cells like numpy arrays, as the
    driver does), then stringify every cell for the value hash. The
    final sorted() makes the row order insensitive to how each reader
    ordered nulls."""
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return sorted(tuple(cell(v) for v in row)
                  for row in df.itertuples(index=False))


def main():
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        try:
            got = read_spark(f"{out_dir}/{name}")
            want = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {name}: exec error: {str(e)[:300]}")
            n_fail += 1
            continue
        if sorted(got.columns) != sorted(want.columns):
            print(f"FAIL {name}: columns {sorted(got.columns)} vs "
                  f"{sorted(want.columns)}")
            n_fail += 1
            continue
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} vs {len(want)}")
            n_fail += 1
            continue
        try:
            g, w = canon(got), canon(want)
        except Exception as e:
            print(f"FAIL {name}: comparator error (driver would err): "
                  f"{str(e)[:200]}")
            n_fail += 1
            continue
        if g != w:
            bad = [(a, b) for a, b in zip(g, w) if a != b][:3]
            print(f"FAIL {name}: value mismatch, first diffs: {bad}")
            n_fail += 1
        else:
            print(f"ok   {name} ({len(got)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
