"""Local replica of the driver's t2 correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at
sf0.01, compare row count, schema-insensitive sorted-column values.

Usage: python tools/check_correctness.py [name ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def normalize(df):
    """Sort columns by name, normalize values for hashing."""
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_datetime64_any_dtype(col):
            df[c] = col.astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(col):
            df[c] = col.round(6)
        elif col.dtype == object:
            df[c] = col.astype(str)
    order = list(df.columns)
    df = df.sort_values(order, kind="mergesort").reset_index(drop=True)
    return df


def main() -> int:
    import duckdb
    import pandas as pd

    import __spark_entry__ as entrymod
    import aws_sdk_pandas_spark as asps

    only = set(sys.argv[1:])
    spark = asps.get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as exc:
            print(f"FAIL  {name}: spark error: {exc}")
            failures.append(name)
            continue
        elapsed = time.time() - t0
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows ({elapsed:.1f}s) [rows-only]")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as exc:
            print(f"FAIL  {name}: oracle error: {exc}")
            failures.append(name)
            continue
        a, b = normalize(sdf), normalize(odf)
        if len(a) != len(b):
            print(f"FAIL  {name}: rows spark={len(a)} oracle={len(b)}")
            failures.append(name)
            continue
        if list(a.columns) != list(b.columns):
            print(f"FAIL  {name}: cols spark={list(a.columns)} oracle={list(b.columns)}")
            failures.append(name)
            continue
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False, atol=1e-6)
            print(f"OK    {name}: {len(a)} rows ({elapsed:.1f}s)")
        except AssertionError as exc:
            print(f"FAIL  {name}: values differ: {str(exc)[:500]}")
            failures.append(name)
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
