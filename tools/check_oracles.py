"""Local stand-in for the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01, compare row count +
order-insensitive values (column-name-sorted, like the driver).

Usage: python tools/check_oracles.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E
from latex_ocr_spark.frames import scope
from latex_ocr_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif "float" in str(df[c].dtype):
            df[c] = df[c].astype(float).round(4)
        else:
            try:
                df[c] = df[c].astype("int64")
            except (TypeError, ValueError, OverflowError):
                df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    spark = get_spark("oracle-check", cores=cores, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = E.queries()
    oracles = E.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            # each query's caches and checkpoints are freed before the next
            with scope():
                sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {ex}")
            continue
        if name not in oracles:
            print(f"rows-only  {name}: {len(sdf)} rows  ({time.time()-t0:.1f}s)")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as ex:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {ex}")
            continue
        a, b = canon(sdf), canon(odf)
        if len(a) != len(b):
            failures.append(name)
            print(f"FAIL  {name}: rows {len(a)} vs {len(b)}")
            continue
        if list(a.columns) != list(b.columns):
            failures.append(name)
            print(f"FAIL  {name}: cols {list(a.columns)} vs {list(b.columns)}")
            continue
        if not a.equals(b):
            neq = (a != b).any(axis=1)
            failures.append(name)
            print(f"FAIL  {name}: {int(neq.sum())}/{len(a)} rows differ; first:")
            print(a[neq].head(3).to_string())
            print(b[neq].head(3).to_string())
            continue
        print(f"OK    {name}: {len(a)} rows  ({time.time()-t0:.1f}s)")
    spark.stop()
    print("FAILURES:", failures or "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
