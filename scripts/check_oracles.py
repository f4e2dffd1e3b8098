"""Local replica of the driver's correctness gate: run each queries() entry
on Spark and its oracle_sql() on DuckDB at sf0.01; compare row-count, schema
(column names), and order-insensitive values. Usage:

    python scripts/check_oracles.py [query_name ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

# the checkout this script lives in, wherever it was copied to
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from pybiodatafuse_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    return v


def main():
    spark = get_spark("oracle-check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = sys.argv[1:]
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            sdf = fn(spark, SF_DIR)
            spdf = sdf.toPandas()
        except Exception as e:
            failures.append(name)
            print(f"{name}: SPARK ERROR {type(e).__name__}: {str(e)[:300]}")
            continue
        spark_sec = time.monotonic() - t0
        if name not in oracles:
            print(f"{name}: rows-only ({len(spdf)} rows) — no oracle [{spark_sec:.1f}s]")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            print(f"{name}: DUCKDB ERROR {type(e).__name__}: {str(e)[:300]}")
            continue
        scols, ocols = sorted(spdf.columns), sorted(odf.columns)
        if scols != ocols:
            failures.append(name)
            print(f"{name}: SCHEMA MISMATCH spark={scols} duck={ocols}")
            continue
        if len(spdf) != len(odf):
            failures.append(name)
            print(f"{name}: ROWCOUNT MISMATCH spark={len(spdf)} duck={len(odf)}")
            continue
        sset = sorted(
            tuple(norm(v) for v in row) for row in spdf[scols].itertuples(index=False)
        )
        oset = sorted(
            tuple(norm(v) for v in row) for row in odf[ocols].itertuples(index=False)
        )
        if sset != oset:
            failures.append(name)
            diff = [(a, b) for a, b in zip(sset, oset) if a != b][:3]
            print(f"{name}: VALUE MISMATCH ({len(spdf)} rows); first diffs: {diff}")
            continue
        print(f"{name}: OK ({len(spdf)} rows) [spark {spark_sec:.1f}s, total {time.monotonic() - t0:.1f}s]")
    print(f"\n{'FAILURES: ' + ', '.join(failures) if failures else 'ALL OK'}")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
