"""Local stand-in for the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at the given sf, compare
row count + schema-ish + order-insensitive value multiset.

Usage: python tools/check_correctness.py [sf_dir] [query ...]

Env:
  PLAIN=1       use a bare SparkSession (driver parity: no UTC pin, no
                nanosAsLong, no arrow/AQE tuning) instead of get_spark()
  PLAIN_TZ=...  with PLAIN=1, also pin a hostile session timezone (e.g.
                America/New_York) to smoke out session-dependent timestamp
                semantics
"""

from __future__ import annotations

import math
import os
import sys
import time
from collections import Counter

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from kioss_spark.session import get_spark  # noqa: E402
from kioss_spark.sources import TABLES  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402


def plain_spark():
    """Mimic the driver's session: SparkSession.builder with no configs."""
    from pyspark.sql import SparkSession

    b = SparkSession.builder.master("local[*]").appName("check_plain")
    tz = os.environ.get("PLAIN_TZ")
    if tz:
        b = b.config("spark.sql.session.timeZone", tz)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def norm(v):
    # floats compare EXACTLY (worst-case assumption about the driver's hash):
    # queries must round aggregates so both engines emit identical doubles
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


def multiset(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return Counter(tuple(norm(r[i]) for i in order) for r in rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = plain_spark() if os.environ.get("PLAIN") else get_spark("check_correctness")
    con = duckdb.connect()
    for tbl in TABLES:
        con.sql(f"CREATE VIEW {tbl} AS SELECT * FROM '{sf_dir}/{tbl}.parquet'")
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    n_checked = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        n_checked += 1
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {exc}")
            continue
        if name not in oracles:
            print(f"ok?   {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            orel = con.sql(oracles[name])
            ocols = [c.lower() for c in orel.columns]
            orows = orel.fetchall()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {exc}")
            continue
        sc, oc = sorted(c.lower() for c in scols), sorted(ocols)
        if sc != oc:
            failures.append(name)
            print(f"FAIL  {name}: columns {sc} vs {oc}")
            continue
        if len(srows) != len(orows):
            failures.append(name)
            print(f"FAIL  {name}: rowcount {len(srows)} vs {len(orows)}")
            continue
        sm = multiset(srows, [c.lower() for c in scols])
        om = multiset(orows, ocols)
        if sm != om:
            failures.append(name)
            diff = (sm - om) + (om - sm)
            sample = list(diff.items())[:3]
            print(f"FAIL  {name}: value mismatch; sample diff: {sample}")
            continue
        print(f"OK    {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")
    print(f"\n{n_checked - len(failures)}/{n_checked} pass")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
