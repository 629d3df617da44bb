#!/usr/bin/env python
"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry from __spark_entry__ at a given scale factor,
runs the matching ``oracle_sql()`` in DuckDB over the same parquet tables,
and compares row count + (name-sorted-column, order-insensitive) values.

Usage:  python scripts/check.py [--sf DIR] [--only name1,name2] [-v]
"""

from __future__ import annotations

import argparse
import decimal
import math
import os
import sys
import time
from datetime import date, datetime

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Python UDF workers import the package too, from any working directory
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm(v):
    """Normalize a value for cross-engine comparison."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, decimal.Decimal):
        return ("dec", str(v.normalize()))
    if isinstance(v, datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, date):
        return ("ts", datetime(v.year, v.month, v.day).isoformat())
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    if isinstance(v, bytes):
        return ("bin", v.hex())
    return v


def spark_rows(df):
    cols = sorted(df.columns)
    out = []
    for r in df.collect():
        d = r.asDict(recursive=True)
        out.append(tuple(norm(d[c]) for c in cols))
    return cols, sorted(out, key=repr)


def duck_rows(con, sql):
    cur = con.execute(sql)
    cols = [c[0] for c in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm(row[i]) for i in order) for row in cur.fetchall()]
    return sorted(cols), sorted(out, key=repr)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    ap.add_argument("-v", "--verbose", action="store_true")
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as entry
    from hbase_indexer_spark.session import get_spark

    spark = get_spark("check", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    names = args.only.split(",") if args.only else list(qs)

    n_pass = n_fail = 0
    for name in names:
        t0 = time.time()
        try:
            df = qs[name](spark, args.sf)
            scols, srows = spark_rows(df)
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows, no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            n_pass += 1
            continue
        try:
            ocols, orows = duck_rows(con, oracles[name])
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        status = []
        if scols != ocols:
            status.append(f"cols {scols} != {ocols}")
        if len(srows) != len(orows):
            status.append(f"rowcount {len(srows)} != {len(orows)}")
        elif srows != orows:
            bad = sum(1 for a, b in zip(srows, orows) if a != b)
            status.append(f"values differ in {bad}/{len(srows)} rows")
            if args.verbose:
                for a, b in zip(srows, orows):
                    if a != b:
                        print("  spark:", a)
                        print("  duck :", b)
                        break
        if status:
            print(f"FAIL {name}: {'; '.join(status)} [{time.time()-t0:.1f}s]")
            n_fail += 1
        else:
            print(f"pass {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
