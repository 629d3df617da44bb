#!/usr/bin/env python
"""Audit every oracle_sql() body for output column types that the driver's
type-sensitive hash canonicalizes differently from Spark.

The r4 driver gate proved that an uncast DuckDB ``sum()`` / ``//`` (which
returns HUGEINT / int128) hash-mismatches against Spark's BIGINT even when
every value is equal.  This script DESCRIBEs each oracle against the sf0.001
views and flags any column whose DuckDB type has no exact Spark analog
(HUGEINT, UHUGEINT, UBIGINT, UINTEGER, ...).

Usage: python scripts/oracle_type_audit.py [--sf DIR]
Exit 1 if any oracle has a flagged column.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

# DuckDB types with no exact Spark analog -> the driver's canonical hash
# diverges even on equal values.
BAD_TYPES = {"HUGEINT", "UHUGEINT", "UBIGINT", "UINTEGER", "USMALLINT",
             "UTINYINT", "UINT128", "INT128"}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as entry

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")

    bad = 0
    for name, sql in entry.oracle_sql().items():
        try:
            desc = con.execute(f"DESCRIBE ({sql})").fetchall()
        except Exception as e:
            print(f"ERROR {name}: describe failed: {e}")
            bad += 1
            continue
        flagged = [(c, ty) for c, ty, *_ in desc
                   if ty.upper().split("(")[0] in BAD_TYPES]
        if flagged:
            bad += 1
            print(f"FLAG {name}: " + ", ".join(
                f"{c} is {ty}" for c, ty in flagged))
    if bad == 0:
        print("clean: no oracle emits a HUGEINT/unsigned column")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
