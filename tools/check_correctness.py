#!/usr/bin/env python
"""Local differential harness mimicking the driver's correctness gate:
run each declared query on Spark AND its oracle SQL on DuckDB over the
same parquet, compare row count, column names, and an order-insensitive
value hash.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(v):
    """Canonicalize a cell for hashing (mirror of a sane driver compare)."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def row_set(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(canon(r[i]) for i in order) for r in rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from __spark_entry__ import oracle_sql, queries
    from klio_spark.session import get_spark

    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = queries()
    oracles = oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL  {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"ok*   {name}: rows-only ({len(srows)} rows)")
            if len(srows) == 0 and name != "q67_simhash_dedup":
                print(f"      WARNING: 0 rows")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            failures.append((name, f"ORACLE ERROR: {e}"))
            print(f"FAIL  {name}: oracle error: {e}")
            continue
        if sorted(scols) != sorted(dcols):
            failures.append((name, f"cols: spark={sorted(scols)} duck={sorted(dcols)}"))
            print(f"FAIL  {name}: column mismatch {sorted(scols)} vs {sorted(dcols)}")
            continue
        if len(srows) != len(drows):
            failures.append((name, f"rows: spark={len(srows)} duck={len(drows)}"))
            print(f"FAIL  {name}: row count {len(srows)} vs {len(drows)}")
            continue
        s_set, d_set = row_set(scols, srows), row_set(dcols, drows)
        if s_set != d_set:
            diff = [(a, b) for a, b in zip(s_set, d_set) if a != b][:3]
            failures.append((name, f"values differ, e.g. {diff}"))
            print(f"FAIL  {name}: value mismatch; first diffs:")
            for a, b in diff:
                print(f"      spark: {a}\n      duck : {b}")
            continue
        print(f"ok    {name}: {len(srows)} rows match")

    print(f"\n{len(failures)} failures / {len(only) if only else len(qs)} checked")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
