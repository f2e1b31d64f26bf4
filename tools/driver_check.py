#!/usr/bin/env python
"""Strict driver-replica correctness gate.

The repo's one correctness harness: each query on Spark against its
oracle SQL on DuckDB over the same parquet. Unlike a forgiving canon:
  * it builds a VANILLA SparkSession — no session.py defaults — exactly like
    the round driver, so session-conf assumptions (e.g. nanosAsLong) fail
    here the way they fail there;
  * it compares pandas frames (spark.toPandas vs duckdb .df()) with a canon
    that does NOT collapse int-valued floats: int64 1234 vs float64 1234.0
    is a mismatch — this is the class that produced round-1's q04/q42/q60
    hash failures (DuckDB SUM(int) returns HUGEINT and CEIL/FLOOR return
    DOUBLE, which land in pandas as float64 while Spark emits int64).

Usage: python tools/driver_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime
import decimal
import json
import math
import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float) and math.isnan(v):
        return "NULL"
    if v is pd.NaT:
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (np.integer, int)):
        return str(int(v))
    if isinstance(v, (np.floating, float)):
        # dtype-sensitive: 2.0 stays "2.0", never collapsed to "2"
        return repr(float(v))
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, np.ndarray)):
        return "[" + ",".join(canon_cell(x) for x in list(v)) + "]"
    return str(v)


def canon_frame(df: pd.DataFrame) -> list[str]:
    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False, name=None):
        out.append("|".join(canon_cell(v) for v in row))
    return sorted(out)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from pyspark.sql import SparkSession

    from __spark_entry__ import oracle_sql, queries

    # vanilla session — deliberately NOT klio_spark.session.get_spark.
    # DRIVER_CHECK_MEMORY/CORES exist ONLY for amplified-corpus runs
    # (.scale/x10, 10x the driver's largest SF): the default 1g local[8]
    # JVM dies there. Leave them unset for driver-SF replication.
    import os as _os

    mem = _os.environ.get("DRIVER_CHECK_MEMORY")
    cores = _os.environ.get("DRIVER_CHECK_CORES", "8")
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("driver-replica")
        .config("spark.sql.shuffle.partitions", cores)
        .config("spark.sql.session.timeZone", "UTC")
    )
    if mem:
        b = b.config("spark.driver.memory", mem)
    spark = b.getOrCreate()
    con = duckdb.connect()
    for t in TABLES:
        # driver testdata ships single parquet FILES; Spark-written
        # corpora (.scale/x10 amplified twins) are DIRECTORIES of part
        # files — DuckDB needs the glob form for those
        path = f"{sf_dir}/{t}.parquet"
        import os

        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    qs = queries()
    oracles = oracle_sql()
    results: dict[str, dict] = {}
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            results[name] = {"err": f"spark: {e}"}
            print(f"FAIL  {name}: spark error: {str(e)[:300]}")
            continue
        if name not in oracles:
            results[name] = {"rows_only": len(spdf)}
            print(f"ok*   {name}: rows-only ({len(spdf)} rows)")
            continue
        try:
            dpdf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            results[name] = {"err": f"oracle: {e}"}
            print(f"FAIL  {name}: oracle error: {str(e)[:300]}")
            continue
        schema_ok = sorted(spdf.columns) == sorted(dpdf.columns)
        rows_ok = len(spdf) == len(dpdf)
        if not schema_ok or not rows_ok:
            failures.append(name)
            results[name] = {
                "schema": [sorted(spdf.columns), sorted(dpdf.columns)],
                "rows": [len(spdf), len(dpdf)],
            }
            print(
                f"FAIL  {name}: schema_ok={schema_ok} rows {len(spdf)} vs {len(dpdf)}"
            )
            continue
        s_rows, d_rows = canon_frame(spdf), canon_frame(dpdf)
        if s_rows != d_rows:
            failures.append(name)
            diffs = [(a, b) for a, b in zip(s_rows, d_rows) if a != b][:3]
            results[name] = {"hash": False}
            print(f"FAIL  {name}: value mismatch; first diffs:")
            for a, b in diffs:
                print(f"      spark: {a[:200]}\n      duck : {b[:200]}")
            sd = {d for d in s_rows if d not in set(d_rows)}
            if not diffs and sd:
                print(f"      spark-only row e.g.: {sorted(sd)[0][:200]}")
        else:
            results[name] = {"ok": len(spdf)}
            print(f"ok    {name}: {len(spdf)} rows hash-match")

    n_checked = len(results)
    print(f"\n{len(failures)} failures / {n_checked} checked")
    with open("/tmp/driver_check_last.json", "w") as f:
        json.dump(results, f, indent=1, default=str)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
