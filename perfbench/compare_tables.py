#!/usr/bin/env python3
"""Compare the benchmark's generated query tables with a reference set.

    python3 perfbench/compare_tables.py <dir with the sf0.1 parquet tables> [--seed 1]

The benchmark generates its sf0.1 tables from ``--seed`` because a run
reads only its own checkout. This prints, for every table and column, the
row count and simple statistics of the reference and of the generated
table side by side, then the DuckDB oracle row count of each
``query-floor`` query over both, so that the two can be judged alike.
Nothing here starts Spark.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import gen  # noqa: E402


def column_stats(col: pa.ChunkedArray) -> str:
    if pa.types.is_list(col.type):
        mm = pc.min_max(pc.list_value_length(col)).as_py()
        return f"list length {mm['min']}..{mm['max']}"
    if pa.types.is_timestamp(col.type):
        col = col.cast(pa.int64())
    distinct = pc.count_distinct(col).as_py()
    if pa.types.is_string(col.type):
        lens = pc.utf8_length(col)
        mm = pc.min_max(lens).as_py()
        return (f"distinct={distinct} length {mm['min']}..{mm['max']} "
                f"mean {pc.mean(lens).as_py():.1f}")
    mm = pc.min_max(col).as_py()
    return (f"distinct={distinct} min={mm['min']} max={mm['max']} "
            f"mean={pc.mean(col).as_py():.4g}")


def oracle_rows(root: str, sql: str) -> int:
    import duckdb

    con = duckdb.connect()
    try:
        for t in gen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(root, t)}.parquet'")
        return len(con.execute(sql).fetchall())
    finally:
        con.close()


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("reference")
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args()
    scratch = os.path.join(os.path.dirname(HERE), ".perfbench_tmp")
    os.makedirs(scratch, exist_ok=True)
    made = tempfile.mkdtemp(prefix="tables-", dir=scratch)
    try:
        gen.write_tables(made, args.seed)
        for name in gen.TABLES:
            ref = pq.read_table(os.path.join(args.reference, f"{name}.parquet"))
            new = pq.read_table(os.path.join(made, f"{name}.parquet"))
            same = ref.schema.remove_metadata() == new.schema.remove_metadata()
            print(f"{name}: rows reference={ref.num_rows} generated={new.num_rows}"
                  f" schema {'equal' if same else 'DIFFERS'}")
            for field in ref.schema:
                print(f"  {field.name}\n    reference {column_stats(ref.column(field.name))}")
                if field.name in new.column_names:
                    print(f"    generated {column_stats(new.column(field.name))}")
        from klio_spark.queries import all_queries
        from workloads import FLOOR

        specs = all_queries()
        print("query-floor oracle rows (reference / generated):")
        for q in FLOOR:
            print(f"  {q}: {oracle_rows(args.reference, specs[q].sql)}"
                  f" / {oracle_rows(made, specs[q].sql)}")
    finally:
        shutil.rmtree(made)
        if not os.listdir(scratch):
            os.rmdir(scratch)
    return 0


if __name__ == "__main__":
    sys.exit(main())
