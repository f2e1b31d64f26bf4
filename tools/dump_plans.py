#!/usr/bin/env python
"""Dump .explain('formatted') for declared queries to <out_dir>/<q>_<tag>.txt.

Plan evidence for a plan-shape change: run once from a checkout of the
pre-change commit with tag=before and once from the live tree with
tag=after, then diff. With no query names, every declared query is
dumped. The data dir is $SPARK_GRAFT_SF_DIR, with bench.py's default.

Usage: python tools/dump_plans.py <out_dir> <tag> [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    out_dir, tag = sys.argv[1], sys.argv[2]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from klio_spark.queries import all_queries, release_scoped_caches
    from klio_spark.session import get_spark

    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out_dir, exist_ok=True)
    specs = all_queries()
    for name in sys.argv[3:] or sorted(specs):
        df = specs[name].fn(spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} [{tag}] explain('formatted') at {sf_dir}\n")
            f.write(txt)
        release_scoped_caches()
        spark.catalog.clearCache()
        print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
