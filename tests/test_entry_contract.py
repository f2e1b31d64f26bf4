"""Driver-contract sanity: __spark_entry__ exposes entry/queries/oracle_sql
in exactly the shape the verification driver consumes."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402


def test_entry_runs_and_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.schema.fieldNames()  # stable schema


def test_queries_shape(spark):
    qs = entrymod.queries()
    assert len(qs) >= 50
    assert all(callable(fn) for fn in qs.values())


def test_oracle_sql_shape():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    # every oracle key is a declared query; sql is non-empty ANSI text
    assert set(oracles) <= set(qs)
    assert all(isinstance(s, str) and "SELECT" in s.upper() for s in oracles.values())
    # zero rows-only entries since round 4: q67 (the last holdout) now
    # runs the production 64-bit simhash on md5_token_hash64, which
    # DuckDB re-derives bit-for-bit via two 32-bit md5 halves
    rows_only = set(qs) - set(oracles)
    assert rows_only == set()


def test_one_query_executes_at_smoke_scale(spark):
    qs = entrymod.queries()
    df = qs["q64_exact_dedup"](spark, "/root/testdata/sf0.001")
    assert df.count() > 0
