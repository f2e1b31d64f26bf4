"""Declared query registry — the SURVEY §2 operator inventory as runnable
(spark_fn, oracle_sql) pairs.

Each QuerySpec is one operator/capability claim: `fn(spark, sf_dir)` runs
the Spark-first implementation; `sql` is the ANSI equivalent DuckDB runs on
the same parquet (None → non-SQL-expressible, rows-only check).

Cross-engine numeric determinism rules (applied on BOTH sides):
  * per-row arithmetic stays in DOUBLE — IEEE ops on identical operands are
    bit-identical across engines;
  * every SUM of doubles is integerized per row first — FLOOR(x * 10^s) as
    BIGINT — then summed exactly and divided back. Plain double sums are
    order-dependent, and double→DECIMAL casts disagree between engines
    near scale-digit ties (Spark: exact BigDecimal expansion + HALF_UP;
    DuckDB: scale-multiply-then-round), but FLOOR of an identical double
    is identical everywhere;
  * AVG = (CAST(int_sum AS DOUBLE)/10^s)/count — IEEE divisions;
  * only genuinely iterative math (percentile interpolation, stddev sqrt,
    cosine) is rounded, at 6 digits.
"""

from __future__ import annotations

import dataclasses
import functools
import glob
import json
import os
import re
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclasses.dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # DuckDB oracle; None → rows-only check
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, sql: str | None, doc: str = ""):
    def deco(fn):
        _REGISTRY[name] = QuerySpec(name=name, fn=fn, sql=sql, doc=doc)
        return fn

    return deco


# Interior persist()s inside lazily-returned query plans (q160's oriented
# edges, q201's frequent pairs, q186's per-round BPE winners, ...) are
# load-bearing for performance — without them tree-shaped plans re-run
# a shared subquery once per consumer — but a long-lived session running
# all 186 queries (bench.py, the test suite) would otherwise accumulate
# every round's cached blocks and evict useful cache. Queries register
# their persists here; harness code calls release_scoped_caches() after
# materializing a query's result. unpersist() only drops cached blocks —
# a released plan still recomputes correctly if re-run.
_SCOPED_CACHES: list[DataFrame] = []


def scoped_persist(df: DataFrame, eager: bool = False) -> DataFrame:
    """``eager=True`` materializes the cache NOW (one count job). Use it
    when the consumers include broadcast-exchange branches: AQE runs
    each broadcast subtree as its own concurrent job, and N such jobs
    hitting a lazily-persisted frame all find the cache empty and each
    recompute the full upstream pipeline (measured on q160: five
    concurrent one-row consumers ≈ 5x the edge-build core-time). A
    sequential fill makes every consumer a cache read."""
    df = df.persist()
    if eager:
        df.count()
    _SCOPED_CACHES.append(df)
    return df


def release_scoped_caches() -> int:
    n = 0
    while _SCOPED_CACHES:
        df = _SCOPED_CACHES.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n


# Schema memo: one parquet-footer inference per (data dir, table) per
# process; later loads pass the schema explicitly. This is METADATA
# memoization — the role a table catalog (metastore / Iceberg manifest)
# plays in production, where readers never re-infer schemas per query
# (guide §6: manifest metadata over directory inference). Measured on
# this host: an inferred spark.read.parquet resolves in ~80-95 ms
# (footer read + driver-side inference), an explicit-schema read in
# ~20 ms — across a 255-query bench run that is ~25 s of pure repeated
# inference of the SAME six immutable schemas. No data, no results and
# no plan fragments are memoized; every query still scans the parquet
# from disk.
_SCHEMA_MEMO: dict = {}


def load(spark: SparkSession, sf_dir: str, *tables: str) -> list[DataFrame]:
    from pyspark.sql import functions as F

    out = []
    for t in tables:
        if t == "events":
            # events.parquet carries TIMESTAMP(NANOS) columns, which Spark
            # refuses to read (PARQUET_TYPE_ILLEGAL) unless this legacy flag
            # is on. session.py sets it at build time, but the correctness
            # driver constructs its own vanilla session — a runtime
            # spark.conf.set works on an existing session, so set it here,
            # immediately before the read resolves the schema.
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # `dir` and `dir/` name the same tables: one memo entry
        key = (os.path.normpath(sf_dir), t)
        sch = _SCHEMA_MEMO.get(key)
        if sch is None:
            df = spark.read.parquet(f"{sf_dir}/{t}.parquet")
            _SCHEMA_MEMO[key] = df.schema
        else:
            df = spark.read.schema(sch).parquet(f"{sf_dir}/{t}.parquet")
        if t == "events" and dict(df.dtypes).get("ts") == "bigint":
            # events.parquet carries TIMESTAMP(NANOS) which Spark reads as
            # nanos-long under spark.sql.legacy.parquet.nanosAsLong (set in
            # session.py); truncate to micros (integer div — a double div
            # would lose precision above 2^53 ns).
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        out.append(df)
    return out


# Queries whose code changed after their last green record: name -> the
# newest round that predates the change (q136's gram pass and the
# filters behind q80/q81 routing changed after r11). Each leads the
# order until a green record from a later round lands.
_TOUCHED = {
    "q136_substring_dedup": 11,
    "q80_prologue_routing": 11,
    "q81_recipients_routing": 11,
}


@functools.cache
def _green_rounds() -> dict[str, int]:
    """Round of each query's last green (``hash_match``) record in the
    committed CORRECTNESS_r*.json files; a query whose newest record is
    not green is left out."""
    root = os.path.dirname(os.path.dirname(os.path.dirname(__file__)))
    rounds = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        with open(path) as f:
            rounds[int(re.search(r"_r(\d+)\.json$", path)[1])] = json.load(f)
    green: dict[str, int] = {}
    for rnd in sorted(rounds):
        for name, rec in rounds[rnd].items():
            if rec.get("hash_match") is True:
                green[name] = rnd
            else:
                green.pop(name, None)
    return green


def all_queries() -> dict[str, QuerySpec]:
    """Every registered query, in correctness-verification order: the
    external driver iterates this dict and stops after ~50 entries, so
    the entries with the least evidence come first.

    1. ``_TOUCHED`` queries, changed since their last green record;
    2. queries with no green record, or whose newest record is not green;
    3. the rest by the round of their last green record, oldest first.

    Groups 1 and 3 sort by that round too; ties keep import order, so
    with no records the order is import order.
    """
    from klio_spark.queries import (  # noqa: F401
        behavior,
        vector_ops,
        training,
        curation,
        sketches,
        dataqual,
        extra,
        textops,
        scalars2,
        envelope_ops,
        advanced,
        relational,
        maintenance,
    )

    green = _green_rounds()

    def rank(name: str) -> tuple[int, int]:
        rnd = green.get(name)
        if rnd is None:
            return (1, 0)
        return (0 if rnd <= _TOUCHED.get(name, 0) else 2, rnd)

    return {name: _REGISTRY[name] for name in sorted(_REGISTRY, key=rank)}
