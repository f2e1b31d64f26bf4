"""Partitioning strategies for the 100 TB path: salted joins for skew,
bucketed tables for shuffle-free co-located joins, UDF-stage repartition.

These complement AQE (session.py enables skew-join splitting + partition
coalescing): salting handles the pathological single-hot-key case AQE's
split can't fully fix (one key > executor memory), bucketing removes the
shuffle from repeated joins on a stable key (the `element` key of the
envelope model is exactly that).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    *,
    salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join resilient to a skewed build side.

    left (big, skewed) rows get a deterministic salt from xxhash64 of the
    whole row (stable across retries — F.rand would break task replays);
    right (smaller) is exploded ×salts so every (key, salt) bucket finds
    its match. The shuffle key becomes (key, salt): a hot key spreads
    over `salts` reducers instead of melting one.
    """
    salt_col = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salts))
    l = left.withColumn("_salt", salt_col)
    r = right.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salts)]))
    )
    out = l.join(r, [on, "_salt"], how)
    return out.drop("_salt")


def _local_dir(spark, db: str) -> str | None:
    """Database ``db``'s directory on a file-scheme warehouse; None on
    object stores, which leave no local directories behind."""
    from urllib.parse import unquote, urlparse

    uri = urlparse(spark.catalog.getDatabase(db).locationUri)
    return unquote(uri.path) if uri.scheme in ("", "file") else None


def session_table_name(spark, base: str) -> str:
    """Session-scoped catalog table name ``klio_<8-hex>.<base>``: the
    table lives in a per-session database keyed on the Spark
    applicationId, at ``<spark.sql.warehouse.dir>/klio_<8-hex>.db``.

    A fixed global name lets two sessions sharing a warehouse (parallel
    test runs, concurrent drivers) DROP + rmtree each other's index
    mid-query; the per-session database isolates them, and a session's
    own re-runs overwrite its table in place. On a file-scheme
    warehouse the database directory is removed when the process
    exits, so no session ever sweeps another's tables. A killed process
    skips that step; its directory is the only thing left behind."""
    import atexit
    import hashlib
    import shutil

    app = spark.sparkContext.applicationId
    db = f"klio_{hashlib.md5(app.encode()).hexdigest()[:8]}"
    if not spark.catalog.databaseExists(db):
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
        path = _local_dir(spark, db)
        if path is not None:
            atexit.register(shutil.rmtree, path, ignore_errors=True)
    return f"{db}.{base}"


def write_bucketed(
    df: DataFrame, table: str, key: str, buckets: int = 32, sort: bool = True
) -> None:
    """Persist bucketed+sorted by key: subsequent equi-joins/aggs on `key`
    between tables bucketed the same way need NO exchange and NO sort
    (co-located, pre-sorted merge join). The write pays the shuffle once;
    every downstream join reads it back for free — the right trade for
    fact tables joined repeatedly on `element`/order keys."""
    w = df.write.mode("overwrite").format("parquet").bucketBy(buckets, key)
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table)


def overwrite_bucketed_table(
    df: DataFrame, table: str, key: str, buckets: int = 32
) -> DataFrame:
    """write_bucketed with same-session re-run safety, returning the
    re-read table.

    A table dir left behind by a PREVIOUS session's metastore is invisible
    to this one, and saveAsTable(overwrite) refuses to claim the orphaned
    location — drop both the catalog entry and the directory first (the
    same recovery the minhash bucket_table path does in
    functions/dedup.py). Only file-scheme warehouses are swept; object
    stores don't leave local orphans."""
    import os
    import shutil

    spark = df.sparkSession
    parts = table.split(".")
    quoted = ".".join(f"`{p}`" for p in parts)
    spark.sql(f"DROP TABLE IF EXISTS {quoted}")
    if len(parts) <= 2:
        db = parts[0] if len(parts) == 2 else spark.catalog.currentDatabase()
        path = _local_dir(spark, db)
        if path is not None:
            shutil.rmtree(os.path.join(path, parts[-1].lower()), ignore_errors=True)
    write_bucketed(df, table, key, buckets)
    return spark.table(quoted)


def fan_out_scan(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Parallelize an effectively-unsplittable scan before heavy
    per-row work (the input-skew remedy: "one huge unsplittable file …
    repartition immediately after the read").

    Parquet splits at row-group boundaries, so a single-row-group file
    scans as ONE task no matter how many cores the session has — and a
    fused tokenize/hash UDF or a wide interpreted expression then runs
    on one core while the rest idle. When the frame's scan partitioning
    is at less than half the session's default parallelism, round-robin
    repartition to the session's parallelism (scale-adaptive: derived
    from the running session, never a constant); otherwise return the
    frame UNCHANGED — a real multi-row-group corpus at cluster scale
    already scans wide, so no shuffle is ever added there. The checked
    partition count comes from the physical scan (no job runs).

    Adoption is MEASUREMENT-GATED, per kernel: a warm interleaved A/B
    over 15 text/dedup queries at sf0.1 showed the fan-out losing or
    tying on wall for the cheap fused shingle/minhash UDFs while
    costing 2-20x executor core-time — each fanned task pays a fixed
    Python-worker round-trip (Arrow dispatch + scheduling) that dwarfs
    light per-partition work, and the initial "x0.49" win attributed
    to it was a cold-worker-pool artifact (the FIRST fanned stage of a
    session starts 32 workers in parallel; every later stage rides the
    warm pool either way). The one adopter is simhash's vote UDF — a
    genuinely heavyweight Python pass (~4 s single-task at sf0.1,
    JVM cpuT ~0: the task waits on the Python worker), where the warm
    A/B wins ~x0.7-0.8 every round. Re-measure warm before adopting
    anywhere else."""
    target = min_parts or df.sparkSession.sparkContext.defaultParallelism
    try:
        cur = df.rdd.getNumPartitions()
    except Exception:
        return df
    if cur * 2 <= target:
        return df.repartition(target)
    return df
