"""SparkSession factory with scale-oriented defaults.

Defaults chosen for a large cluster (AQE, skew handling, Arrow) but sized
down automatically in local mode. Every knob can be overridden by the
job config (config.py) or by passing ``conf`` overrides.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Engine-wide defaults, where they differ from Spark's own (AQE with
# partition coalescing and skew-join splitting, parquet filter pushdown
# and 200 shuffle partitions are Spark's defaults already):
#  - Arrow makes every pandas_udf/mapInPandas exchange columnar batches.
#  - maxRecordsPerBatch is below Spark's 10,000: klio-style payloads can
#    be multi-MB binary blobs, and a batch of those must fit a Python
#    worker. 4096 rows * ~2 MB ≈ 8 GB worst case; tune per job.
_DEFAULT_CONF = {
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
    "spark.sql.session.timeZone": "UTC",
    # read TIMESTAMP(NANOS) parquet columns as nanos-longs instead of
    # erroring (converted to micros in klio_spark.queries.load)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}


def get_spark(
    app_name: str = "klio-spark",
    master: str | None = None,
    conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS or *]`` when no
    cluster master is configured in the environment.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)

    merged = dict(_DEFAULT_CONF)
    if master and master.startswith("local"):
        # local mode: one JVM, no point in 200 shuffle partitions
        merged["spark.sql.shuffle.partitions"] = "32"
        merged["spark.driver.memory"] = os.environ.get("SPARK_DRIVER_MEM", "8g")
    if conf:
        merged.update(conf)
    for k, v in merged.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
