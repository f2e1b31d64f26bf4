"""Input/output existence checks as anti/semi joins against a listing.

Reference: KlioGcsCheckInputExists / KlioGcsCheckOutputExists
(helpers.py:91-104, _KlioGcsCheckExistsBase.process _helpers.py:282-309,
path construction :160-163) — per-element `client.exists(path)` calls.

Spark-first design (SURVEY §2.3): a per-row RPC existence check is a
non-starter at 100 TB (billions of blocking calls from executors). Instead:
list the location ONCE (a distributed metadata scan via the binaryFile
source, which never reads file contents when only `path` is selected),
then LEFT JOIN the element stream against the listing. The listing side is
broadcast when small; at billions of objects it becomes a shuffle join on
the path key, which is still one pass over metadata rather than N RPCs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from klio_spark.config import DataIOConfig
from klio_spark.operators.filters import TaggedSplit


def path_for(cfg: DataIOConfig, element: Column | None = None) -> Column:
    """path = {location}/{element}{file_suffix} (_helpers.py:160-163)."""
    el = element if element is not None else F.col("element")
    loc = (cfg.location or "").rstrip("/")
    return F.concat(F.lit(loc + "/"), el.cast("string"), F.lit(cfg.file_suffix))


def list_location(spark: SparkSession, cfg: DataIOConfig) -> DataFrame:
    """One-pass listing of a data location → DataFrame[path: string].

    binaryFile with only `path` selected is a pure metadata scan
    (pathGlobFilter prunes at the listing level, contents never read).
    """
    from pyspark.errors.exceptions.captured import AnalysisException

    reader = spark.read.format("binaryFile")
    if cfg.file_suffix:
        reader = reader.option("pathGlobFilter", f"*{cfg.file_suffix}")
    try:
        listing = reader.load(cfg.location).select(F.col("path"))
    except AnalysisException:
        # a not-yet-created location lists as empty, it doesn't error —
        # the reference's client.exists() returns False on missing paths
        # (_helpers.py:282-309); output dirs in particular won't exist
        # before the first run
        return spark.createDataFrame([], "path string")
    # binaryFile yields file:/... URIs locally; normalize to plain paths so
    # they compare equal to concat-built paths.
    return listing.select(
        F.regexp_replace("path", "^file:/*", "/").alias("path")
    )


def exists_flag(
    df: DataFrame, listing: DataFrame, cfg: DataIOConfig, flag: str
) -> DataFrame:
    """`df` plus a non-null boolean column `flag`: whether the element's
    path is in `listing`, set by one left join."""
    # no broadcast HINT: Spark auto-broadcasts a small listing from its
    # stats, and at billions of objects (where the module doc promises a
    # shuffle join) an unconditional hint would force the whole listing
    # through the driver
    path, listed = f"{flag}_path", f"{flag}_listed"
    listing = listing.select(F.col("path").alias(listed))
    return (
        df.withColumn(path, path_for(cfg))
        .join(listing, F.col(path) == F.col(listed), "left")
        .withColumn(flag, F.col(listed).isNotNull())
        .drop(path, listed)
    )


def _exists_split(
    df: DataFrame, listing: DataFrame, cfg: DataIOConfig
) -> TaggedSplit:
    flagged = exists_flag(df, listing, cfg, "_klio_exists")
    return TaggedSplit(
        process=flagged.filter(F.col("_klio_exists")).drop("_klio_exists"),
        pass_thru=flagged.filter(~F.col("_klio_exists")).drop("_klio_exists"),
    )


def check_input_exists(
    df: DataFrame,
    cfg: DataIOConfig,
    spark: SparkSession | None = None,
    listing: DataFrame | None = None,
) -> TaggedSplit:
    """found / not_found split on the *data input* channel.

    `found` rows proceed to user transforms; `not_found` rows are dropped
    (optionally triggering upstream, streaming.trigger_upstream).
    KlioGcsCheckInputExists: helpers.py:91-96.
    """
    if cfg.skip_klio_existence_check:
        return TaggedSplit(process=df, pass_thru=df.filter(F.lit(False)))
    if listing is None:
        listing = list_location(spark or df.sparkSession, cfg)
    return _exists_split(df, listing, cfg)


def check_output_exists(
    df: DataFrame,
    cfg: DataIOConfig,
    spark: SparkSession | None = None,
    listing: DataFrame | None = None,
) -> TaggedSplit:
    """found / not_found split on the *data output* channel.

    `found` (output already exists) feeds filter_force: recompute only when
    forced. KlioGcsCheckOutputExists: helpers.py:99-104.

    With skip_klio_existence_check set, nothing counts as existing: every
    row proceeds to recompute (run.py _setup_data_io_filters gates the
    whole exists→force chain on this flag).
    """
    if cfg.skip_klio_existence_check:
        return TaggedSplit(process=df.filter(F.lit(False)), pass_thru=df)
    if listing is None:
        listing = list_location(spark or df.sparkSession, cfg)
    return _exists_split(df, listing, cfg)
