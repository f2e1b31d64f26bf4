"""Event sources: read an event channel → envelope DataFrame.

Registry keyed by config `type` (mirrors the plugin-scanned registry in
core/src/klio_core/config/core.py:240-278 and the event-input mapper in
exec/src/klio_exec/commands/run.py:63-83).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from klio_spark.config import EventIOConfig
from klio_spark.sources.batch import (  # noqa: F401
    read_avro,
    read_bq_style,
    read_csv,
    read_json,
    read_parquet,
    read_text,
)
from klio_spark.sources.stream import read_stream  # noqa: F401

_READERS: dict[str, Callable[..., DataFrame]] = {
    "file": read_text,
    "text": read_text,
    "avro": read_avro,
    "parquet": read_parquet,
    "csv": read_csv,
    "json": read_json,
    "bq": read_bq_style,
    "bigquery": read_bq_style,
    "pubsub": read_stream,
    "stream": read_stream,
}


def reader_for(cfg: EventIOConfig) -> Callable[..., DataFrame]:
    """The reader of an event input: its format for a file/text input,
    else its type. An unknown one raises ValueError naming the known ones
    (read as text instead, a typo'd format would yield garbage events)."""
    fmt = cfg.format if cfg.type in ("file", "text") else cfg.type
    if fmt not in _READERS:
        raise ValueError(
            f"unknown event input format {fmt!r} (type={cfg.type!r}); "
            f"known: {sorted(_READERS)}"
        )
    return _READERS[fmt]


def read_event_input(spark: SparkSession, cfg: EventIOConfig) -> DataFrame:
    """Dispatch on cfg.type; honors skip_klio_read (config/_io.py:135-153)."""
    if cfg.skip_klio_read:
        raise RuntimeError(
            "skip_klio_read is set: the job owns reading; it gets the "
            "SparkSession instead of a DataFrame"
        )
    return reader_for(cfg)(spark, cfg)
