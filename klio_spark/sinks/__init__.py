"""Event sinks: envelope DataFrame → event output channel.

Reference: lib/src/klio/transforms/io.py
  - KlioWriteToText  (:386-424) writes data.element per line
  - KlioWriteToAvro  (:539-657) {"element": bytes} records
  - KlioWriteToBigQuery (:355-383) json payload → rows; write dispositions
    (config/_io.py:460-491) → Spark save modes
  - KlioWriteToEventOutput (helpers.py:214-260) composite dispatch

Registry keyed by config type, honoring skip_klio_write
(config/_io.py:157-175).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from klio_spark.config import EventIOConfig

# BigQuery write dispositions → Spark save modes (config/_io.py:460-491)
_DISPOSITIONS = {
    "WRITE_APPEND": "append",
    "WRITE_TRUNCATE": "overwrite",
    "WRITE_EMPTY": "errorifexists",
}


def write_text(df: DataFrame, cfg: EventIOConfig) -> None:
    """element per line (unwrap envelope, io.py:386-424)."""
    df.select(F.col("element").cast("string").alias("value")).write.mode(
        cfg.options.get("mode", "overwrite")
    ).text(cfg.location)


def _partition_cols(cfg: EventIOConfig) -> list[str]:
    """`partition_by` option → hive-style layout columns (comma string or
    list in klio-job.yaml). At warehouse scale this is THE read-side
    lever: a date/source-partitioned output turns downstream filters
    into partition pruning — directories never listed, files never
    opened — before any row-group stat is consulted."""
    pb = cfg.options.get("partition_by")
    if not pb:
        return []
    return [c.strip() for c in pb.split(",")] if isinstance(pb, str) else list(pb)


def write_parquet(df: DataFrame, cfg: EventIOConfig) -> None:
    w = df.write.mode(cfg.options.get("mode", "overwrite"))
    if cols := _partition_cols(cfg):
        w = w.partitionBy(*cols)
    if mrpf := cfg.options.get("max_records_per_file"):
        # bounds the biggest file a partition writes — the other half of
        # layout hygiene (partition_by solves pruning; this caps skewed
        # partitions so no single file becomes an unsplittable monster)
        w = w.option("maxRecordsPerFile", int(mrpf))
    w.parquet(cfg.location)


def write_avro(df: DataFrame, cfg: EventIOConfig) -> None:
    """Fixed klio Avro schema {"element": bytes} (io.py:555-560).

    spark-avro DataSource when present; else the pure-Python container
    writer (klio_spark.avro_codec) — one .avro file per partition,
    written executor-side, so the write stays distributed."""
    out = df.select(F.col("element").cast("binary").alias("element"))
    try:
        out.write.format("avro").mode(
            cfg.options.get("mode", "overwrite")
        ).save(cfg.location)
        return
    except Exception as e:  # noqa: BLE001 — only swallow "no such source"
        # only the missing-DataSource signature falls back; a real write
        # failure from an installed spark-avro (disk full, task death)
        # must surface, not silently rerun through the Python writer
        msg = str(e)
        if not (
            "DATA_SOURCE_NOT_FOUND" in msg or "Failed to find data source" in msg
        ):
            raise
    write_avro_fallback(out, cfg.location, mode=cfg.options.get("mode", "overwrite"))


def write_avro_fallback(df: DataFrame, location: str, *, mode: str = "overwrite") -> None:
    """Distributed pure-Python Avro container write (no spark-avro).

    Each partition encodes its rows into one container file named like a
    Spark part file. Timestamps/dates are written as their base types
    (micros/days) matching avro_codec's read side."""
    import os
    import shutil
    import uuid

    import datetime

    import pandas as pd

    from klio_spark import avro_codec as ac

    if os.path.exists(location):
        if mode == "overwrite":
            shutil.rmtree(location)
        elif mode == "errorifexists":
            raise FileExistsError(location)
    os.makedirs(location, exist_ok=True)
    avro_schema = ac.spark_to_avro_schema(df.schema)

    def _write(batches):
        pid = os.getpid()
        for pdf in batches:
            recs = []
            for row in pdf.to_dict("records"):
                for k, v in row.items():
                    if isinstance(v, pd.Timestamp):
                        row[k] = int(v.value // 1000)  # ns → micros
                    elif isinstance(v, datetime.date) and not isinstance(
                        v, datetime.datetime
                    ):
                        # DateType → Avro int days-since-epoch
                        row[k] = (v - datetime.date(1970, 1, 1)).days
                    elif isinstance(v, bytearray):
                        row[k] = bytes(v)
                    elif v is pd.NaT or (isinstance(v, float) and pd.isna(v)):
                        row[k] = None
                recs.append(row)
            if not recs:
                continue
            blob = ac.write_container(avro_schema, recs)
            fname = f"part-{pid}-{uuid.uuid4().hex[:12]}.avro"
            with open(os.path.join(location, fname), "wb") as f:
                f.write(blob)
            yield pd.DataFrame({"n": [len(recs)]})

    df.mapInPandas(_write, schema="n long").write.mode("overwrite").format(
        "noop"
    ).save()


def write_csv(df: DataFrame, cfg: EventIOConfig) -> None:
    """Envelope scalars (element + routing flags) as CSV with header."""
    df.select(
        F.col("element").cast("string"),
        "version", "force", "ping", "recipients_mode",
    ).write.option("header", "true").mode(
        cfg.options.get("mode", "overwrite")
    ).csv(cfg.location)


def write_json(df: DataFrame, cfg: EventIOConfig) -> None:
    """Full envelope (minus binary payload, carried base64) as JSON lines."""
    df.withColumn("payload_b64", F.base64("payload")).drop("payload").write.mode(
        cfg.options.get("mode", "overwrite")
    ).json(cfg.location)


def write_bq_style(df: DataFrame, cfg: EventIOConfig) -> None:
    """payload JSON → typed rows (io.py:370-375). Locally parquet stands in
    for the bigquery connector; schema comes from cfg.options["schema"]."""
    schema = cfg.options.get("schema")
    if schema is None:
        raise ValueError("bq-style write needs options.schema (DDL string)")
    mode = _DISPOSITIONS.get(cfg.options.get("disposition", "WRITE_APPEND"), "append")
    fmt = cfg.options.get("format", "parquet")
    rows = df.select(
        F.from_json(F.col("payload").cast("string"), schema).alias("r")
    ).select("r.*")
    w = rows.write.format(fmt).mode(mode)
    if cols := _partition_cols(cfg):
        w = w.partitionBy(*cols)
    w.save(cfg.location)


_WRITERS: dict[str, Callable[[DataFrame, EventIOConfig], None]] = {
    "file": write_text,
    "text": write_text,
    "parquet": write_parquet,
    "avro": write_avro,
    "csv": write_csv,
    "json": write_json,
    "bq": write_bq_style,
    "bigquery": write_bq_style,
}


def writer_for(cfg: EventIOConfig) -> Callable[[DataFrame, EventIOConfig], None]:
    """The writer of an event output: its format for a file/text output,
    else its type. An unknown one raises ValueError naming the known ones
    (a typo'd format silently writing text instead of the configured
    columnar layout is a data-corruption footgun)."""
    fmt = cfg.format if cfg.type in ("file", "text") else cfg.type
    if fmt not in _WRITERS:
        raise ValueError(
            f"unknown event output format {fmt!r} (type={cfg.type!r}); "
            f"known: {sorted(_WRITERS)}"
        )
    return _WRITERS[fmt]


def write_event_output(df: DataFrame, cfg: EventIOConfig) -> None:
    """Dispatch on type/format (KlioWriteToEventOutput, helpers.py:214-260)."""
    if cfg.skip_klio_write:
        return
    writer_for(cfg)(df, cfg)
