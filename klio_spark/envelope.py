"""KlioMessage envelope as first-class DataFrame columns.

Reference data model: core/src/klio_core/proto/klio.proto (KlioMessage:
metadata{force, ping, intended_recipients, job_audit_log}, data{element,
payload}, version) and the serializer compat rules in
lib/src/klio/message/serializer.py:23-108.

Design rule (SURVEY §7): the envelope is *columns*, not a serialized blob.
Every routing decision (ping/force/recipients) becomes a Catalyst-visible
boolean predicate, so filters are pushed down, pruned, and codegen'd.
A wire format is only needed at external edges. Two are provided:
to_wire / from_wire carry the envelope as JSON bytes (introspectable,
self-describing); to_proto_wire / from_proto_wire carry it as real
KlioMessage protobuf bytes (klio_spark.proto_wire, dependency-free) for
interop with existing klio jobs on the same topics.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# -- recipient routing modes (klio.proto:41-75) ------------------------------
ANYONE = "anyone"
LIMITED = "limited"

# KlioJob identity = (job_name, gcp_project)  (klio.proto:93-107)
JOB_SCHEMA = T.StructType(
    [
        T.StructField("job_name", T.StringType()),
        T.StructField("project", T.StringType()),
    ]
)

AUDIT_ITEM_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("job_name", T.StringType()),
        T.StructField("project", T.StringType()),
    ]
)

# Full envelope column set. `element` is logically the key; kept as STRING
# (the reference stores bytes but every observed use is a utf-8 id —
# lib/src/klio/transforms/io.py:156-167 reads text lines).
ENVELOPE_FIELDS = [
    T.StructField("element", T.StringType(), nullable=False),
    T.StructField("payload", T.BinaryType(), nullable=True),
    T.StructField("version", T.IntegerType(), nullable=False),
    T.StructField("force", T.BooleanType(), nullable=False),
    T.StructField("ping", T.BooleanType(), nullable=False),
    # 'anyone' | 'limited'; null → message dropped (helpers.py:375-384)
    T.StructField("recipients_mode", T.StringType(), nullable=True),
    T.StructField("recipients", T.ArrayType(JOB_SCHEMA), nullable=True),
    T.StructField("trigger_children_of", JOB_SCHEMA, nullable=True),
    T.StructField("job_audit_log", T.ArrayType(AUDIT_ITEM_SCHEMA), nullable=False),
]

ENVELOPE_SCHEMA = T.StructType(ENVELOPE_FIELDS)

ENVELOPE_COLS = [f.name for f in ENVELOPE_FIELDS]


def envelope_columns(
    element: Column | str,
    *,
    payload: Column | None = None,
    version: int = 2,
    force: bool = False,
    ping: bool = False,
    recipients_mode: str = ANYONE,
) -> dict[str, Column]:
    """Column expressions for a fresh V2 envelope around ``element``.

    Mirrors _KlioReadFromTextSource building a new V2 message per line with
    recipients=anyone (lib/src/klio/transforms/io.py:156-167).
    """
    el = F.col(element) if isinstance(element, str) else element
    return {
        "element": el.cast("string"),
        "payload": (payload if payload is not None else F.lit(None)).cast("binary"),
        "version": F.lit(version).cast("int"),
        "force": F.lit(force),
        "ping": F.lit(ping),
        "recipients_mode": F.lit(recipients_mode),
        "recipients": F.lit(None).cast(T.ArrayType(JOB_SCHEMA)),
        "trigger_children_of": F.lit(None).cast(JOB_SCHEMA),
        "job_audit_log": F.array().cast(T.ArrayType(AUDIT_ITEM_SCHEMA)),
    }


def with_envelope(df: DataFrame, element: Column | str, **kw) -> DataFrame:
    """Wrap ``df`` rows in a fresh envelope keyed by ``element``.

    Non-envelope columns of ``df`` are preserved (they ride along like an
    un-opaque payload; use ``pack_payload`` to fold them into `payload`).
    """
    cols = envelope_columns(element, **kw)
    out = df
    for name, col in cols.items():
        out = out.withColumn(name, col)
    return out


def from_elements(
    spark: SparkSession, elements: Iterable[str], **kw
) -> DataFrame:
    """Envelope DataFrame from a list of element ids (test/publish helper).

    Mirrors `klio message publish` constructing messages from CLI ids
    (cli/src/klio_cli/commands/message/publish.py:54-72).
    """
    df = spark.createDataFrame([(e,) for e in elements], "element_in string")
    return with_envelope(df, "element_in").drop("element_in")


def pack_payload(df: DataFrame, *cols: str) -> DataFrame:
    """Fold ``cols`` into the opaque `payload` channel as JSON bytes.

    The reference passes intra-pipeline state between transforms in
    `data.payload` (klio.proto:81, docs/userguide/pipeline/state.rst).
    JSON-in-binary keeps that contract while remaining introspectable.
    """
    return df.withColumn(
        "payload", F.to_json(F.struct(*[F.col(c) for c in cols])).cast("binary")
    )


def unpack_payload(df: DataFrame, schema: T.StructType | str) -> DataFrame:
    """Inverse of pack_payload: parse `payload` JSON into columns."""
    parsed = F.from_json(F.col("payload").cast("string"), schema)
    out = df.withColumn("_p", parsed)
    names = (
        schema.fieldNames() if isinstance(schema, T.StructType)
        else out.select("_p.*").columns
    )
    for n in names:
        out = out.withColumn(n, F.col(f"_p.{n}"))
    return out.drop("_p")


def clear_payload_if_unchanged(df: DataFrame, prev_payload: Column) -> DataFrame:
    """Anti-recursion rule: a payload equal to the incoming one is cleared.

    Mirrors serializer.py:111-134 — returning a payload equal to the
    incoming `data` (or None) clears it so state doesn't snowball.
    """
    return df.withColumn(
        "payload",
        F.when(F.col("payload").eqNullSafe(prev_payload), F.lit(None).cast("binary"))
        .otherwise(F.col("payload")),
    )


def coerce_v1(df: DataFrame, v1: Column | None = None) -> DataFrame:
    """V1→V2 coercion: entity_id-style key becomes `element`, version→2.

    Mirrors serializer.py:23-53 (`entity_id` copied into `element`).
    In column form the key is already `element`; we normalize version and
    fold v1 `downstream` routing into recipients=anyone. With `v1`, only
    the rows where it holds are coerced; the rest pass unchanged.
    """
    def coerce(name: str, value: Column) -> Column:
        return value if v1 is None else F.when(v1, value).otherwise(F.col(name))

    # recipients_mode first: `v1` may read the version rewritten below
    return df.withColumn(
        "recipients_mode",
        coerce("recipients_mode", F.coalesce(F.col("recipients_mode"), F.lit(ANYONE))),
    ).withColumn("version", coerce("version", F.lit(2).cast("int")))


def job_lit(job_name: str, project: str) -> Column:
    """A KlioJob struct literal."""
    return F.struct(
        F.lit(job_name).alias("job_name"), F.lit(project).alias("project")
    )


def to_wire(df: DataFrame) -> DataFrame:
    """Envelope columns → one `value: BINARY` column (JSON wire format)
    for external edges (Kafka value, file queue). Payload bytes travel
    base64 inside the JSON (serializer.py edge parity). The audit log is
    carried too (ISO-8601 timestamps) — the reference serializes full
    KlioMessage metadata including job_audit_log across jobs, so audit
    provenance must survive external hops (trigger_upstream included)."""
    body = F.to_json(
        F.struct(
            F.col("element"),
            F.base64(F.col("payload")).alias("payload_b64"),
            F.col("version"),
            F.col("force"),
            F.col("ping"),
            F.col("recipients_mode"),
            F.col("recipients"),
            F.col("trigger_children_of"),
            F.col("job_audit_log"),
        )
    )
    return df.select(body.cast("binary").alias("value"))


def from_wire(df: DataFrame, value_col: str = "value", *, allow_non_klio: bool = False) -> DataFrame:
    """`value: BINARY` JSON → envelope columns.

    Unparseable bytes: dropped by default; with ``allow_non_klio`` they
    become fresh V2 messages whose element is the raw text (the
    allow_non_klio_messages contract, serializer.py:90-98)."""
    wire_schema = T.StructType(
        [
            T.StructField("element", T.StringType()),
            T.StructField("payload_b64", T.StringType()),
            T.StructField("version", T.IntegerType()),
            T.StructField("force", T.BooleanType()),
            T.StructField("ping", T.BooleanType()),
            T.StructField("recipients_mode", T.StringType()),
            T.StructField("recipients", T.ArrayType(JOB_SCHEMA)),
            T.StructField("trigger_children_of", JOB_SCHEMA),
            T.StructField("job_audit_log", T.ArrayType(AUDIT_ITEM_SCHEMA)),
        ]
    )
    raw = F.col(value_col).cast("string")
    parsed = df.withColumn("_w", F.from_json(raw, wire_schema))
    ok = F.col("_w").isNotNull() & F.col("_w.element").isNotNull()
    if not allow_non_klio:
        parsed = parsed.filter(ok)
    out = parsed.select(
        F.when(ok, F.col("_w.element")).otherwise(raw).alias("element"),
        F.when(ok, F.unbase64(F.col("_w.payload_b64"))).otherwise(F.lit(None))
        .cast("binary").alias("payload"),
        F.when(ok, F.coalesce(F.col("_w.version"), F.lit(2))).otherwise(F.lit(2))
        .cast("int").alias("version"),
        F.when(ok, F.coalesce(F.col("_w.force"), F.lit(False)))
        .otherwise(F.lit(False)).alias("force"),
        F.when(ok, F.coalesce(F.col("_w.ping"), F.lit(False)))
        .otherwise(F.lit(False)).alias("ping"),
        F.when(ok, F.coalesce(F.col("_w.recipients_mode"), F.lit(ANYONE)))
        .otherwise(F.lit(ANYONE)).alias("recipients_mode"),
        F.when(ok, F.col("_w.recipients")).otherwise(
            F.lit(None).cast(T.ArrayType(JOB_SCHEMA))
        ).alias("recipients"),
        F.when(ok, F.col("_w.trigger_children_of")).otherwise(
            F.lit(None).cast(JOB_SCHEMA)
        ).alias("trigger_children_of"),
        # provenance survives the hop; empty only when genuinely absent
        F.coalesce(
            F.when(ok, F.col("_w.job_audit_log")),
            F.array().cast(T.ArrayType(AUDIT_ITEM_SCHEMA)),
        ).alias("job_audit_log"),
    )
    return out


def to_proto_wire(df: DataFrame) -> DataFrame:
    """Envelope columns → `value: BINARY` of KlioMessage protobuf bytes.

    True wire interop with existing klio jobs: the bytes match
    KlioMessage.SerializeToString() (klio.proto, serializer.py:58-168),
    produced by the dependency-free codec in klio_spark.proto_wire.
    A Python edge op (mapInPandas) by design — serialization happens only
    at external boundaries, never between in-plan operators."""
    import pandas as pd

    from klio_spark.proto_wire import encode_klio_message

    cols = list(ENVELOPE_COLS)

    def _enc(batches):
        for pdf in batches:
            values = []
            for row in pdf.to_dict("records"):
                msg = dict(row)
                if isinstance(msg.get("payload"), bytearray):
                    msg["payload"] = bytes(msg["payload"])
                audit = []
                for item in list(msg.get("job_audit_log") or []):
                    d = dict(item)
                    ts = d.get("ts")
                    if isinstance(ts, pd.Timestamp):
                        d["ts"] = ts.to_pydatetime()
                    audit.append(d)
                msg["job_audit_log"] = audit
                if msg.get("recipients") is not None:
                    msg["recipients"] = [dict(j) for j in list(msg["recipients"])]
                if msg.get("trigger_children_of") is not None:
                    msg["trigger_children_of"] = dict(msg["trigger_children_of"])
                values.append(encode_klio_message(msg))
            yield pd.DataFrame({"value": values})

    return df.select(*cols).mapInPandas(_enc, schema="value binary")


def from_proto_wire(df: DataFrame, value_col: str = "value") -> DataFrame:
    """`value: BINARY` KlioMessage protobuf bytes → envelope columns.

    Inverse of to_proto_wire; v1 entity_id folds into element and the
    null recipients_mode drop rule is preserved for the downstream
    check_recipients filter."""
    import pandas as pd

    from klio_spark.proto_wire import decode_klio_message

    def _dec(batches):
        for pdf in batches:
            rows = []
            for blob in pdf[value_col]:
                try:
                    msg = decode_klio_message(bytes(blob))
                except Exception:  # noqa: BLE001 — undecodable → dropped
                    continue
                if not msg.get("element"):
                    continue  # no element/entity_id → not a klio message
                msg["version"] = int(msg["version"] or 2)
                msg["job_audit_log"] = msg.get("job_audit_log") or []
                rows.append(msg)
            yield pd.DataFrame(rows, columns=ENVELOPE_COLS)

    return df.select(value_col).mapInPandas(_dec, schema=ENVELOPE_SCHEMA)
