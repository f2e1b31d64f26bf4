"""Routing filters: ping / force / recipients / version tagging / drop.

Reference: lib/src/klio/transforms/helpers.py
  - KlioFilterPing     (:107-154)  tags process / pass_thru
  - KlioFilterForce    (:157-211)  tags process / pass_thru
  - KlioCheckRecipients(:354-430)  drop unless anyone or self in limited;
                                   flips limited->anyone on trigger_children_of
  - _KlioTagMessageVersion (:288-308)
  - KlioDrop           (:264-284)

Each returns a TaggedSplit of lazily-filtered views over ONE parent
DataFrame. Each branch is its own filter over the parent's whole plan:
a consumer that reads both branches (a union, a join) runs the parent's
lineage once per branch, scan included. The job prologue therefore sets
one branch tag per row instead of chaining these splits
(operators.prologue).
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from klio_spark.envelope import ANYONE, LIMITED, job_lit


@dataclasses.dataclass
class TaggedSplit:
    """Two branches of one stream, klio tagged-output style."""

    process: DataFrame
    pass_thru: DataFrame

    # aliases matching the existence-check tag names (found / not_found)
    @property
    def found(self) -> DataFrame:
        return self.process

    @property
    def not_found(self) -> DataFrame:
        return self.pass_thru


def _split(df: DataFrame, predicate: Column) -> TaggedSplit:
    return TaggedSplit(process=df.filter(predicate), pass_thru=df.filter(~predicate))


def filter_ping(df: DataFrame, data_input_ping: bool = False) -> TaggedSplit:
    """process = messages NOT in ping mode; pass_thru = ping messages.

    Ping messages traverse the DAG without doing work (klio.proto:39,
    helpers.py:107-154). `data_input_ping` is the config-level override
    (config/_io.py:317-331).
    """
    is_ping = F.col("ping") | F.lit(bool(data_input_ping))
    return TaggedSplit(process=df.filter(~is_ping), pass_thru=df.filter(is_ping))


def filter_force(df: DataFrame, data_output_force: bool = False) -> TaggedSplit:
    """For messages whose *output already exists*: process only if forced.

    helpers.py:157-211 — called on the `exists` branch of the output check;
    `process` = force-flagged (recompute), `pass_thru` = skip (output fresh).
    """
    is_force = F.col("force") | F.lit(bool(data_output_force))
    return TaggedSplit(process=df.filter(is_force), pass_thru=df.filter(~is_force))


def check_recipients(df: DataFrame, job_name: str, project: str) -> DataFrame:
    """Keep messages intended for this job; flip bottom-up -> top-down.

    helpers.py:354-430: keep iff recipients_mode == 'anyone', or mode ==
    'limited' and this job ∈ recipients. If this job == trigger_children_of,
    rewrite mode to 'anyone' so children process normally (bottom-up
    execution resuming top-down, klio.proto:58-75). Null mode drops
    (helpers.py:375-384).
    """
    me = job_lit(job_name, project)
    in_recipients = F.array_contains(F.coalesce(F.col("recipients"), F.array()), me)
    keep = (F.col("recipients_mode") == ANYONE) | (
        (F.col("recipients_mode") == LIMITED) & in_recipients
    )
    # materialize the flip predicate BEFORE rewriting the columns it reads
    # (withColumn re-resolves expressions against the updated projection)
    should_flip = (F.col("recipients_mode") == LIMITED) & F.col(
        "trigger_children_of"
    ).eqNullSafe(me)
    return (
        df.filter(keep)
        .withColumn("_flip", should_flip)
        .withColumn(
            "recipients_mode",
            F.when(F.col("_flip"), F.lit(ANYONE)).otherwise(F.col("recipients_mode")),
        )
        .withColumn(
            "recipients",
            F.when(F.col("_flip"), F.lit(None).cast(df.schema["recipients"].dataType))
            .otherwise(F.col("recipients")),
        )
        .withColumn(
            "trigger_children_of",
            F.when(
                F.col("_flip"),
                F.lit(None).cast(df.schema["trigger_children_of"].dataType),
            ).otherwise(F.col("trigger_children_of")),
        )
        .drop("_flip")
    )


def tag_message_version(df: DataFrame) -> TaggedSplit:
    """Split by envelope version (v1 vs v2), helpers.py:288-308.

    process = v2, pass_thru = v1 (callers run coerce_v1 on the v1 side).
    """
    return _split(df, F.col("version") >= 2)


def drop(df: DataFrame) -> DataFrame:
    """Terminate a branch (KlioDrop, helpers.py:264-284).

    Returns an empty-but-schema'd DataFrame; callers normally just don't
    write the branch — counts come from the Observation that
    count_messages returns for the input.
    """
    return df.filter(F.lit(False))
