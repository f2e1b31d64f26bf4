"""Canonical pipeline prologue/epilogue assembly.

Reference: exec/src/klio_exec/commands/run.py
  - _generate_pcoll       (:488-508)  read + per-input filter chain
  - _filter_intended_recipients (:411-454)
  - _update_audit_log     (:404-409)
  - _setup_data_io_filters(:320-402)  ping → output-exists → force →
                                      input-exists → drop-not-found,
                                      flattening pass-thru branches
  - _setup_pipeline       (:511-558)  user run(df, config) + epilogue write

Per event input the prologue is ONE tagged stream, the way Beam computes
a tagged output once:
  read → v1 coercion (column-wise) → recipients filter → audit append →
  left join against the output listing (flag) → left join against the
  input listing (flag) → one CASE WHEN that names each row's branch:
  ping → pass_thru; output exists and not forced → pass_thru; input
  missing → not_found; otherwise process.
`process`, `pass_thru` and `not_found` are plain filters of that frame.

Plan: the source is scanned once per consumed branch. The coercion,
recipients and audit steps are narrow projections in the scan's stage;
each listing is a broadcast (or, at scale, shuffled) left join, so a
plan that reads two branches — the event write's process ∪ pass_thru —
scans the source twice and reuses each listing's broadcast exchange.
"""

from __future__ import annotations

import dataclasses
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from klio_spark.config import KlioJobConfig
from klio_spark.context import KlioContext
from klio_spark.envelope import coerce_v1
from klio_spark.operators.audit import update_audit_log
from klio_spark.operators.existence import exists_flag, list_location
from klio_spark.operators.filters import check_recipients

PROCESS, PASS_THRU, NOT_FOUND = "process", "pass_thru", "not_found"
_BRANCH, _OUT, _IN = "_klio_branch", "_klio_out_exists", "_klio_in_exists"


@dataclasses.dataclass
class PrologueResult:
    """`process` goes to user code; `pass_thru` rejoins at the epilogue;
    `not_found` is the dropped branch (input missing) for trigger-upstream."""

    process: DataFrame
    pass_thru: DataFrame | None
    not_found: DataFrame | None


def _union(dfs: list[DataFrame]) -> DataFrame | None:
    dfs = [d for d in dfs if d is not None]
    if not dfs:
        return None
    return reduce(lambda a, b: a.unionByName(b), dfs)


def _listings(
    config: KlioJobConfig,
    spark: SparkSession,
    input_listing: DataFrame | None = None,
    output_listing: DataFrame | None = None,
) -> tuple[DataFrame | None, DataFrame | None]:
    """(input listing, output listing): the one passed in, else a fresh
    listing; None where no location is configured or its existence
    check is skipped."""
    def listed(cfgs, given):
        cfg = cfgs[0] if cfgs else None
        if cfg is None or cfg.skip_klio_existence_check:
            return None
        return given if given is not None else list_location(spark, cfg)

    return (
        listed(config.data_inputs, input_listing),
        listed(config.data_outputs, output_listing),
    )


def _branch(config: KlioJobConfig, out_checked: bool, in_checked: bool) -> Column:
    """Each row's branch (run.py:320-402). A null ping, or a null force
    on a row whose output exists, yields null: such a row is in no
    branch, as no side of a boolean filter pair keeps it."""
    data_in = config.data_inputs[0] if config.data_inputs else None
    data_out = config.data_outputs[0] if config.data_outputs else None
    none = F.lit(None).cast("string")
    is_ping = F.col("ping") | F.lit(bool(data_in and data_in.ping))
    tag = F.when(is_ping.isNull(), none).when(is_ping, PASS_THRU)
    if out_checked:
        is_force = F.col("force") | F.lit(bool(data_out.force))
        tag = tag.when(F.col(_OUT) & is_force.isNull(), none).when(
            F.col(_OUT) & ~is_force, PASS_THRU
        )
    if in_checked:
        tag = tag.when(~F.col(_IN), NOT_FOUND)
    return tag.otherwise(PROCESS)


def _prologue(
    df: DataFrame,
    config: KlioJobConfig,
    input_listing: DataFrame | None,
    output_listing: DataFrame | None,
) -> PrologueResult:
    job, project = config.job_name, config.project
    # the version split as one column-wise step: v1 rows are coerced in
    # place, and a null version drops as it did from both split sides
    df = coerce_v1(df.filter(F.col("version").isNotNull()), F.col("version") < 2)
    df = update_audit_log(check_recipients(df, job, project), job, project)
    cols = df.columns
    if output_listing is not None:
        df = exists_flag(df, output_listing, config.data_outputs[0], _OUT)
    if input_listing is not None:
        df = exists_flag(df, input_listing, config.data_inputs[0], _IN)
    tagged = df.withColumn(
        _BRANCH,
        _branch(config, output_listing is not None, input_listing is not None),
    )

    def branch(name: str) -> DataFrame:
        return tagged.filter(F.col(_BRANCH) == name).select(*cols)

    return PrologueResult(
        process=branch(PROCESS),
        pass_thru=branch(PASS_THRU),
        not_found=branch(NOT_FOUND) if input_listing is not None else None,
    )


def setup_prologue(
    df: DataFrame,
    config: KlioJobConfig,
    spark: SparkSession | None = None,
    input_listing: DataFrame | None = None,
    output_listing: DataFrame | None = None,
) -> PrologueResult:
    """Apply the canonical per-input prologue to an envelope DataFrame."""
    listings = _listings(
        config, spark or df.sparkSession, input_listing, output_listing
    )
    return _prologue(df, config, *listings)


def setup_prologue_multi(
    inputs: dict[str, DataFrame],
    config: KlioJobConfig,
    spark: SparkSession | None = None,
) -> tuple[dict[str, DataFrame], DataFrame | None, DataFrame | None]:
    """Multi-event-input prologue (run.py:458-486): each input gets the
    canonical chain; user code receives a dict of process streams (the
    namedtuple-of-pcolls contract); pass-thrus and not-founds flatten.

    Each data location is listed ONCE and shared across inputs: k event
    inputs must not each trigger their own metadata scan of the same
    data input/output dirs."""
    sp = spark or next(iter(inputs.values())).sparkSession
    in_listing, out_listing = _listings(config, sp)
    results = {
        name: _prologue(df, config, in_listing, out_listing)
        for name, df in inputs.items()
    }
    return (
        {name: r.process for name, r in results.items()},
        _union([r.pass_thru for r in results.values()]),
        _union([r.not_found for r in results.values()]),
    )


def run_pipeline(
    df: DataFrame,
    config: KlioJobConfig,
    user_run,
    spark: SparkSession | None = None,
    **prologue_kw,
) -> DataFrame:
    """Full job wiring: prologue → user run(df, config) → epilogue union.

    `user_run` keeps the reference's entrypoint contract
    (run(input_pcol, config), run.py:262-281): a callable
    (DataFrame, KlioJobConfig) -> DataFrame over envelope columns.
    Returns the final DataFrame ready for the event writer.
    """
    KlioContext.set_current(KlioContext(config))
    pro = setup_prologue(df, config, spark, **prologue_kw)
    out = user_run(pro.process, config)
    if pro.pass_thru is not None:
        out = out.select(*pro.pass_thru.columns).unionByName(pro.pass_thru)
    return out
