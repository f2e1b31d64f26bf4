"""Exhaustive routing matrix (FIXTURES.md F5 coverage target): all 2^4
combinations of (force, ping, exists_in, exists_out) against a reference
model of exec run.py:320-402, plus the multi-input prologue.

The prologue is one tagged stream. Its differential referee is the
split/union composition of the public filter ops it replaced
(`split_union_prologue` below): every row — v1, null-flagged, addressed
or not — must land in the same branch with the same columns."""

import dataclasses
import itertools
from functools import reduce

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from klio_spark import envelope as env
from klio_spark.config import DataIOConfig, KlioJobConfig
from klio_spark.operators import (
    check_input_exists,
    check_output_exists,
    check_recipients,
    filter_force,
    filter_ping,
    setup_prologue,
    tag_message_version,
    update_audit_log,
)
from klio_spark.operators.existence import list_location
from klio_spark.operators.prologue import PrologueResult, setup_prologue_multi


def reference_route(force: bool, ping: bool, ein: bool, eout: bool) -> str:
    """The reference semantics, straight from the survey:
    ping → pass_thru; output exists & !force → pass_thru;
    input missing → dropped; else process."""
    if ping:
        return "pass_thru"
    if eout and not force:
        return "pass_thru"
    if not ein:
        return "not_found"
    return "process"


@pytest.fixture(scope="module")
def matrix_env(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("matrix")
    in_dir, out_dir = tmp / "in", tmp / "out"
    in_dir.mkdir(), out_dir.mkdir()
    for el in EDGE_FILES_IN:
        (in_dir / f"{el}.ogg").write_bytes(b"x")
    for el in EDGE_FILES_OUT:
        (out_dir / f"{el}.png").write_bytes(b"y")
    elements = []
    for i, (force, ping, ein, eout) in enumerate(
        itertools.product([False, True], repeat=4)
    ):
        el = f"m{i:02d}-f{int(force)}p{int(ping)}i{int(ein)}o{int(eout)}"
        elements.append((el, force, ping))
        if ein:
            (in_dir / f"{el}.ogg").write_bytes(b"x")
        if eout:
            (out_dir / f"{el}.png").write_bytes(b"y")
    df = spark.createDataFrame(
        elements, "element_in string, force_in boolean, ping_in boolean"
    )
    df = (
        env.with_envelope(df, "element_in")
        .withColumn("force", F.col("force_in"))
        .withColumn("ping", F.col("ping_in"))
        .drop("element_in", "force_in", "ping_in")
    )
    config = KlioJobConfig(
        job_name="matrix",
        data_inputs=[DataIOConfig(location=str(in_dir), file_suffix=".ogg")],
        data_outputs=[DataIOConfig(location=str(out_dir), file_suffix=".png")],
    )
    return df, config


def test_all_16_flag_combinations(spark, matrix_env):
    df, config = matrix_env
    res = setup_prologue(df, config, spark)
    got = {}
    for branch, d in [
        ("process", res.process),
        ("pass_thru", res.pass_thru),
        ("not_found", res.not_found),
    ]:
        for r in d.collect():
            assert r.element not in got, f"{r.element} routed twice"
            got[r.element] = branch

    for el in got:
        f, p, i, o = (el[5] == "1", el[7] == "1", el[9] == "1", el[11] == "1")
        assert got[el] == reference_route(f, p, i, o), el
    assert len(got) == 16  # nothing silently vanished


def test_multi_input_prologue(spark, matrix_env, tmp_path):
    df, config = matrix_env
    a = df.filter(F.col("element") < "m08")
    b = df.filter(F.col("element") >= "m08")
    processed, pass_thru, not_found = setup_prologue_multi(
        {"a": a, "b": b}, config, spark
    )
    assert set(processed) == {"a", "b"}
    total = (
        processed["a"].count()
        + processed["b"].count()
        + (pass_thru.count() if pass_thru is not None else 0)
        + (not_found.count() if not_found is not None else 0)
    )
    assert total == 16


# -- differential: tagged stream vs the split/union composition -----------

def _union(dfs):
    dfs = [d for d in dfs if d is not None]
    return reduce(lambda a, b: a.unionByName(b), dfs) if dfs else None


def split_union_prologue(df, config, spark, input_listing=None, output_listing=None):
    """The referee: each routing step a filter pair over its parent, the
    branches re-joined by unions (the prologue's former composition)."""
    job, project = config.job_name, config.project
    tagged = tag_message_version(df)
    df = _union([tagged.process, env.coerce_v1(tagged.pass_thru)])
    df = update_audit_log(check_recipients(df, job, project), job, project)
    data_in = config.data_inputs[0] if config.data_inputs else None
    data_out = config.data_outputs[0] if config.data_outputs else None
    ping_split = filter_ping(df, data_input_ping=bool(data_in and data_in.ping))
    df, pass_thrus = ping_split.process, [ping_split.pass_thru]
    if data_out is not None and not data_out.skip_klio_existence_check:
        out_split = check_output_exists(df, data_out, spark, listing=output_listing)
        force_split = filter_force(out_split.found, bool(data_out.force))
        pass_thrus.append(force_split.pass_thru)
        df = _union([out_split.not_found, force_split.process])
    not_found = None
    if data_in is not None and not data_in.skip_klio_existence_check:
        in_split = check_input_exists(df, data_in, spark, listing=input_listing)
        df, not_found = in_split.found, in_split.not_found
    return PrologueResult(df, _union(pass_thrus), not_found)


EDGE_FILES_IN = ["v1-ok", "v1-limited-me", "v2-limited-me", "nullforce-o1",
                 "nullforce-o0", "nullping", "nullversion"]
EDGE_FILES_OUT = ["nullforce-o1", "v1-done"]

_NULLABLE = T.StructType(
    [T.StructField(f.name, f.dataType) for f in env.ENVELOPE_FIELDS]
)


def _job(name, project="local"):
    return {"job_name": name, "project": project}


def _edge_rows():
    """Rows the 16-flag matrix does not reach: v1 envelopes (coerced),
    recipients routing, and null version / ping / force."""
    me, other = _job("matrix"), _job("other")

    def row(el, version=2, force=False, ping=False, mode="anyone",
            recipients=None, trigger=None):
        return (el, None, version, force, ping, mode, recipients, trigger, [])

    return [
        row("v1-ok", version=1, mode=None),         # coerced to anyone
        row("v1-done", version=1, mode=None),        # coerced, output exists
        row("v1-zero", version=0, mode="anyone"),    # coerced, input missing
        row("v1-limited-me", version=1, mode="limited", recipients=[me]),
        row("v1-limited-other", version=1, mode="limited", recipients=[other]),
        row("v2-limited-me", mode="limited", recipients=[me], trigger=me),
        row("v2-limited-other", mode="limited", recipients=[other]),
        row("v2-nullmode", mode=None),               # no v1 rescue: dropped
        row("nullversion", version=None),
        row("nullping", ping=None),
        row("nullforce-o1", force=None),             # output exists
        row("nullforce-o0", force=None),             # output missing
    ]


@pytest.fixture(scope="module")
def all_rows(spark, matrix_env):
    df, config = matrix_env
    edge = spark.createDataFrame(_edge_rows(), _NULLABLE)
    return df.unionByName(edge), config


def _canon(df):
    """A branch's rows, comparable across two runs: the audit entry's
    timestamp differs per query, its job and project must not."""
    if df is None:
        return None
    audit = F.transform("job_audit_log", lambda x: F.struct(x.job_name, x.project))
    cols = [audit.alias(c) if c == "job_audit_log" else F.col(c) for c in df.columns]
    return sorted(repr(r) for r in df.select(*cols).collect())


def _configs(config):
    d_in, d_out = config.data_inputs[0], config.data_outputs[0]
    with_in = lambda **kw: dataclasses.replace(
        config, data_inputs=[dataclasses.replace(d_in, **kw)])
    with_out = lambda **kw: dataclasses.replace(
        config, data_outputs=[dataclasses.replace(d_out, **kw)])
    return {
        "both-checks": config,
        "input-ping": with_in(ping=True),
        "output-force": with_out(force=True),
        "skip-output-check": with_out(skip_klio_existence_check=True),
        "skip-input-check": with_in(skip_klio_existence_check=True),
        "no-data-output": dataclasses.replace(config, data_outputs=[]),
        "no-data-io": dataclasses.replace(config, data_inputs=[], data_outputs=[]),
    }


@pytest.mark.parametrize(
    "variant",
    ["both-checks", "input-ping", "output-force", "skip-output-check",
     "skip-input-check", "no-data-output", "no-data-io"],
)
def test_tagged_prologue_matches_split_union(spark, all_rows, variant):
    df, base = all_rows
    config = _configs(base)[variant]
    new = setup_prologue(df, config, spark)
    old = split_union_prologue(df, config, spark)
    for branch in ("process", "pass_thru", "not_found"):
        got, want = getattr(new, branch), getattr(old, branch)
        assert (got is None) == (want is None), branch
        if got is not None:
            assert got.columns == want.columns, branch
            assert _canon(got) == _canon(want), (variant, branch)


def test_null_flags_and_versions_drop(spark, all_rows):
    """Null version / ping / force leave the row in no branch; a null
    force only matters when the output exists."""
    df, config = all_rows
    res = setup_prologue(df, config, spark)
    routed = {
        name: {r.element for r in d.collect()}
        for name, d in [("process", res.process), ("pass_thru", res.pass_thru),
                        ("not_found", res.not_found)]
    }
    everywhere = set().union(*routed.values())
    for gone in ("nullversion", "nullping", "nullforce-o1", "v2-nullmode",
                 "v1-limited-other", "v2-limited-other"):
        assert gone not in everywhere, gone
    assert {"v1-ok", "v1-limited-me", "v2-limited-me", "nullforce-o0"} <= routed["process"]
    assert "v1-done" in routed["pass_thru"]
    assert "v1-zero" in routed["not_found"]
    coerced = res.process.filter(F.col("element") == "v1-ok").collect()[0]
    assert (coerced.version, coerced.recipients_mode) == (2, "anyone")
    flipped = res.process.filter(F.col("element") == "v2-limited-me").collect()[0]
    assert flipped.recipients_mode == "anyone" and flipped.trigger_children_of is None


def test_multi_input_matches_split_union(spark, all_rows):
    df, config = all_rows
    inputs = {"a": df.filter(F.col("element") < "m08"),
              "b": df.filter(F.col("element") >= "m08")}
    processed, pass_thru, not_found = setup_prologue_multi(inputs, config, spark)
    in_listing = list_location(spark, config.data_inputs[0])
    out_listing = list_location(spark, config.data_outputs[0])
    old = {name: split_union_prologue(d, config, spark, in_listing, out_listing)
           for name, d in inputs.items()}
    for name in inputs:
        assert _canon(processed[name]) == _canon(old[name].process), name
    assert _canon(pass_thru) == _canon(_union([r.pass_thru for r in old.values()]))
    assert _canon(not_found) == _canon(_union([r.not_found for r in old.values()]))
