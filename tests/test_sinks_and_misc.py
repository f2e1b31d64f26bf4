"""Sinks (parquet/bq-style dispositions), counters, debug pass-through,
profile/context decorators — the remaining SURVEY §2 rows."""

import logging

import pytest
from pyspark.sql import functions as F

from klio_spark import envelope as env
from klio_spark import udf as kudf
from klio_spark.config import EventIOConfig
from klio_spark.operators.counters import count_messages
from klio_spark.operators.debug import debug_message
from klio_spark.sinks import write_event_output


def test_parquet_sink_roundtrip(spark, tmp_path):
    df = env.from_elements(spark, ["p1", "p2"])
    cfg = EventIOConfig(type="file", format="parquet", location=str(tmp_path / "pq"))
    write_event_output(df, cfg)
    back = spark.read.parquet(str(tmp_path / "pq"))
    assert sorted(r.element for r in back.collect()) == ["p1", "p2"]
    assert set(env.ENVELOPE_COLS) <= set(back.columns)


def test_partitioned_parquet_write_prunes_on_read(spark, sf_dir, tmp_path):
    """partition_by option → hive layout; a source filter on the read-back
    becomes a PartitionFilter (directories pruned before any file I/O)."""
    from klio_spark import plans
    from klio_spark.sinks import write_parquet

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    loc = str(tmp_path / "by_source")
    cfg = EventIOConfig(
        type="parquet", location=loc, options={"partition_by": "source"}
    )
    write_parquet(d, cfg)

    import os

    subdirs = [p for p in os.listdir(loc) if p.startswith("source=")]
    assert len(subdirs) > 1, subdirs  # real hive layout

    one = subdirs[0].split("=", 1)[1]
    back = spark.read.parquet(loc).filter(F.col("source") == one)
    s = plans.plan_str(back)
    assert "PartitionFilters" in s and "source" in s, s[:2000]
    # row counts survive the layout round-trip
    assert back.count() == d.filter(F.col("source") == one).count()


def test_bq_style_sink_unwraps_payload(spark, tmp_path):
    """KlioWriteToBigQuery parity: json payload -> typed rows (io.py:370-375)."""
    df = env.from_elements(spark, ["b1", "b2"]).withColumn(
        "payload",
        F.to_json(
            F.struct(F.col("element").alias("entity_id"), F.length("element").alias("value"))
        ).cast("binary"),
    )
    cfg = EventIOConfig(
        type="bq",
        location=str(tmp_path / "bq"),
        options={"schema": "entity_id string, value int", "disposition": "WRITE_TRUNCATE"},
    )
    write_event_output(df, cfg)
    back = spark.read.parquet(str(tmp_path / "bq"))
    rows = {r.entity_id: r.value for r in back.collect()}
    assert rows == {"b1": 2, "b2": 2}
    # WRITE_TRUNCATE -> overwrite: second write replaces, not appends
    write_event_output(df, cfg)
    assert spark.read.parquet(str(tmp_path / "bq")).count() == 2


def test_csv_event_roundtrip(spark, tmp_path):
    from klio_spark.sources import read_event_input

    loc = str(tmp_path / "ev_csv")
    df = env.from_elements(spark, ["c1", "c2"])
    write_event_output(df, EventIOConfig(type="file", format="csv", location=loc))
    back = read_event_input(
        spark, EventIOConfig(type="file", format="csv", location=loc)
    )
    els = sorted(r.element for r in back.collect())
    assert els == ["c1", "c2"]


def test_json_event_roundtrip(spark, tmp_path):
    from klio_spark.sources import read_event_input

    loc = str(tmp_path / "ev_json")
    df = env.from_elements(spark, ["j1"]).withColumn(
        "payload", F.lit(b"\x00\x01")
    )
    write_event_output(df, EventIOConfig(type="file", format="json", location=loc))
    back = read_event_input(
        spark, EventIOConfig(type="file", format="json", location=loc)
    )
    rows = back.collect()
    assert [r.element for r in rows] == ["j1"]


def test_unknown_event_formats_raise(spark):
    """A typo'd event format fails loudly on both sides, naming the
    known formats, instead of reading or writing text."""
    from klio_spark.sources import read_event_input

    bogus = EventIOConfig(type="file", format="bogus", location="unused")
    with pytest.raises(ValueError, match="known: .*'parquet'"):
        read_event_input(spark, bogus)
    with pytest.raises(ValueError, match="known: .*'parquet'"):
        write_event_output(env.from_elements(spark, ["e1"]), bogus)


def test_job_level_allow_non_klio_is_each_inputs_default(spark, tmp_path):
    """job_config.allow_non_klio_messages: true keeps a non-klio line of
    a wire input; an input's own allow_non_klio option wins."""
    from klio_spark.config import KlioJobConfig
    from klio_spark.sources import read_event_input

    (tmp_path / "ids.txt").write_text('{"element": "k1", "version": 2}\nxx\n')
    io = {"type": "file", "location": str(tmp_path / "ids.txt"), "wire": True}
    for own, want in [({}, ["k1", "xx"]), ({"allow_non_klio": False}, ["k1"])]:
        cfg = KlioJobConfig.from_dict({"job_config": {
            "allow_non_klio_messages": True, "events": {"inputs": [{**io, **own}]}}})
        got = read_event_input(spark, cfg.event_inputs[0]).collect()
        assert sorted(r.element for r in got) == want


def test_skip_klio_write(spark, tmp_path):
    df = env.from_elements(spark, ["x"])
    cfg = EventIOConfig(
        type="file", location=str(tmp_path / "never"), skip_klio_write=True
    )
    write_event_output(df, cfg)
    assert not (tmp_path / "never").exists()


def test_message_counter_observe(spark):
    """KlioMessageCounter parity: counts piggyback the materializing job."""
    df = env.from_elements(spark, ["a", "b", "c"])
    counted, obs = count_messages(df.filter(F.col("element") != "b"), "filtered")
    assert counted.count() == 2  # action triggers observation
    assert obs.get["count"] == 2
    # a second job under the same suffix has its own handle
    again, obs2 = count_messages(df, "filtered")
    assert again.count() == 3
    assert obs2.get["count"] == 3 and obs.get["count"] == 2


def test_debug_message_passthrough(spark, caplog):
    df = env.from_elements(spark, ["d1", "d2"])
    out = debug_message(df, prefix="t")
    assert sorted(r.element for r in out.collect()) == ["d1", "d2"]
    # disabled -> identity (no UDF stage in plan)
    assert debug_message(df, enabled=False) is df


def test_set_trace_fires_and_passes_through(spark, tmp_path):
    """KlioSetTrace parity (reference helpers.py:523-533): the break
    fires exactly once per partition, before the first batch, and the
    stage is a pass-through. The injectable debugger writes a marker
    file through the closure — same plumbing pdb uses, minus the tty."""
    from klio_spark.operators.debug import set_trace

    marker = tmp_path / "trace_hits"
    marker.mkdir()

    def fake_debugger(d=str(marker)):
        import os
        import uuid

        open(os.path.join(d, uuid.uuid4().hex), "w").write("hit")

    df = env.from_elements(spark, ["t1", "t2", "t3"]).repartition(2)
    out = set_trace(df, debugger=fake_debugger)
    assert sorted(r.element for r in out.collect()) == ["t1", "t2", "t3"]
    hits = list(marker.iterdir())
    # one break per non-empty partition, never per row
    assert 1 <= len(hits) <= 2


def test_profile_decorator_hook():
    calls = []

    @kudf.profile
    def work(x):
        return x * 2

    assert work(3) == 6  # no profiler -> plain call
    kudf.ACTIVE_PROFILER = lambda fn, *a, **kw: (calls.append(a), fn(*a, **kw))[1]
    try:
        assert work(4) == 8
        assert calls == [(4,)]
    finally:
        kudf.ACTIVE_PROFILER = None


def test_inject_klio_context():
    from klio_spark.config import KlioJobConfig
    from klio_spark.context import KlioContext

    KlioContext.set_current(KlioContext(KlioJobConfig(job_name="ctxjob")))

    @kudf.inject_klio_context
    def uses_ctx(ctx, x):
        return f"{ctx.config.job_name}:{x}"

    assert uses_ctx("v") == "ctxjob:v"


def test_scoped_persist_releases(spark):
    """Queries register interior persists via scoped_persist;
    release_scoped_caches() unpersists them all (the q201/q186 session
    cache-accumulation fix) and a released plan still recomputes."""
    from klio_spark.queries import (
        release_scoped_caches,
        scoped_persist,
    )

    release_scoped_caches()  # drain anything a prior test registered
    df = scoped_persist(spark.range(10).selectExpr("id * 2 AS v"))
    assert df.count() == 10
    assert df.storageLevel.useMemory
    assert release_scoped_caches() >= 1
    assert not df.storageLevel.useMemory
    assert df.count() == 10  # unpersisted plans still recompute
    assert release_scoped_caches() == 0  # idempotent: list drained


def test_entry_queries_release_previous_caches(spark, sf_dir):
    """The __spark_entry__ wrapper frees the PREVIOUS query's scoped
    caches when the next query is built — a 186-query driver session
    holds at most one query's persisted intermediates."""
    import __spark_entry__ as entry
    from klio_spark.queries import _SCOPED_CACHES, release_scoped_caches

    release_scoped_caches()
    qs = entry.queries()
    # q160 persists its oriented edge list at plan-build time
    qs["q160_triangle_count"](spark, sf_dir)
    assert len(_SCOPED_CACHES) >= 1
    # building ANY next query drains the list before adding its own
    qs["q01_pricing_summary"](spark, sf_dir)
    assert len(_SCOPED_CACHES) == 0
