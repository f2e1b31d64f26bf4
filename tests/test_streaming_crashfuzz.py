"""Crash-MID-batch fuzz for the state-heaviest streaming ops.

The checkpoint-restart tests in test_streaming stop queries CLEANLY
between micro-batches; none kill one mid-trigger. This harness does:
a seeded batch N suffers a TORN failure — the foreachBatch writer has
already performed side effects (a partial or full output write) when
the "process dies" before the offset commit. Structured Streaming then
replays batch N from the checkpoint on restart. Exactly-once is the
claim that the final output equals a clean run's byte for byte — the
idempotent overwrite-by-batch_id sink discipline (documented on
foreach_batch_sink) plus deterministic stateful kernels make the
replayed attempt overwrite its own torn debris.

Covered (the 5 state-heaviest ops per VERDICT r5): stateful_keep_latest,
stateful_sessionize, stateful_scd2, stateful_heavy_hitters, and
incremental_minhash_dedup (whose internal sink is wrapped to die after
its three writes land but before the commit — the worst torn point:
all side effects visible, nothing committed).
"""

import datetime as dt
import os
import math
import random

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pa_pq
import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

import klio_spark.streaming as st

_T0 = dt.datetime(2024, 1, 1)

# The torn-batch fuzz tests total ~16-22 min — the single biggest block
# of the suite — so each is slow-marked (opt-in) one by one: every op
# fuzzed here keeps its batch-equivalence (and, for several, a clean
# checkpoint-restart) test in the default run via test_streaming.py.
# test_sessionize_crash_fuzz stays in the default run: it drives the
# keyed-state fold's event-time-timeout path under torn-batch replay.
# Run all with: pytest -m "slow or not slow" tests/test_streaming_crashfuzz.py


def _write_batch_files(indir: str, pdfs: list[pd.DataFrame]) -> None:
    """One deterministic-named parquet file per micro-batch (the file
    source orders by mod-time; sequential writes keep batch order
    identical between the crash and clean runs). Timestamps coerce to
    micros — Spark refuses parquet TIMESTAMP(NANOS)."""
    os.makedirs(indir, exist_ok=True)
    for k, pdf in enumerate(pdfs):
        pa_pq.write_table(
            pa.Table.from_pandas(pdf),
            os.path.join(indir, f"b{k:03d}.parquet"),
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )


def _run_to_end(start_query, expect_crash: bool):
    """Start the query; on the injected failure, restart once from the
    same checkpoint (the crash flag is single-shot)."""
    q = start_query()
    if expect_crash:
        with pytest.raises(StreamingQueryException) as ei:
            q.awaitTermination(300)
        assert "injected-crash" in str(ei.value), str(ei.value)[:500]
        q = start_query()
    q.awaitTermination(300)


def _canon_rows(spark, outdir: str):
    df = spark.read.option("recursiveFileLookup", "true").parquet(outdir)
    pdf = df.toPandas().reindex(sorted(df.columns), axis=1)
    return sorted(map(tuple, pdf.astype(str).itertuples(index=False)))


def _fuzz_op(spark, tmp_path, *, name, seed, build_op, schema, pdfs,
             output_mode=None):
    """Run `build_op(stream)` twice over the same 1-file micro-batches —
    once with a torn failure injected at a seeded batch, once clean —
    and assert the recursive outputs (including batch ids) are equal."""
    indir = str(tmp_path / f"{name}-in")
    _write_batch_files(indir, pdfs)
    crash_bid = random.Random(seed).randrange(1, len(pdfs) - 1)
    outs = {}
    for variant in ("crash", "clean"):
        outdir = str(tmp_path / f"{name}-out-{variant}")
        ckpt = str(tmp_path / f"{name}-ck-{variant}")
        crashed = [False]

        def writer(b, bid):
            out = b.withColumn("_bid", F.lit(bid))
            path = f"{outdir}/batch-{bid}"
            if variant == "crash" and bid == crash_bid and not crashed[0]:
                crashed[0] = True
                # torn write: one row lands, then the process "dies"
                # before the offset commit — replay must overwrite it
                out.limit(1).write.mode("overwrite").parquet(path)
                raise RuntimeError("injected-crash")
            out.write.mode("overwrite").parquet(path)

        def start():
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(indir)
            )
            return st.foreach_batch_sink(
                build_op(stream), writer, ckpt, output_mode=output_mode
            )

        _run_to_end(start, expect_crash=(variant == "crash"))
        outs[variant] = _canon_rows(spark, outdir)
    assert outs["crash"], f"{name}: no output rows at all"
    assert outs["crash"] == outs["clean"], (
        f"{name}: crash-replayed output diverged from the clean run "
        f"(crash batch {crash_bid})"
    )
    return outs["clean"]


def _ts(minutes: float) -> dt.datetime:
    return _T0 + dt.timedelta(minutes=minutes)


@pytest.mark.slow
def test_keep_latest_crash_fuzz(spark, tmp_path):
    rng = random.Random(101)
    pdfs = []
    for b in range(6):
        rows = [
            {
                "element": f"e{rng.randrange(6)}",
                # ties on purpose: same minute for different rows
                "ts": _ts(b * 10 + rng.randrange(10)),
                "value": f"v{rng.randrange(100)}",
            }
            for _ in range(rng.randrange(4, 12))
        ]
        pdfs.append(pd.DataFrame(rows))
    rows = _fuzz_op(
        spark, tmp_path, name="kl", seed=1,
        build_op=st.stateful_keep_latest,
        schema="element string, ts timestamp, value string",
        pdfs=pdfs,
    )
    # semantic spot-check vs a Python replay in batch-arrival order:
    # the newest emission per element carries the true latest value
    replay = {}
    for pdf in pdfs:
        for r in pdf.itertuples(index=False):
            us = int(r.ts.timestamp() * 1e6) if pd.notna(r.ts) else None
            if r.element not in replay or us > replay[r.element][0]:
                replay[r.element] = (us, r.value)
    cols = ["_bid", "element", "latest_ts_micros", "latest_value"]
    got = {}
    for t in rows:  # tuples sorted by column-name order
        d = dict(zip(sorted(cols), t))
        k, us = d["element"], int(d["latest_ts_micros"])
        if k not in got or us > got[k][0]:
            got[k] = (us, d["latest_value"])
    assert got == replay


def test_sessionize_crash_fuzz(spark, tmp_path):
    rng = random.Random(202)
    pdfs = []
    for b in range(6):
        rows = [
            {
                "user_id": rng.randrange(1, 5),
                # each batch advances ~an hour so the 30-min gap closes
                # sessions in-stream and via watermark timeouts
                "ts": _ts(b * 60 + rng.randrange(25)),
            }
            for _ in range(rng.randrange(4, 10))
        ]
        pdfs.append(pd.DataFrame(rows))
    _fuzz_op(
        spark, tmp_path, name="sess", seed=2,
        build_op=st.stateful_sessionize,
        schema="user_id long, ts timestamp",
        pdfs=pdfs,
    )


@pytest.mark.slow
def test_scd2_crash_fuzz(spark, tmp_path):
    rng = random.Random(303)
    pdfs, eid = [], 0
    for b in range(6):
        rows = []
        for _ in range(rng.randrange(4, 10)):
            eid += 1
            rows.append(
                {
                    "event_id": eid,
                    "user_id": rng.randrange(1, 4),
                    "ts": _ts(b * 30 + rng.randrange(3) * 10),  # dense ties
                    "value": round(rng.uniform(0, 50), 2),
                }
            )
        pdfs.append(pd.DataFrame(rows))
    _fuzz_op(
        spark, tmp_path, name="scd2", seed=3,
        build_op=st.stateful_scd2,
        schema="event_id long, user_id long, ts timestamp, value double",
        pdfs=pdfs,
    )


@pytest.mark.slow
def test_heavy_hitters_crash_fuzz(spark, tmp_path):
    rng = random.Random(404)
    pdfs, eid = [], 0
    for b in range(6):
        rows = []
        for _ in range(rng.randrange(30, 60)):
            eid += 1
            # zipf-ish: key 1 hot, long distinct tail forces evictions
            key = 1 if rng.randrange(3) == 0 else rng.randrange(1000)
            rows.append({"event_id": eid, "user_id": key})
        pdfs.append(pd.DataFrame(rows))
    _fuzz_op(
        spark, tmp_path, name="hh", seed=4,
        build_op=lambda s: st.stateful_heavy_hitters(
            s, "user_id", n_shards=4, capacity=8
        ),
        schema="event_id long, user_id long",
        pdfs=pdfs,
        output_mode="update",
    )


@pytest.mark.slow
def test_incremental_minhash_dedup_crash_fuzz(spark, tmp_path):
    """The dedup stream's own sink dies AFTER its novel/dup/state writes
    land but BEFORE the commit — the replayed batch must exclude its own
    prior state write from the probe (or it would classify its own docs
    as duplicates) and reproduce the clean run's verdicts exactly."""
    rng = random.Random(505)
    pool = [
        " ".join(
            rng.choice(["alpha", "beta", "gamma", "delta", "rho", "tau"])
            for _ in range(12)
        )
        for _ in range(8)
    ]
    pdfs, did = [], 0
    for b in range(5):
        rows = []
        for _ in range(rng.randrange(3, 7)):
            did += 1
            # half the docs repeat an earlier text: cross-batch dups
            rows.append(
                {"doc_id": did, "text": rng.choice(pool)}
            )
        pdfs.append(pd.DataFrame(rows))
    indir = str(tmp_path / "mh-in")
    _write_batch_files(indir, pdfs)
    crash_bid = random.Random(5).randrange(1, len(pdfs) - 1)

    orig_sink = st.foreach_batch_sink
    results = {}
    try:
        for variant in ("crash", "clean"):
            d = {
                k: str(tmp_path / f"mh-{k}-{variant}")
                for k in ("state_dir", "novel_dir", "dup_dir", "checkpoint")
            }
            crashed = [False]

            def wrap_sink(df, batch_fn, checkpoint, **kw):
                def wrapped(b, bid):
                    batch_fn(b, bid)  # all three writes happen first
                    if (
                        variant == "crash"
                        and bid == crash_bid
                        and not crashed[0]
                    ):
                        crashed[0] = True
                        raise RuntimeError("injected-crash")

                return orig_sink(df, wrapped, checkpoint, **kw)

            st.foreach_batch_sink = wrap_sink

            def start():
                stream = (
                    spark.readStream.schema("doc_id long, text string")
                    .option("maxFilesPerTrigger", 1)
                    .parquet(indir)
                )
                return st.incremental_minhash_dedup(stream, **d)

            _run_to_end(start, expect_crash=(variant == "crash"))
            read = lambda p: {  # noqa: E731
                r.doc_id
                for r in spark.read.option("recursiveFileLookup", "true")
                .parquet(p)
                .select("doc_id")
                .collect()
            }
            results[variant] = (read(d["novel_dir"]), read(d["dup_dir"]))
    finally:
        st.foreach_batch_sink = orig_sink

    assert results["crash"] == results["clean"], (
        f"dedup verdicts diverged after crash at batch {crash_bid}"
    )
    novel, dup = results["clean"]
    assert novel and dup and not (novel & dup)
    assert novel | dup == set(range(1, did + 1))


@pytest.mark.slow
def test_attribution_crash_fuzz(spark, tmp_path):
    rng = random.Random(606)
    pdfs, eid = [], 0
    for b in range(6):
        rows = []
        for _ in range(rng.randrange(6, 14)):
            eid += 1
            rows.append(
                {
                    "event_id": eid,
                    "user_id": rng.randrange(1, 5),
                    "event_type": rng.choice(
                        ["view"] * 4 + ["click"] * 3 + ["purchase"] * 2
                        + ["refund"]
                    ),
                    "value": round(rng.uniform(0, 40), 2),
                    "ts": _ts(b * 20 + rng.randrange(3) * 7),  # ties
                }
            )
        pdfs.append(pd.DataFrame(rows))
    _fuzz_op(
        spark, tmp_path, name="attr", seed=6,
        build_op=st.stateful_attribution,
        schema=(
            "event_id long, user_id long, event_type string,"
            " value double, ts timestamp"
        ),
        pdfs=pdfs,
    )


# ---- round 7: the sketch/buffer-state ops (VERDICT r6 item 6) -------
# rolling_distinct_sketch (HLL binaries per open window),
# streaming_countmin (grid cells), streaming_quantile_sketch (KLL
# binaries), and interval_join (both sides' buffered rows) hold
# binary/buffer state the scalar-state fuzz set above never exercises.


@pytest.mark.slow
def test_rolling_distinct_sketch_crash_fuzz(spark, tmp_path):
    """HLL window-sketch state torn mid-batch: closed windows must
    emit exactly once with the same estimates as a clean run (register
    state is an order-independent deterministic function of the
    element set, so replay reconverges byte-for-byte)."""
    rng = random.Random(707)
    pdfs = []
    for b in range(6):
        rows = [
            {
                "user_id": rng.randrange(1, 30),
                "ts": _ts(b * 10 + rng.randrange(10)),
            }
            for _ in range(rng.randrange(6, 14))
        ]
        pdfs.append(pd.DataFrame(rows))
    # far-future flush batches: advance the watermark past every data
    # window so the closed-window emissions land before termination
    pdfs.append(pd.DataFrame([{"user_id": 999, "ts": _ts(10_000)}]))
    pdfs.append(pd.DataFrame([{"user_id": 998, "ts": _ts(20_000)}]))
    rows = _fuzz_op(
        spark, tmp_path, name="roll", seed=7,
        build_op=lambda s: st.rolling_distinct_sketch(
            s, "ts", "user_id", window="30 minutes", slide="10 minutes",
            watermark="10 minutes",
        ),
        schema="user_id long, ts timestamp",
        pdfs=pdfs,
    )
    # the data spans ~1 h of 30-min/10-min sliding windows — several
    # must have closed and emitted
    assert len(rows) >= 5


@pytest.mark.slow
def test_interval_join_crash_fuzz(spark, tmp_path):
    """Stream-stream interval join state (BOTH sides' watermark-bounded
    row buffers) torn mid-batch: the replayed batch must not duplicate
    or drop any (error, click) pair. Left/right derive from one file
    stream by kind filter (a supported stream self-join), so the fuzz
    harness's single-source batch sequencing applies unchanged."""
    rng = random.Random(808)
    pdfs, eid = [], 0
    for b in range(6):
        rows = []
        for _ in range(rng.randrange(6, 12)):
            eid += 1
            rows.append(
                {
                    "eid": eid,
                    "kind": rng.choice(["c", "c", "e"]),
                    "user_id": rng.randrange(1, 5),
                    "ts": _ts(b * 10 + rng.randrange(10)),
                }
            )
        pdfs.append(pd.DataFrame(rows))

    def build(s):
        left = (
            s.filter(F.col("kind") == "e")
            .select(
                F.col("user_id"),
                F.col("ts").alias("ets"),
                F.col("eid").alias("error_id"),
            )
        )
        right = (
            s.filter(F.col("kind") == "c")
            .select(
                F.col("user_id").alias("r_user_id"),
                F.col("ts").alias("cts"),
                F.col("eid").alias("click_id"),
            )
        )
        return st.interval_join(
            left, right.withColumnRenamed("r_user_id", "user_id"),
            "user_id", "ets", "cts",
            upper="interval 20 minutes", watermark="30 minutes",
        ).select(
            F.col("l.user_id").alias("user_id"),
            "error_id", "click_id", "ets", "cts",
        )

    rows = _fuzz_op(
        spark, tmp_path, name="ij", seed=8,
        build_op=build,
        schema="eid long, kind string, user_id long, ts timestamp",
        pdfs=pdfs,
    )
    assert len(rows) >= 3  # pairs actually formed


def _sink_crash_fuzz(spark, tmp_path, *, name, seed, start_op, pdfs,
                     schema, read_final):
    """Fuzz harness for ops that OWN their sink callable
    (streaming_countmin / streaming_quantile_sketch, complete mode):
    the sink overwrites one live-table dir per trigger; the torn
    attempt writes a PARTIAL table then dies before the commit, and
    the replay must overwrite the debris. Returns (crash_final,
    clean_final) as whatever `read_final` extracts."""
    indir = str(tmp_path / f"{name}-in")
    _write_batch_files(indir, pdfs)
    crash_bid = random.Random(seed).randrange(1, len(pdfs) - 1)
    outs = {}
    for variant in ("crash", "clean"):
        outdir = str(tmp_path / f"{name}-out-{variant}")
        ckpt = str(tmp_path / f"{name}-ck-{variant}")
        crashed = [False]

        def sink(b, bid):
            if variant == "crash" and bid == crash_bid and not crashed[0]:
                crashed[0] = True
                b.limit(1).write.mode("overwrite").parquet(outdir)
                raise RuntimeError("injected-crash")
            b.write.mode("overwrite").parquet(outdir)

        def start():
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(indir)
            )
            return start_op(stream, sink, ckpt)

        _run_to_end(start, expect_crash=(variant == "crash"))
        outs[variant] = read_final(outdir)
    return outs["crash"], outs["clean"]


@pytest.mark.slow
def test_streaming_countmin_crash_fuzz(spark, tmp_path):
    """Count-min grid state torn mid-batch: the final live counter
    table must equal the clean run's cell-for-cell AND the batch
    kernel's build over all events (cell-wise additivity)."""
    from klio_spark.functions.countmin import build_countmin

    rng = random.Random(909)
    pdfs, eid = [], 0
    for b in range(6):
        rows = []
        for _ in range(rng.randrange(20, 40)):
            eid += 1
            rows.append({"event_id": eid, "user_id": rng.randrange(200)})
        pdfs.append(pd.DataFrame(rows))

    def read_final(outdir):
        return {
            (r.cm_row, r.cm_bucket, r.cm_count)
            for r in spark.read.parquet(outdir).collect()
        }

    crash, clean = _sink_crash_fuzz(
        spark, tmp_path, name="cmf", seed=9,
        start_op=lambda s, sink, ck: st.streaming_countmin(
            s, sink, ck, key_col="user_id", depth=3, width=16,
        ),
        pdfs=pdfs,
        schema="event_id long, user_id long",
        read_final=read_final,
    )
    assert crash == clean
    all_rows = pd.concat(pdfs)
    referee = {
        (r.cm_row, r.cm_bucket, r.cm_count)
        for r in build_countmin(
            spark.createDataFrame(all_rows), "user_id", depth=3, width=16
        ).collect()
    }
    assert clean == referee
    assert len(clean) <= 3 * 16


@pytest.mark.slow
def test_streaming_quantile_sketch_crash_fuzz(spark, tmp_path):
    """KLL sketch state torn mid-batch: compaction is randomized, so
    the assertion is the published RANK guarantee (not bytes) — the
    final live sketch's median per group must rank within epsilon of
    0.5 against the exact cumulative values in BOTH the torn and clean
    runs, and the group sets must match."""
    rng = random.Random(111)
    pdfs, eid = [], 0
    vals = {"a": [], "b": []}
    for b in range(6):
        rows = []
        for _ in range(rng.randrange(40, 80)):
            eid += 1
            g = rng.choice(["a", "b"])
            v = float(rng.randrange(10_000)) + (5000.0 if g == "b" else 0.0)
            vals[g].append(v)
            rows.append({"event_id": eid, "event_type": g, "value": v})
        pdfs.append(pd.DataFrame(rows))

    def read_final(outdir):
        t = spark.read.parquet(outdir)
        rows = t.select(
            "event_type",
            F.kll_sketch_get_quantile_double(
                F.col("kll_sketch"), F.lit(0.5)
            ).alias("m"),
        ).collect()
        return {r.event_type: r.m for r in rows}

    crash, clean = _sink_crash_fuzz(
        spark, tmp_path, name="kllf", seed=11,
        start_op=lambda s, sink, ck: st.streaming_quantile_sketch(
            s, sink, ck, group_col="event_type", value_col="value",
        ),
        pdfs=pdfs,
        schema="event_id long, event_type string, value double",
        read_final=read_final,
    )
    assert set(crash) == set(clean) == {"a", "b"}
    for medians in (crash, clean):
        for g, m in medians.items():
            rank = sum(1 for v in vals[g] if v <= m) / len(vals[g])
            assert abs(rank - 0.5) <= 0.05, (g, m, rank)


@pytest.mark.slow
def test_streaming_char_coverage_crash_fuzz(spark, tmp_path):
    """Alphabet-counter state torn mid-batch: the final live (lang,
    char) table must equal the clean run's AND the Python replay over
    all events cell-for-cell."""
    rng = random.Random(222)
    alphabet = "abcdefgh漢字ü😀"
    pdfs, did = [], 0
    for b in range(6):
        rows = []
        for _ in range(rng.randrange(5, 12)):
            did += 1
            rows.append(
                {
                    "doc_id": did,
                    "lang": rng.choice(["en", "zh"]),
                    "text": " ".join(
                        "".join(
                            rng.choice(alphabet)
                            for _ in range(rng.randrange(1, 6))
                        )
                        for _ in range(rng.randrange(1, 5))
                    ),
                }
            )
        pdfs.append(pd.DataFrame(rows))

    def read_final(outdir):
        return {
            (r.lang, r.c, r.cnt)
            for r in spark.read.parquet(outdir).collect()
        }

    crash, clean = _sink_crash_fuzz(
        spark, tmp_path, name="sccf", seed=22,
        start_op=lambda s, sink, ck: st.streaming_char_coverage(s, sink, ck),
        pdfs=pdfs,
        schema="doc_id long, lang string, text string",
        read_final=read_final,
    )
    assert crash == clean
    replay = {}
    for pdf in pdfs:
        for r in pdf.itertuples(index=False):
            for ch in r.text:
                if ch != " ":
                    replay[(r.lang, ch)] = replay.get((r.lang, ch), 0) + 1
    assert clean == {(lg, ch, n) for (lg, ch), n in replay.items()}


@pytest.mark.slow
def test_interval_coverage_crash_fuzz(spark, tmp_path):
    """stateful_interval_coverage torn mid-batch: closed-island rows
    must emit exactly once with identical bounds across the replay —
    the open-island scalars (ist, ien, n) are a deterministic fold of
    the arrival-ordered events, so the replayed attempt reconverges and
    overwrites its own torn debris. Events use short intervals against
    long gaps so islands CLOSE inside nearly every batch (emissions to
    tear), plus ties and occasional stragglers."""
    rng = random.Random(808)
    pdfs, eid = [], 0
    for b in range(6):
        rows = []
        for _ in range(rng.randrange(6, 14)):
            eid += 1
            # mostly forward marches with gaps >> dur_s; ~1 in 8 is a
            # backward straggler landing before the open island
            mins = b * 600 + rng.randrange(5) * 120
            if rng.randrange(8) == 0:
                mins = max(0, mins - 1200)
            rows.append(
                {
                    "event_id": eid,
                    "user_id": rng.randrange(1, 5),
                    "ts": _ts(mins),
                }
            )
        pdfs.append(pd.DataFrame(rows))
    _fuzz_op(
        spark, tmp_path, name="cov", seed=8,
        build_op=st.stateful_interval_coverage,
        schema="event_id long, user_id long, ts timestamp",
        pdfs=pdfs,
    )


@pytest.mark.slow
def test_streaming_calibration_crash_fuzz(spark, tmp_path):
    """Calibration-bin state torn mid-batch: the final live bin table
    must equal the clean run's AND the Python replay of q222's integer
    (conf, label) construction over all docs cell-for-cell."""
    rng = random.Random(226)
    pdfs, did = [], 0
    for b in range(6):
        rows = []
        for _ in range(rng.randrange(5, 12)):
            did += 1
            rows.append(
                {
                    "doc_id": did,
                    "n_chars": (
                        None
                        if rng.randrange(8) == 0
                        else rng.randrange(0, 3000)
                    ),
                }
            )
        pdfs.append(pd.DataFrame({
            "doc_id": pd.array([r["doc_id"] for r in rows], dtype="Int64"),
            "n_chars": pd.array([r["n_chars"] for r in rows], dtype="Int64"),
        }))

    def read_final(outdir):
        return {
            (r.bin_id, r.n, r.sum_conf, r.n_pos)
            for r in spark.read.parquet(outdir).collect()
        }

    crash, clean = _sink_crash_fuzz(
        spark, tmp_path, name="calcf", seed=26,
        start_op=lambda s, sink, ck: st.streaming_calibration(s, sink, ck),
        pdfs=pdfs,
        schema="doc_id long, n_chars long",
        read_final=read_final,
    )
    assert crash == clean
    replay = {}
    for pdf in pdfs:
        for r in pdf.itertuples(index=False):
            n_chars = 0 if pd.isna(r.n_chars) else int(r.n_chars)
            conf = min(n_chars, 2000) * 500
            h = (int(r.doc_id) * 2654435761) % 4294967296
            label = 1 if h * 1000000 < conf * 4294967296 else 0
            b = min(conf // 100000, 9)
            n, sc, np_ = replay.get(b, (0, 0, 0))
            replay[b] = (n + 1, sc + conf, np_ + label)
    assert clean == {
        (b, n, sc, np_) for b, (n, sc, np_) in replay.items()
    }


@pytest.mark.slow
def test_streaming_benford_crash_fuzz(spark, tmp_path):
    """Digit-histogram state torn mid-batch: the final live 9-row table
    must equal the clean run's AND the Python replay of q228's exact
    cents-digit extraction over all rows."""
    rng = random.Random(228)
    pdfs = []
    for b in range(6):
        vals = []
        for _ in range(rng.randrange(8, 20)):
            r = rng.randrange(10)
            if r == 0:
                vals.append(None)
            elif r == 1:
                vals.append(0.0)
            elif r == 2:
                vals.append(round(rng.uniform(0.01, 0.99), 2))
            elif r == 3:
                # sub-cent: floors to 0 cents, OUTSIDE Benford's 1..9
                # domain — the c >= 1 guard must drop it on both sides
                vals.append(0.005)
            else:
                vals.append(round(rng.uniform(1, 99999), 2))
        pdfs.append(pd.DataFrame({"l_extendedprice": vals}))

    def read_final(outdir):
        return {
            (r.d, r.n_obs)
            for r in spark.read.parquet(outdir).collect()
        }

    crash, clean = _sink_crash_fuzz(
        spark, tmp_path, name="bencf", seed=28,
        start_op=lambda s, sink, ck: st.streaming_benford(s, sink, ck),
        pdfs=pdfs,
        schema="l_extendedprice double",
        read_final=read_final,
    )
    assert crash == clean
    replay = {}
    for pdf in pdfs:
        for x in pdf.l_extendedprice:
            if x is None or pd.isna(x) or x <= 0:
                continue
            import math

            c = int(math.floor(x * 100))
            if c < 1:  # sub-cent: outside Benford's first-digit domain
                continue
            d = int(str(c)[0])
            replay[d] = replay.get(d, 0) + 1
    assert clean == {(d, n) for d, n in replay.items()}


@pytest.mark.slow
def test_streaming_quantile_hist_crash_fuzz(spark, tmp_path):
    """Per-source score-histogram state torn mid-batch: the final live
    (source, conf_ppm) table must equal the clean run's AND the Python
    replay of q232's integer score construction over all docs
    cell-for-cell (NULL n_chars scores 0, clip at 2000, NULL source
    keeps its own group)."""
    rng = random.Random(232)
    pdfs, did = [], 0
    for b in range(6):
        rows = []
        for _ in range(rng.randrange(5, 12)):
            did += 1
            rows.append(
                {
                    "doc_id": did,
                    "source": rng.choice(["web", "book", "wiki", None]),
                    "n_chars": (
                        None
                        if rng.randrange(8) == 0
                        else rng.randrange(0, 3000)
                    ),
                }
            )
        pdfs.append(pd.DataFrame({
            "doc_id": pd.array([r["doc_id"] for r in rows], dtype="Int64"),
            "source": pd.array(
                [r["source"] for r in rows], dtype="string"
            ),
            "n_chars": pd.array([r["n_chars"] for r in rows], dtype="Int64"),
        }))

    def read_final(outdir):
        return {
            (r.source, r.conf_ppm, r.cnt)
            for r in spark.read.parquet(outdir).collect()
        }

    crash, clean = _sink_crash_fuzz(
        spark, tmp_path, name="qhcf", seed=32,
        start_op=lambda s, sink, ck: st.streaming_quantile_hist(s, sink, ck),
        pdfs=pdfs,
        schema="doc_id long, source string, n_chars long",
        read_final=read_final,
    )
    assert crash == clean
    replay = {}
    for pdf in pdfs:
        for r in pdf.itertuples(index=False):
            n_chars = 0 if pd.isna(r.n_chars) else int(r.n_chars)
            conf = min(n_chars, 2000) * 500
            src = None if pd.isna(r.source) else str(r.source)
            replay[(src, conf)] = replay.get((src, conf), 0) + 1
    assert clean == {(s, c, n) for (s, c), n in replay.items()}


@pytest.mark.slow
def test_stateful_page_hinkley_crash_fuzz(spark, tmp_path):
    """Running-mean PH state (n, sum, m, min_m, latch) torn mid-batch:
    the replayed run must emit the same single first-alarm row per
    drifting key — no duplicate alarms (the latch must survive replay)
    and no missed crossing (the accumulated m must not rewind)."""
    rng = random.Random(263)
    pdfs, eid = [], 0
    for b in range(6):
        rows = []
        for _ in range(rng.randrange(6, 12)):
            eid += 1
            shift = 80.0 if b >= 3 else 0.0  # sustained mean shift
            rows.append(
                {
                    "event_id": eid,
                    "event_type": rng.choice(["drift", "calm"]),
                    "value": (
                        None
                        if rng.randrange(12) == 0
                        else round(rng.uniform(8, 12), 2)
                        + (shift if rng.random() < 0.9 else 0.0)
                    ),
                    "ts": _ts(b * 10 + rng.randrange(10)),
                }
            )
        pdfs.append(pd.DataFrame(rows))
    rows = _fuzz_op(
        spark, tmp_path, name="ph", seed=26,
        build_op=st.stateful_page_hinkley,
        schema=(
            "event_id long, event_type string, value double, ts timestamp"
        ),
        pdfs=pdfs,
    )
    # rows canon column-sorted: (_bid, event_type, n_at_alarm, ph_milli,
    # t_s); both keys see the batch-3 shift and each alarms exactly once
    keys = [r[1] for r in rows]
    assert sorted(keys) == sorted(set(keys)), "duplicate alarm per key"
    assert len(rows) >= 1


@pytest.mark.slow
def test_stateful_rolling_distinct_crash_fuzz(spark, tmp_path):
    """Per-day distinct-voter SET state torn mid-batch: the replayed
    run's final counts must equal the clean run's AND a plain-Python
    replay of the 7-day vote decomposition over all events (duplicate
    votes collapse in the set either way — idempotent replay is the
    property the set representation buys)."""
    rng = random.Random(259)
    pdfs, eid = [], 0
    for b in range(6):
        rows = []
        for _ in range(rng.randrange(6, 14)):
            eid += 1
            rows.append(
                {
                    "event_id": eid,
                    "user_id": rng.randrange(1, 9),
                    "ts": _ts(b * 1440 + rng.randrange(3) * 1440),  # days
                }
            )
        pdfs.append(pd.DataFrame(rows))
    rows = _fuzz_op(
        spark, tmp_path, name="rdx", seed=25,
        build_op=st.stateful_rolling_distinct,
        schema="event_id long, user_id long, ts timestamp",
        pdfs=pdfs,
    )
    # python replay: latest count per day must match the final live row
    votes = {}
    for pdf in pdfs:
        for r in pdf.itertuples(index=False):
            d = pd.Timestamp(r.ts).value // (86400 * 10**9)
            for i in range(7):
                votes.setdefault(d + i, set()).add(int(r.user_id))
    # rows canon column-sorted: (_bid, day_epoch, n_active_7d)
    latest = {}
    for bid, day, n in rows:
        k = int(float(day))
        if k not in latest or int(float(bid)) >= latest[k][0]:
            latest[k] = (int(float(bid)), int(float(n)))
    assert {k: v[1] for k, v in latest.items()} == {
        int(k): len(v) for k, v in votes.items()
    }


@pytest.mark.slow
def test_stateful_kaplan_meier_crash_fuzz(spark, tmp_path):
    """Per-user censoring state (t0, te) torn mid-batch: both folds are
    idempotent MINs, so the replayed run must land on identical
    snapshots — t0 must not rewind upward, te must not lose a tightening
    that happened in the torn batch, and re-emitted rows must match the
    clean run byte for byte."""
    rng = random.Random(258)
    pdfs, eid = [], 0
    for b in range(6):
        rows = []
        for _ in range(rng.randrange(6, 12)):
            eid += 1
            u = rng.randrange(1, 7)
            et = rng.choice(["signup", "purchase", "view"])
            rows.append(
                {
                    "event_id": eid,
                    "user_id": None if rng.randrange(14) == 0 else u,
                    "event_type": et,
                    "ts": _ts(b * 10 + rng.randrange(10)),
                }
            )
        pdf = pd.DataFrame(rows)
        # keep the NULL-bearing id column int64-typed in parquet
        # (a raw None would coerce the whole column to DOUBLE)
        pdf["user_id"] = pdf["user_id"].astype("Int64")
        pdfs.append(pdf)
    rows = _fuzz_op(
        spark, tmp_path, name="km", seed=25,
        build_op=st.stateful_kaplan_meier,
        schema="event_id long, user_id long, event_type string, ts timestamp",
        pdfs=pdfs,
    )
    # canon column-sorted: (_bid, arm, t0, te, user_id). t0/te must be
    # monotone per user across batch ids (idempotent mins never rewind)
    unset = ("None", "nan", "<NA>")
    per_user = {}
    for _bid, _arm, t0, te, u in sorted(rows, key=lambda r: float(r[0])):
        if u in per_user:
            pt0, pte = per_user[u]
            assert float(t0) <= float(pt0), "t0 rewound upward"
            if pte not in unset:
                # a set te can only tighten, never unset or grow
                assert te not in unset, "te unset after being set"
                assert float(te) <= float(pte), "te rewound upward"
        per_user[u] = (t0, te)
    assert per_user, "no snapshots emitted"


@pytest.mark.slow
def test_stateful_groupwise_ols_crash_fuzz(spark, tmp_path):
    """Per-key OLS moment state torn mid-batch: the fold is an abelian
    int64 sum re-folded against the checkpointed pre-batch state, so
    the replayed run must not double-count — outputs match the clean
    run byte for byte, and the final snapshot per key equals the
    moments computed directly from every surviving event."""
    rng = random.Random(262)
    pdfs = []
    for b in range(6):
        rows = []
        for _ in range(rng.randrange(6, 12)):
            rows.append(
                {
                    "event_type": rng.choice(
                        ["purchase", "view", "signup", None]
                    ),
                    "ts": None
                    if rng.randrange(12) == 0
                    else _ts(b * 180 + rng.randrange(120)),
                    "value": None
                    if rng.randrange(12) == 0
                    else rng.uniform(-50, 50),
                }
            )
        pdfs.append(pd.DataFrame(rows))
    rows = _fuzz_op(
        spark, tmp_path, name="gols", seed=26,
        build_op=st.stateful_groupwise_ols,
        schema="event_type string, ts timestamp, value double",
        pdfs=pdfs,
    )
    # canon column-sorted: (_bid, event_type, n, sx, sxx, sxy, sy, syy)
    latest = {}
    for r in sorted(rows, key=lambda r: float(r[0])):
        latest[r[1]] = tuple(int(float(v)) for v in (r[2:]))
    expected = {}
    for pdf in pdfs:
        for et, ts, val in zip(pdf["event_type"], pdf["ts"], pdf["value"]):
            t = pd.Timestamp(ts)
            if t is pd.NaT or pd.isna(t) or pd.isna(val):
                continue
            us = t.value // 1000
            x = (us + 62135596800000000) // 1000000 // 3600 - 17733240
            y = int(math.floor(float(val) * 100.0))
            k = str(et) if et is not None else None
            n, sx, sy, sxx, sxy, syy = expected.get(k, (0, 0, 0, 0, 0, 0))
            expected[k] = (
                n + 1, sx + x, sy + y, sxx + x * x, sxy + x * y,
                syy + y * y,
            )
    exp_sorted = {
        k: (n, sx, sxx, sxy, sy, syy)
        for k, (n, sx, sy, sxx, sxy, syy) in expected.items()
    }
    got = {(None if k in ("None", "nan", "<NA>") else k): v
           for k, v in latest.items()}
    assert got == exp_sorted, (got, exp_sorted)
