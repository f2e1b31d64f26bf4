"""Structured Streaming: the reference's streaming mode, Spark-first.

Reference semantics covered:
  * Pub/Sub in/out            → file/kafka streams (sources/stream.py) with
                                checkpointed exactly-once sinks; Spark's WAL
                                + offsets replace klio's ack-deadline
                                machinery (pubsub_message_manager.py:47-314)
  * id_label dedup            → dedup_elements (dropDuplicates+watermark)
  * KlioTriggerUpstream       → trigger_upstream: not_found branch rewrites
                                recipients bottom-up and publishes to the
                                upstream job's input (helpers.py:536-753)
  * per-element streaming     → the SAME prologue operators work on
                                streaming DataFrames (stream-static joins
                                for existence checks)

Extension ops (klio has no windowing — SURVEY §2.5): tumbling/sliding/
session windows with watermarks for late data, for the events-style
tables.

Stateful ops (``stateful_*``) are all one keyed-state fold,
``_keyed_fold`` — the Structured Streaming paper's single general
stateful operator (mapGroupsWithState) over applyInPandasWithState. It
owns the per-group plumbing (chunk concat in arrival order, NaT and
required-NULL drops, timestamp/id/cents extraction, the declared
stable sort, state read/init/write-back, timeouts, and the output and
state schemas with the key's own type), so an op is a pure
``step(key, state, events) -> (state, rows)`` fold plus one
``_keyed_fold`` call. Adding a stateful op means writing a step, never
another applyInPandasWithState call site. Complete/append-mode
monitors go through ``foreach_batch_sink``.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupStateTimeout

from klio_spark.envelope import LIMITED, job_lit


def dedup_elements(df: DataFrame, watermark_col: str, delay: str = "10 minutes") -> DataFrame:
    """At-most-once per element within the watermark horizon (the
    `id_label` contract of KlioReadFromPubSub, io.py:660-702). State is
    bounded by the watermark — without it, dedup state grows forever."""
    return df.withWatermark(watermark_col, delay).dropDuplicates(["element"])


def tumbling_counts(
    df: DataFrame,
    ts_col: str,
    window: str = "1 hour",
    watermark: str = "30 minutes",
    *extra_keys: str,
) -> DataFrame:
    """Windowed counts with late-data handling (extension op)."""
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), *extra_keys)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *extra_keys,
            "n_events",
        )
    )


def sliding_counts(
    df: DataFrame,
    ts_col: str,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "30 minutes",
    *extra_keys: str,
) -> DataFrame:
    """Sliding (hopping) windows: each event lands in window/slide buckets."""
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window, slide).alias("win"), *extra_keys)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *extra_keys,
            "n_events",
        )
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    *,
    lower: str = "interval 0 seconds",
    upper: str = "interval 10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-stream interval join: right rows within (left_ts - upper,
    left_ts - lower]. Watermarks on BOTH sides bound the join state —
    without them a stream-stream join buffers forever."""
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}") - F.expr(lower))
        & (F.col(f"r.{right_ts}") > F.col(f"l.{left_ts}") - F.expr(upper))
    )
    return l.join(r, cond)


def interval_join_outer(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    *,
    lower: str = "interval 0 seconds",
    upper: str = "interval 10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — :func:`interval_join`
    plus unmatched-left emission: a left row with no right match within
    its interval emits (left, NULL right) once its match window can no
    longer be satisfied. Because matching rights PRECEDE the left row
    (the condition admits right_ts in (left_ts - upper, left_ts - lower]),
    a left row is definitively unmatched — and the NULL-completed row can
    be emitted — once the watermark passes left_ts - lower, the latest
    timestamp a matching right could carry.

    This is the 'did the expected response ever arrive' shape (order
    without shipment, request without ack) that an inner join silently
    drops. The time-bound join condition is what makes outer
    stream-stream joins legal in Structured Streaming: the engine can
    prove when a buffered left row is definitively unmatched and evict
    it, so state stays bounded by the watermark horizon exactly as in
    the inner form. NULL-completed rows arrive LATE by construction
    (only after the watermark passes), which the test drives with a
    trailing watermark-advancing batch."""
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}") - F.expr(lower))
        & (F.col(f"r.{right_ts}") > F.col(f"l.{left_ts}") - F.expr(upper))
    )
    return l.join(r, cond, "left_outer")


def session_windows(
    df: DataFrame,
    ts_col: str,
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
    *keys: str,
) -> DataFrame:
    """Session windows (gap-based) — the streaming twin of
    q51_sessionization's gaps-and-islands batch query."""
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("sess"), *keys)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            *keys,
            "n_events",
        )
    )


# NULL ids sort first among same-time ties (the batch windows' NULLS FIRST)
_NULL_ID = -(2**63)
# timestamp units as divisors of epoch nanoseconds
_NS_PER = {"us": 1_000, "s": 1_000_000_000, "day": 86_400_000_000_000}


def _column(a, null, kind: str):
    """One event field as a numpy array (``a`` a column's values,
    ``null`` its NULL mask): a timestamp kind ("us"/"s"/"day") floors
    epoch nanoseconds by array floor division (pre-1970 instants floor,
    like Timestamp.value // unit); "id" maps NULL to _NULL_ID; "cents"
    is floor(v*100.0); any other kind passes values through. NULL
    cents and pass-through values become None."""
    import numpy as np

    if kind in _NS_PER:
        return a.astype("datetime64[ns]").view("int64") // _NS_PER[kind]
    if kind == "id":
        out = np.where(null, 0, a).astype("int64")
        out[null] = _NULL_ID
        return out
    if kind == "cents":
        c = np.floor(np.where(null, 0.0, a).astype("float64") * 100.0)
        if (np.abs(c) >= 2.0**63).any():  # inf too: no int64 cents
            raise OverflowError("value out of the int64 cents range")
        a = c.astype("int64")
    if null.any():
        a = a.astype(object)
        a[null] = None
    return a


def _events(pdfs, fields, required, order) -> list[tuple]:
    """A group's micro-batch rows as event tuples in ``fields`` order:
    chunks concatenated in arrival order, rows with a NaT timestamp or a
    NULL ``required`` field dropped, then stable-sorted on ``order``
    (arrival order breaks full ties)."""
    import numpy as np
    import pandas as pd

    chunks = list(pdfs)
    if not chunks:
        return []
    pdf = chunks[0]
    if len(chunks) > 1:
        pdf = pd.concat(chunks, ignore_index=True)
    vals = {name: pdf[name].to_numpy() for name, _ in fields}
    nulls = {name: pd.isna(a) for name, a in vals.items()}
    keep = np.ones(len(pdf), dtype=bool)
    for name, kind in fields:
        if kind in _NS_PER or name in required:
            keep &= ~nulls[name]
    if not keep.all():
        vals = {name: a[keep] for name, a in vals.items()}
        nulls = {name: m[keep] for name, m in nulls.items()}
    cols = {
        name: _column(vals[name], nulls[name], kind) for name, kind in fields
    }
    if order:
        idx = np.lexsort([cols[name] for name in reversed(order)])
        cols = {name: c[idx] for name, c in cols.items()}
    return list(zip(*(c.tolist() for c in cols.values())))


def _group_fold(step, names, init, fields=(), required=(), order=(),
                timeout=None):
    """The pandas-level body of :func:`_keyed_fold`, one call per group
    per trigger: ``(key, pdfs, state) -> iterator of output frames``.

    A timed-out group calls ``step(key, held_state, None)``. Otherwise
    the group's rows become events (see :func:`_events`); a group with
    no valid event leaves its state as is, re-arming the timeout of a
    held state. ``step`` gets the held state, or ``init`` for a new key,
    and returns ``(new_state, rows)``: new_state None removes the state,
    and a new key whose state stays ``init`` stores nothing. Each row is
    a tuple of the non-key output columns; the key is prepended."""
    kind, deadline = timeout or (None, None)

    def update(key, pdfs, state):
        import pandas as pd

        if state.hasTimedOut:
            new, rows = step(key[0], state.get, None)
        else:
            held = state.get if state.exists else init
            ev = _events(pdfs, fields, required, order)
            new, rows = step(key[0], held, ev) if ev else (held, [])
        if new is None:
            state.remove()
        elif state.exists or new != init:
            state.update(new)
            if kind == GroupStateTimeout.ProcessingTimeTimeout:
                state.setTimeoutDuration(deadline(new))
            elif kind == GroupStateTimeout.EventTimeTimeout:
                state.setTimeoutTimestamp(deadline(new))
        if rows:
            yield pd.DataFrame([(key[0], *r) for r in rows], columns=names)

    return update


def _keyed_fold(df: DataFrame, key_col: str, step, out: str, state: str,
                init, *, fields=(), required=(), order=(), timeout=None,
                mode: str = "append") -> DataFrame:
    """The one keyed-state fold behind every stateful op: group ``df``
    by ``key_col`` and fold each group's micro-batches through ``step``
    (see :func:`_group_fold`) with checkpoint-durable state.

    ``out`` and ``state`` are the DDL of the non-key output columns and
    of the state; the output's key column keeps the key's OWN type (a
    string-keyed stream must not be cast through a default long).
    ``fields`` is a sequence of (column, kind) pairs naming the event
    tuple's fields (kinds as in :func:`_column`), ``required`` the
    columns whose NULL drops a row, ``order`` the sort columns.
    ``timeout`` is None or (GroupStateTimeout kind, fn(state) -> the
    duration or event-time deadline in ms)."""
    key_type = df.schema[key_col].dataType.simpleString()
    names = [key_col] + [c.split()[0] for c in out.split(",")]
    return df.groupBy(key_col).applyInPandasWithState(
        _group_fold(step, names, init, fields, required, order, timeout),
        outputStructType=f"{key_col} {key_type}, {out}",
        stateStructType=state,
        outputMode=mode,
        timeoutConf=timeout[0] if timeout else GroupStateTimeout.NoTimeout,
    )


def stateful_element_counts(df: DataFrame) -> DataFrame:
    """Custom stateful operator: running per-element totals across
    micro-batches via applyInPandasWithState (the applyInPandasWithState
    slot klio has no analog for — its streaming is stateless per-element;
    this is the extension path for dedup-with-memory, rate tracking,
    session state).

    State = one long per element, checkpoint-durable; emits
    (element, total_seen, batch_seen) each time the element appears.
    """

    def step(_, st, ev):
        total = st[0] + len(ev)
        return (total,), [(total, len(ev))]

    return _keyed_fold(
        df, "element", step, "total_seen long, batch_seen long",
        "total long", (0,), fields=(("element", "raw"),),
    )


def stateful_funnel(
    df: DataFrame,
    stages: tuple[str, ...] = ("signup", "view", "click", "purchase"),
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-user funnel state machine across micro-batches — the streaming
    twin of q108's batch funnel (queries/behavior.py): state = (highest
    stage reached, its event time); an event advances the user only if it
    is the NEXT stage in order and strictly later than the current
    stage's time. Emits one row per advancement.

    State is two scalars per user — checkpoint-durable, restart-safe,
    O(users) not O(events). Within a batch events sort by time; an event
    arriving in a later batch with an earlier timestamp than the reached
    stage cannot advance (same strict-ordering rule the batch query
    applies, evaluated on arrival order across batches — the documented
    streaming relaxation)."""
    stage_list = list(stages)

    # same-time ties cannot matter: only one event per instant advances;
    # a user at stage 0 has no time yet (t is unset, whatever the epoch)
    def step(_, st, ev):
        stage, t = st
        rows = []
        for tm, et in ev:
            if (stage < len(stage_list) and et == stage_list[stage]
                    and (stage == 0 or tm > t)):
                stage, t = stage + 1, tm
                rows.append((stage, et, tm))
        return (stage, t), rows

    return _keyed_fold(
        df, user_col, step, "stage int, stage_name string, ts_micros long",
        "stage int, t long", (0, -1),
        fields=((ts_col, "us"), (type_col, "raw")), order=(ts_col,),
    )


def stateful_keep_latest(
    df: DataFrame,
    key_col: str = "element",
    ts_col: str = "ts",
    value_col: str = "value",
    idle_timeout_ms: int | None = None,
) -> DataFrame:
    """Streaming changelog compactor — the streaming twin of q113's batch
    keep-latest (queries/behavior.py): per-key state holds (latest ts,
    latest value); a batch emits one row per key that RECEIVED A NEWER
    value, so the downstream sink sees an upsert stream it can apply
    idempotently (merge by key). Out-of-order rows older than the held
    timestamp are absorbed silently — same semantics as the batch rn=1
    rank. State is two scalars per live key, checkpoint-durable.

    ``idle_timeout_ms`` is the state-hygiene lever that makes this safe
    on an unbounded key space (the 100 TB streaming concern: without
    eviction, per-key state grows forever): keys idle past the timeout
    are EVICTED and emit a tombstone row (latest_ts_micros = -1) so the
    downstream merge can expire them too. Uses processing-time timeouts,
    the applyInPandasWithState analog of a state-store TTL."""

    def step(_, st, ev):
        if ev is None:
            # idle eviction: drop state, emit a tombstone for the key
            return None, [(-1, None)]
        t, v = st
        changed = False
        for tm, val in ev:  # arrival order: the first of equal times wins
            if t is None or tm > t:
                # a NULL value stays NULL (q113's rn=1 row keeps it)
                t, v, changed = tm, None if val is None else str(val), True
        return (t, v), [(t, v)] if changed else []

    return _keyed_fold(
        df, key_col, step, "latest_ts_micros long, latest_value string",
        "t long, v string", (None, None),
        fields=((ts_col, "us"), (value_col, "raw")),
        timeout=None if idle_timeout_ms is None else (
            GroupStateTimeout.ProcessingTimeTimeout, lambda st: idle_timeout_ms
        ),
    )


def stateful_retention(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    epoch: str = "2024-01-01",
) -> DataFrame:
    """Streaming retention tracker — the streaming twin of q109's batch
    cohort matrix: per-user state is (first-seen day, highest week-offset
    already emitted); a user's first activity in each NEW week emits one
    (user, cohort_week, week_offset) cell. Summing cells per (cohort,
    offset) downstream reproduces the batch matrix incrementally — each
    cell row is emitted exactly once per user.

    State is two ints per user. Week offsets only move forward: an
    out-of-order event from an already-emitted week (or before the
    first-seen day) is absorbed, the same arrival-order relaxation as
    stateful_funnel. NaT timestamps are skipped."""
    import datetime as dt

    epoch_day = dt.date.fromisoformat(epoch).toordinal()
    # state keeps proleptic ordinals; events arrive as days since 1970
    ord_1970 = dt.date(1970, 1, 1).toordinal()

    def step(_, st, ev):
        d0, last = st
        days = sorted({d + ord_1970 for (d,) in ev})
        if d0 < 0:
            d0 = days[0]
        rows = []
        for d in days:
            off = (d - d0) // 7
            if off > last:
                last = off
                rows.append(((d0 - epoch_day) // 7, off))
        return (d0, last), rows

    return _keyed_fold(
        df, user_col, step, "cohort_week int, week_offset int",
        "d0 long, last long", (-1, -1), fields=((ts_col, "day"),),
    )


def stateful_transitions(
    df: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str | None = "event_id",
) -> DataFrame:
    """Per-user event-type transition emitter across micro-batches — the
    streaming twin of q148's batch transition matrix: state = the last
    event type per user; each arriving event emits one
    (prev_type, next_type) transition row, which a downstream streaming
    agg counts into the live matrix.

    State is ONE scalar per user (checkpoint-durable, O(users)), written
    only when a batch carries valid events. Within a batch events sort
    by (time, id_col) — the same deterministic tie-break as the batch
    query; pass ``id_col=None`` for streams without an id column
    (arrival order breaks ties). A cross-batch straggler older than the
    carried last event still emits in arrival order (the documented
    streaming relaxation, as in stateful_funnel). NaT timestamps are
    skipped (no position in the sequence); a NULL id sorts first among
    ties, matching the batch window's NULLS FIRST. A NULL event_type is
    preserved as NULL (q148 LAG semantics): it emits as a NULL
    next_type and suppresses the following event's transition — never
    the string 'None'."""
    # sort on (time, id) only — the batch window's ORDER BY; the type
    # must not act as a tie-break. A NULL event_type stays None, so
    # X→NULL emits a NULL next_type and NULL→Y is dropped (prev None),
    # exactly q148's batch LAG + `prev IS NOT NULL` semantics
    ids = () if id_col is None else (id_col,)

    def step(_, st, ev):
        (prev,) = st
        rows = []
        for tm, *_, et in ev:
            if prev is not None:
                rows.append((prev, et, tm))
            prev = et
        return (prev,), rows

    return _keyed_fold(
        df, user_col, step,
        "prev_type string, next_type string, ts_micros long", "e string",
        (None,), fields=((ts_col, "us"), *((c, "id") for c in ids),
                         (type_col, "raw")),
        order=(ts_col, *ids),
    )


def stateful_scd2(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Streaming SCD type-2 history builder — the stateful twin of
    q145's batch LEAD window: each change event CLOSES the key's open
    version (emitting the finished validity interval) and opens the
    next one in state.

    State per key = (version_no, valid_from_s, value_cents) — three
    scalars, checkpoint-durable. Emitted rows are final (append mode):
    a version emits exactly once, when the change that closes it
    arrives; the OPEN version lives only in state (a batch q145 run
    over the same events shows it as the is_current row — the
    documented streaming relaxation, since append mode cannot retract
    an open row later). Within a batch events sort by (ts, id) — the
    batch window's exact ORDER BY; a cross-batch straggler older than
    the open version folds in arrival order (the stateful_funnel
    relaxation). NaT timestamps are skipped; values integerize to
    cents via floor(value*100) exactly like the batch query."""

    def step(_, st, ev):
        ver, vfrom, cents = st
        rows = []
        for t_s, _, c in ev:
            if ver > 0:
                rows.append((ver, vfrom, t_s, False, cents))
            ver, vfrom, cents = ver + 1, t_s, c
        return (ver, vfrom, cents), rows

    return _keyed_fold(
        df, key_col, step,
        "version long, valid_from_s long, valid_to_s long,"
        " is_current boolean, value_cents long",
        "ver long, vfrom long, cents long", (0, None, None),
        fields=((ts_col, "s"), (id_col, "id"), (value_col, "cents")),
        order=(ts_col, id_col),
    )


def stateful_sessionize(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
) -> DataFrame:
    """Watermark-driven sessionizer — the custom-stateful twin of q51's
    batch gaps-and-islands (and of the built-in ``session_windows``, which
    can only aggregate; this emits a CLOSED-session record, the shape a
    downstream join wants). State per user = (start, last, n_events).

    Two close paths:
      * in-stream: an event more than ``gap`` after the open session's
        last event closes it immediately and opens a new one;
      * timeout: when the EVENT-TIME watermark passes last+gap, the open
        session closes with no further input — GroupStateTimeout.
        EventTimeTimeout, the slot that distinguishes a sessionizer from
        an untimed fold (a user who never returns still gets their
        session emitted, checkpoint-durable).

    Emitted rows are final (append mode): a session emits exactly once,
    on close. NaT timestamps are skipped. Micro-batch events sort by
    time before folding — the same arrival-order relaxation as
    stateful_funnel for cross-batch stragglers."""
    gap_us = gap_minutes * 60 * 1_000_000

    def step(_, st, ev):
        if ev is None:  # the watermark passed last + gap: close it
            return None, [st]
        # Fold the carried state session and this batch's events as
        # intervals sorted by start. An admitted straggler older than
        # the carried s0 must move the session start BACK (within gap)
        # or form its own, already-closed, older session (beyond gap);
        # folding only on s1 would swallow it into the newer session
        # and emit a start that postdates a member event.
        items = sorted([(tm, tm, 1) for (tm,) in ev] + ([st] if st else []))
        rows = []
        s0, s1, n = items[0]
        for t0, t1, cnt in items[1:]:
            if t0 - s1 <= gap_us:
                s1, n = max(s1, t1), n + cnt
            else:
                rows.append((s0, s1, n))
                s0, s1, n = t0, t1, cnt
        return (s0, s1, n), rows

    # event-time timeout takes epoch MILLIS, must exceed the current
    # watermark (it does: s1 is in this batch or the state predates it)
    return _keyed_fold(
        df.withWatermark(ts_col, f"{gap_minutes} minutes"), user_col, step,
        "session_start_us long, session_end_us long, n_events long",
        "s0 long, s1 long, n long", None, fields=((ts_col, "us"),),
        timeout=(
            GroupStateTimeout.EventTimeTimeout,
            lambda st: st[1] // 1000 + gap_minutes * 60000,
        ),
    )


def incremental_minhash_dedup(
    df: DataFrame,
    *,
    state_dir: str,
    novel_dir: str,
    dup_dir: str,
    checkpoint: str,
    seed_dir: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> StreamingQuery:
    """Ingestion-time near-dup gate with PERSISTENT memory — the
    streaming face of the minhash stack: every micro-batch is LSH-banded
    with text_band_hashes (the IDENTICAL composition minhash_lsh_dedup
    uses), probed against the persisted band table AND against lower-id
    docs in the same batch (keep-first), then novel docs land in
    ``novel_dir``, duplicates in ``dup_dir``, and the novel docs' bands
    append to ``state_dir`` so later batches remember them.

    Exactly-once: every write goes to a deterministic
    ``batch-<batch_id>`` subdir with mode=overwrite (the
    trigger_upstream pattern), and the probe excludes the current
    batch's own subdir by file path — a crash-retry reproduces
    byte-identical outputs instead of classifying its own docs as
    duplicates. ``state_dir``/``novel_dir``/``dup_dir`` are therefore
    OWNED by one checkpoint lineage (batch ids restart at 0 under a new
    checkpoint and would collide on the subdir names). To carry memory
    into a NEW stream — or to seed from a batch-built band table
    (minhash_lsh_dedup's bucket_table, q129) — pass ``seed_dir``: a read-only band
    source (column ``bh``) that is always probed, never excluded, never
    written. A CATALOG TABLE NAME (no path separator) reads via
    spark.table and keeps its bucketing — a compact_dedup_state table
    co-partitions the probe; a path string reads as plain parquet. Read the output dirs with
    ``option("recursiveFileLookup", "true")``.

    Scale shape: the probe is a semi-join on 8-byte band hashes — AQE
    sizes it (broadcast while the state fits, shuffle join after it
    outgrows memory; at 100 TB compact the state into q129's bucketed
    layout and pass it as seed_dir so the probe co-partitions).
    Document text never joins anything. Band verdicts are
    candidate-level (the standard LSH decision); run the q66-style
    exact verify downstream where precision matters."""
    from pyspark.errors import AnalysisException

    from klio_spark.functions.dedup import text_band_hashes

    band_col = text_band_hashes(
        F.col(text_col),
        shingle_n=shingle_n,
        num_hashes=num_hashes,
        bands=bands,
    )

    def read_bands(spark, d):
        # hadoop-FS existence check (driver-local os.path would be
        # always-False on hdfs/s3a/dbfs); empty or half-written dirs
        # read as no-state instead of killing the stream
        jpath = spark._jvm.org.apache.hadoop.fs.Path(d)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(jpath):
            return None
        try:
            return spark.read.option("recursiveFileLookup", "true").parquet(d)
        except AnalysisException:
            return None

    def batch_fn(batch, batch_id):
        spark = batch.sparkSession
        # banding (the shingle+signature work) feeds four jobs — compute
        # it once
        bands_df = batch.select(
            F.col(id_col), F.explode(band_col).alias("bh")
        ).persist()
        seen = read_bands(spark, state_dir)
        if seen is not None:
            # a replayed attempt must not probe its own prior write
            seen = seen.filter(
                ~F.input_file_name().contains(f"/batch-{batch_id}/")
            )
        if seed_dir is not None:
            if "/" not in seed_dir:
                # catalog table: the read keeps the bucket spec, so the
                # probe's build side arrives pre-partitioned on bh
                seed = spark.table(seed_dir)
            else:
                seed = read_bands(spark, seed_dir)
            if seed is not None:
                seed = seed.select("bh")
                seen = seed if seen is None else seen.select("bh").union(seed)
        dups = None
        if seen is not None:
            dups = (
                bands_df.join(seen.select("bh"), "bh", "left_semi")
                .select(id_col)
                .distinct()
            )
        firsts = bands_df.groupBy("bh").agg(F.min(id_col).alias("_minid"))
        batch_dups = (
            bands_df.join(firsts, "bh")
            .filter(F.col(id_col) > F.col("_minid"))
            .select(id_col)
            .distinct()
        )
        dups = (
            batch_dups if dups is None else dups.union(batch_dups).distinct()
        )
        dups = dups.persist()
        batch.join(dups, id_col, "left_semi").write.mode(
            "overwrite"
        ).parquet(f"{dup_dir}/batch-{batch_id}")
        batch.join(dups, id_col, "left_anti").write.mode(
            "overwrite"
        ).parquet(f"{novel_dir}/batch-{batch_id}")
        bands_df.join(dups, id_col, "left_anti").write.mode(
            "overwrite"
        ).parquet(f"{state_dir}/batch-{batch_id}")
        dups.unpersist()
        bands_df.unpersist()

    return foreach_batch_sink(df, batch_fn, checkpoint)


def compact_dedup_state(
    spark,
    state_dir: str,
    seed_table: str,
    n_buckets: int = 32,
) -> DataFrame:
    """Compact an incremental_minhash_dedup state dir (many small
    per-batch parquet subdirs) into ONE bucketed band table — the q129
    build-once layout — and return it. Pass the TABLE NAME as the next
    stream's ``seed_dir``: incremental_minhash_dedup reads catalog
    names via spark.table, which keeps the bucket spec, so the probe
    co-partitions instead of shuffling the accumulated history every
    micro-batch (a path read would discard bucketing). Run it
    between stream restarts (the state dir is owned by a checkpoint
    lineage; compaction belongs at lineage boundaries)."""
    from klio_spark.plans.partitioning import overwrite_bucketed_table

    state = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(state_dir)
        .select("bh")
        .distinct()
        # one file per bucket: without this, every shuffle partition
        # writes a file per bucket it holds (up to partitions x buckets
        # small files — worse fragmentation than the input)
        .repartition(n_buckets, "bh")
    )
    return overwrite_bucketed_table(state, seed_table, "bh", n_buckets)


def write_stream_text(
    df: DataFrame,
    path: str,
    checkpoint: str,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Checkpointed element-per-line sink (KlioWriteToText streaming twin).

    availableNow processes the backlog then stops — the batch-over-stream
    trigger used by tests and replay jobs."""
    writer = (
        df.select(F.col("element").cast("string").alias("value"))
        .writeStream.format("text")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def write_stream_kafka(
    df: DataFrame,
    topic: str,
    bootstrap_servers: str,
    checkpoint: str,
    wire_format: str = "proto",
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """KlioWriteToPubSub's production twin (io.py:660-702): envelope →
    wire bytes → Kafka record value.

    ``wire_format="proto"`` publishes real KlioMessage protobuf
    (envelope.to_proto_wire → raw bytes in the Kafka value, never a
    string round-trip that would corrupt non-UTF-8 protobuf), so an
    unmodified reference klio job can consume the topic; ``"json"``
    publishes the JSON wire lines trigger_upstream uses between
    klio-spark jobs. Exactly-once to the checkpoint horizon comes from
    Structured Streaming's offset tracking (the reference's
    ack-deadline machinery, pubsub_message_manager.py:47-314).
    Requires the spark-sql-kafka package on the classpath — the
    marker-gated integration test (tests/test_kafka_integration.py)
    skips where it is absent."""
    if wire_format == "proto":
        from klio_spark.envelope import to_proto_wire

        out = to_proto_wire(df)
    else:
        from klio_spark.envelope import to_wire

        out = to_wire(df)
    writer = (
        out.select(F.col("value"))
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_psi_drift(
    df: DataFrame,
    reference: DataFrame,
    sink,
    checkpoint_dir: str,
    key_col: str = "event_type",
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Live population-stability monitor — the streaming twin of q139.

    The stream's category mix accumulates in Spark's built-in
    incremental streaming aggregation (complete-mode groupBy count:
    state = one int64 per category, checkpoint-durable, resumed across
    restarts), and each trigger finalizes PSI against the static
    ``reference`` frame (key_col, ca) through
    :func:`klio_spark.functions.drift.psi_from_counts` — the EXACT
    kernel q139's DuckDB oracle hash-verifies every round, so the
    streaming monitor's arithmetic carries the batch query's
    correctness evidence. ``sink(psi_df, batch_id)`` receives the
    per-category contribution frame (psi_contrib in 1e-12 units, exact
    int64).

    A category absent from one side floors to 0 ppm and is excluded by
    the kernel (q139's documented cut); the full-outer join keeps novel
    live categories in the comparison totals, exactly like the batch
    split. At scale the state and the finalize are both
    |categories|-sized — nothing re-scans history."""
    counts = df.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("cb")
    )
    ref = reference.select(key_col, F.col("ca").cast("bigint").alias("ca"))

    def batch_fn(batch: DataFrame, batch_id: int) -> None:
        from klio_spark.functions.drift import psi_from_counts

        c = ref.join(batch.select(key_col, "cb"), key_col, "full").select(
            key_col,
            F.coalesce("ca", F.lit(0)).cast("bigint").alias("ca"),
            F.coalesce("cb", F.lit(0)).cast("bigint").alias("cb"),
        )
        sink(psi_from_counts(c, key_col), batch_id)

    return foreach_batch_sink(
        counts, batch_fn, checkpoint_dir, trigger_available_now,
        output_mode="complete",
    )


def streaming_ks_drift(
    df: DataFrame,
    reference: DataFrame,
    sink,
    checkpoint_dir: str,
    value_col: str = "value",
    key_col: str = "cents",
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Live Kolmogorov-Smirnov monitor — the streaming twin of q162.

    The stream's value distribution accumulates as per-cent counts in
    the built-in incremental aggregation (complete mode: state = one
    int64 per distinct cent, bounded by the value DOMAIN, checkpoint-
    resumed), and each trigger finalizes the exact integer KS statistic
    against the static ``reference`` (key_col, ca) through
    :func:`klio_spark.functions.drift.ks_from_counts` — the kernel
    q162's DuckDB oracle hash-verifies. ``sink(ks_df, batch_id)``
    receives the one-row (na, nb, ks_scaled, ks_at_<key>) frame.

    A cent present on only one side contributes a zero count on the
    other via the full-outer join — exactly the empirical-CDF semantics
    of the batch split."""
    counts = df.filter(F.col(value_col).isNotNull()).groupBy(
        F.floor(F.col(value_col) * 100.0).cast("bigint").alias(key_col)
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cb"))
    ref = reference.select(key_col, F.col("ca").cast("bigint").alias("ca"))

    def batch_fn(batch: DataFrame, batch_id: int) -> None:
        from klio_spark.functions.drift import ks_from_counts

        c = ref.join(batch.select(key_col, "cb"), key_col, "full").select(
            key_col,
            F.coalesce("ca", F.lit(0)).cast("bigint").alias("ca"),
            F.coalesce("cb", F.lit(0)).cast("bigint").alias("cb"),
        )
        sink(ks_from_counts(c, key_col), batch_id)

    return foreach_batch_sink(
        counts, batch_fn, checkpoint_dir, trigger_available_now,
        output_mode="complete",
    )


def stateful_cusum(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    *,
    target_cents: int,
    slack_cents: int = 0,
    threshold_cents: int,
) -> DataFrame:
    """Online two-sided CUSUM (Page's test) per key — the streaming-
    native member of the drift trio (q163 localizes a change
    RETROSPECTIVELY; this raises the alarm AS data arrives, the actual
    production monitoring shape).

    Per key, state = (S_hi, S_lo): the classic recurrences
    ``S_hi = max(0, S_hi + (x − target − slack))`` and
    ``S_lo = min(0, S_lo + (x − target + slack))`` over integer cents —
    exact, replayable, 2 int64s of checkpoint-durable state. When either
    statistic crosses ``threshold_cents`` an alarm row (key, ts_micros,
    direction 'up'/'down', statistic_cents, n_since_reset) emits and
    that side resets to 0 (standard restart-after-alarm). Within a
    batch events sort by (ts, id) — the suite's deterministic order;
    cross-batch stragglers fold in arrival order (the stateful_funnel
    relaxation). NaT timestamps and NULL values are skipped."""

    def step(_, st, ev):
        s_hi, s_lo, n = st
        rows = []
        for tm, _, x in ev:
            n += 1
            s_hi = max(0, s_hi + (x - target_cents - slack_cents))
            s_lo = min(0, s_lo + (x - target_cents + slack_cents))
            if s_hi > threshold_cents:
                rows.append((tm, "up", s_hi, n))
                s_hi, n = 0, 0
            if s_lo < -threshold_cents:
                rows.append((tm, "down", -s_lo, n))
                s_lo, n = 0, 0
        return (s_hi, s_lo, n), rows

    return _keyed_fold(
        df, key_col, step,
        "ts_micros long, direction string, statistic_cents long,"
        " n_since_reset long",
        "shi long, slo long, n long", (0, 0, 0),
        fields=((ts_col, "us"), (id_col, "id"), (value_col, "cents")),
        required=(value_col,), order=(ts_col, id_col),
    )


def stateful_ewma(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    alpha_log2: int = 1,
) -> DataFrame:
    """Exact online EWMA per key — the UNtruncated twin of q179's
    batch feature (q179 truncates the recurrence at 8 lags because the
    full recurrence is sequential per key and therefore not windowable;
    in streaming state, sequential-per-key is exactly the execution
    model, so the exact form costs one int64 of state).

    alpha = 1/2^alpha_log2; values quantize to cents and the running
    mean lives scaled by 2^20:

        y_0 = x_0 * 2^20
        y_t = (x_t * 2^20 + (2^a - 1) * y_{t-1}) div 2^a

    — truncating integer division, so the sequence is exactly
    replayable (the restart test replays it in plain Python across the
    checkpoint boundary). Emits one row per event with the
    post-update value; divide by 2^20 at serving time. Within a batch
    events sort by (ts, id); NaT/NULL rows are skipped (the
    stateful_cusum conventions)."""
    two_a = 1 << alpha_log2
    scale = 1 << 20

    def step(_, st, ev):
        y, n = st
        rows = []
        for tm, eid, x in ev:
            if n == 0:
                y = x * scale
            else:
                num = x * scale + (two_a - 1) * y
                q = abs(num) // two_a
                y = q if num >= 0 else -q
            n += 1
            rows.append((eid, tm, y, n))
        return (y, n), rows

    return _keyed_fold(
        df, key_col, step,
        f"{id_col} long, ts_micros long, ewma_scaled long, n_seen long",
        "y long, n long", (0, 0),
        fields=((ts_col, "us"), (id_col, "id"), (value_col, "cents")),
        required=(value_col,), order=(ts_col, id_col),
    )


def rolling_distinct_sketch(
    df: DataFrame,
    ts_col: str,
    id_col: str,
    window: str = "7 days",
    slide: str = "1 day",
    watermark: str = "1 day",
) -> DataFrame:
    """Sliding-window approximate distinct — the streaming twin of
    q146's rolling 7-day HLL rollup.

    The same Datasketches HLL the batch query merges runs INSIDE the
    streaming aggregation: each event updates the ≤ window/slide open
    window sketches it serves (state = one ~4 KB sketch per open
    window, bounded by the watermark — an exact streaming
    COUNT(DISTINCT) would instead buffer every (window, user) pair),
    and a window emits once, on watermark close (append mode). HLL
    register state is a deterministic, order-independent function of
    the element SET, so a closed window's estimate equals the batch
    rollup over the same membership bit-for-bit — which is what the
    checkpoint-restart test asserts against the q146 kernel."""
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window, slide).alias("win"))
        .agg(F.hll_sketch_agg(id_col).alias("_sk"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            F.hll_sketch_estimate("_sk").cast("bigint").alias(
                "approx_distinct"
            ),
        )
    )


def streaming_quantile_sketch(
    df: DataFrame,
    sink,
    checkpoint_dir: str,
    group_col: str = "event_type",
    value_col: str = "value",
    k: int = 200,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Live per-group KLL quantile sketches — the streaming member of
    the quantile story (q99 per-query, sketch_table.py persisted
    tables), completing the streaming sketch family: HLL
    (rolling_distinct_sketch), count-min (streaming_countmin),
    Misra-Gries (stateful_heavy_hitters), KLL (this).

    The SAME built-in Datasketches KLL aggregate the batch table
    builder uses (functions/sketch_table.py write_quantile_sketches)
    runs inside the incremental streaming aggregation, complete mode:
    state is one ~KB sketch binary per group — bounded by group
    cardinality and k, NEVER by event count, where an exact streaming
    percentile would buffer every value. Each trigger hands the live
    sketch table (group, kll_sketch binary — the same schema as the
    batch builder, so quantile_rollup-style merges apply directly) to
    ``sink(sketches, batch_id)``.

    KLL is a mergeable rank sketch with a published ±epsilon(k) rank
    guarantee; compaction is randomized, so the restart test asserts
    the RANK guarantee of the live sketch's quantiles against the
    exact cumulative distribution (not bit-equality, which the HLL and
    count-min twins can and do assert)."""
    sketches = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(group_col)
        .agg(
            F.kll_sketch_agg_double(value_col, F.lit(k)).alias("kll_sketch")
        )
    )

    return foreach_batch_sink(
        sketches, sink, checkpoint_dir, trigger_available_now,
        output_mode="complete",
    )


def streaming_countmin(
    df: DataFrame,
    sink,
    checkpoint_dir: str,
    key_col: str = "user_id",
    depth: int = 4,
    width: int = 64,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Live count-min frequency sketch — the streaming twin of
    q165/q166's batch counter tables (functions/countmin.py).

    Each event expands to its `depth` (cm_row, cm_bucket) cells — the
    same md5-derived ``_bucket`` expression the batch builder and the
    DuckDB oracle replay — and the cell counts accumulate in Spark's
    built-in incremental streaming aggregation (complete mode: state =
    one int64 per touched cell, bounded by depth*width REGARDLESS of
    the key cardinality — that bound is the entire point of the
    sketch, and it is also exactly why the streaming state stays flat
    where an exact per-key count would grow without limit).

    Each trigger hands the live counter table (cm_row, cm_bucket,
    cm_count — the same schema as build_countmin, so cm_estimate /
    merge_countmin apply directly) to ``sink(counters, batch_id)``.
    Because the sketch is a cell-wise-additive function of the event
    multiset, the live table after any prefix of the stream equals the
    batch build over that prefix counter-for-counter — including across
    checkpoint restarts — which is what the restart test asserts
    against the q165/q166-verified batch kernel."""
    from klio_spark.functions.countmin import _bucket

    key = F.col(key_col)
    cells = F.array(
        *[
            F.struct(
                F.lit(r).alias("cm_row"),
                _bucket(key, r, width).alias("cm_bucket"),
            )
            for r in range(depth)
        ]
    )
    counters = (
        df.filter(key.isNotNull())
        .select(F.explode(cells).alias("rb"))
        .groupBy("rb.cm_row", "rb.cm_bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cm_count"))
    )

    return foreach_batch_sink(
        counters, sink, checkpoint_dir, trigger_available_now,
        output_mode="complete",
    )


def mg_fold(
    merged: dict, batch: dict, capacity: int, d: int
) -> tuple[dict, int]:
    """One Misra-Gries merge step (Agarwal et al. 2013): add the batch's
    counts into the summary; if more than ``capacity`` keys survive,
    subtract the (capacity+1)-th largest counter from every counter and
    drop the non-positives. Returns (summary, cumulative subtracted
    mass d). The input dict is copied, never mutated. Pure kernel — property-tested in tests/test_properties.py;
    the exact sandwich est <= true <= est + d and
    present-if-true-count > d both follow from it."""
    merged = dict(merged)
    for k, c in batch.items():
        merged[k] = merged.get(k, 0) + int(c)
    if len(merged) > capacity:
        pivot = sorted(merged.values(), reverse=True)[capacity]
        merged = {k: c - pivot for k, c in merged.items() if c > pivot}
        d += pivot
    return merged, d


def stateful_heavy_hitters(
    df: DataFrame,
    key_col: str = "user_id",
    n_shards: int = 8,
    capacity: int = 16,
) -> DataFrame:
    """Streaming heavy hitters by SHARDED Misra-Gries — the streaming
    twin of q89's exact batch top-k (queries/training.py).

    Keys hash to ``n_shards`` disjoint shards (xxhash64 pmod), so each
    shard's summary covers a disjoint key set and the global answer is
    the plain union of shard summaries — no cross-shard merge math.
    Per shard, state is a Misra-Gries summary of ``capacity`` counters
    plus two scalars: TOTAL state is bounded by n_shards*capacity
    entries REGARDLESS of key cardinality (the point of the sketch —
    an exact streaming groupBy-count would grow state without limit).

    Per trigger, each incoming batch's key counts fold into the summary
    with the Agarwal et al. MERGE step: add counts, and if more than
    ``capacity`` keys survive, subtract the (capacity+1)-th largest
    counter from every counter and drop the non-positives (deterministic
    regardless of iteration order — survivors are exactly the counters
    strictly above the pivot). State tracks n (items seen) and d (the
    cumulative subtracted mass), giving the classic exact sandwich
    ``est <= true <= est + d`` per surviving key, and the guarantee
    that any key with true count > d is PRESENT in the summary — the
    restart test asserts both against an exact batch referee.

    Emits the full shard summary each trigger (output mode `update`):
    (shard, key, est, n_shard, err_bound) rows, keys as strings
    (state-schema typing; cast back at the consumer if needed)."""
    from collections import Counter

    keyed = df.filter(F.col(key_col).isNotNull()).select(
        F.col(key_col).cast("string").alias("_key"),
        F.pmod(F.xxhash64(F.col(key_col).cast("string")), F.lit(n_shards))
        .cast("int")
        .alias("shard"),
    )

    def step(_, st, ev):
        batch = Counter(k for (k,) in ev)
        keys, counts, n, d = st
        merged, d = mg_fold(dict(zip(keys, counts)), batch, capacity, d)
        n += len(ev)
        ks = sorted(merged)  # deterministic state + emission order
        rows = [(k, merged[k], n, d) for k in ks]
        return (ks, [merged[k] for k in ks], n, d), rows

    return _keyed_fold(
        keyed, "shard", step,
        "key string, est long, n_shard long, err_bound long",
        "keys array<string>, counts array<long>, n long, d long",
        ([], [], 0, 0), fields=(("_key", "raw"),), mode="update",
    )


def foreach_batch_sink(
    df: DataFrame,
    batch_fn,
    checkpoint: str,
    trigger_available_now: bool = True,
    output_mode: str | None = None,
) -> StreamingQuery:
    """foreachBatch with checkpointing: the general sink adapter (used for
    bq-style/custom writers). batch_fn(batch_df, batch_id) must be
    idempotent on batch_id for exactly-once. ``output_mode`` must match
    the plan's stateful operator when it declares one (e.g. the
    update-mode heavy-hitter summary)."""
    writer = df.writeStream.foreachBatch(batch_fn).option(
        "checkpointLocation", checkpoint
    )
    if output_mode is not None:
        writer = writer.outputMode(output_mode)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def rewrite_for_upstream(
    df: DataFrame, upstream_job: tuple[str, str], current_job: tuple[str, str]
) -> DataFrame:
    """KlioTriggerUpstream metadata rewrite (helpers.py:703-734): limited
    recipients = [upstream, self], trigger_children_of = self — so the
    upstream reprocesses the element bottom-up and then execution resumes
    top-down at this job."""
    up = job_lit(*upstream_job)
    me = job_lit(*current_job)
    return (
        df.withColumn("recipients_mode", F.lit(LIMITED))
        .withColumn("recipients", F.array(up, me))
        .withColumn("trigger_children_of", me)
        .withColumn("force", F.lit(False))
        .withColumn("ping", F.lit(False))
    )


def trigger_upstream(
    not_found: DataFrame,
    upstream_topic_dir: str,
    checkpoint: str,
    upstream_job: tuple[str, str],
    current_job: tuple[str, str],
    trigger_available_now: bool = True,
    wire_format: str = "json",
) -> StreamingQuery:
    """Publish missing-input elements to the upstream job's input channel
    (file-dir stand-in for its Pub/Sub topic). The envelope rides as JSON
    wire lines by default; ``wire_format="proto"`` publishes real
    KlioMessage protobuf (base64 per line) so an *unmodified reference
    klio job* can be the upstream. Publish is idempotent per (element,
    batchId) via deterministic file naming in foreachBatch."""
    rewritten = rewrite_for_upstream(not_found, upstream_job, current_job)

    def publish(batch_df: DataFrame, batch_id: int) -> None:
        if wire_format == "proto":
            from klio_spark.envelope import to_proto_wire

            # Spark's base64 is MIME-chunked (\r\n every 76 chars) which
            # would split one message across text lines — strip the breaks
            out = to_proto_wire(batch_df).select(
                F.regexp_replace(F.base64(F.col("value")), "[\\r\\n]", "")
            )
        else:
            from klio_spark.envelope import to_wire

            out = to_wire(batch_df).select(F.col("value").cast("string"))
        # one deterministic subdir per batch -> replays overwrite, not dup
        out.write.mode("overwrite").text(f"{upstream_topic_dir}/batch-{batch_id}")

    return foreach_batch_sink(
        rewritten, publish, checkpoint, trigger_available_now
    )


def streaming_vocab_growth(
    df: DataFrame,
    text_col: str,
    checkpoint_dir: str,
    sink,
    *,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Live vocabulary growth — the streaming twin of q182's batch
    Heaps'-law curve (queries/textops.py q182_vocab_growth).

    Tokens explode from the text stream and a stateful
    ``dropDuplicates`` on the word emits each distinct word EXACTLY
    ONCE across the whole stream (checkpoint-backed — a word first
    seen before a crash is not re-emitted after restart). Each
    trigger's sink batch therefore contains precisely the words first
    seen in that trigger: ``sink(new_words_df, batch_id)`` receives
    (w) rows whose count is the trigger's vocabulary contribution, and
    the running total across batches is the same curve q182 computes
    over doc order — which the restart test asserts word-for-word.

    State = one entry per DISTINCT word ever seen. That is the same
    sublinear-in-corpus (Heaps-law) footprint the batch first-occurrence
    table has, and the right state bound for a vocabulary monitor: it
    grows only when the answer itself grows. (For a bounded-state
    approximation under adversarial vocabularies, the rolling-distinct
    HLL monitor — streaming_distinct_sketch — is the companion op.)
    """
    from klio_spark.functions.text import tokens

    words = df.select(
        F.explode(tokens(F.lower(F.col(text_col)))).alias("w")
    ).dropDuplicates(["w"])

    return foreach_batch_sink(
        words, sink, checkpoint_dir, trigger_available_now,
        output_mode="append",
    )


def stateful_attribution(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    lookback_s: int = 604800,
) -> DataFrame:
    """Streaming last-touch attribution — the stateful twin of q199
    (queries/behavior.py): each purchase emits exactly one attributed
    row crediting the user's most recent prior NON-purchase touchpoint
    within ``lookback_s`` seconds, else 'direct'.

    State per user is two scalars — (last_touch_epoch_s,
    last_touch_type) — so total state is bounded by the active-user
    set, not the event log (the purchase history never accumulates;
    attribution is decided the moment the purchase arrives). Within a
    batch events sort by (ts, id) — the batch window's exact ORDER BY,
    so same-microsecond touch/purchase ties resolve identically to
    q199; a cross-batch straggler folds in arrival order (the
    stateful_funnel relaxation). Refunds are neither touchpoints nor
    conversions, matching the batch op; NaT timestamps skip; value
    integerizes to cents via floor(value*100). NULL-user events drop
    before the groupBy — q199 filters ``user_id IS NOT NULL``, and
    without this filter the null key would form its own state group
    and emit attributed rows the batch twin never produces. Append
    mode: attributed rows are final (reference: klio's transforms are
    per-element and stateless — this models what its users hand-roll
    downstream)."""

    def step(_, st, ev):
        lt_s, lt_type = st
        rows = []
        for s, eid, et, cents in ev:
            if et == "purchase":
                channel = (
                    lt_type
                    if lt_s is not None and s - lt_s <= lookback_s
                    else "direct"
                )
                rows.append((eid, s, channel, 0 if cents is None else cents))
            elif et not in (None, "refund"):
                lt_s, lt_type = s, et
        return (lt_s, lt_type), rows

    return _keyed_fold(
        df.filter(F.col(user_col).isNotNull()), user_col, step,
        f"{id_col} long, epoch_s long, channel string, value_cents long",
        "lt_s long, lt_type string", (None, None),
        fields=((ts_col, "s"), (id_col, "id"), (type_col, "raw"),
                (value_col, "cents")),
        order=(ts_col, id_col),
    )


def streaming_char_coverage(
    df: DataFrame,
    sink,
    checkpoint_dir: str,
    lang_col: str = "lang",
    text_col: str = "text",
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Live per-language character-frequency table — the streaming twin
    of q206's character-coverage planning (the SentencePiece
    character_coverage dial, kept current as the crawl streams in).

    The (lang, char) counts accumulate in Spark's built-in incremental
    streaming aggregation (complete mode): state is one int64 per
    DISTINCT (lang, char) — bounded by the union alphabet, never the
    corpus (the same bound that makes q206's shuffle cheap; a CJK-heavy
    stream tops out at a few thousand rows per lang). Each trigger
    hands the live table (lang, c, cnt — the exact schema q206's
    window half consumes) to ``sink(counts, batch_id)``; coverage
    ranks/boundaries are a trivial window over that tiny table, so the
    consumer runs them per trigger or on demand. Counts are a
    cell-wise-additive function of the character multiset, so the live
    table after any stream prefix equals q206's batch count over that
    prefix count-for-count — including across checkpoint restarts and
    torn batches (asserted by the restart + crash-fuzz tests against
    the batch kernel)."""
    ws = (" ", "\t", "\n", "\r", "\x0b", "\x0c")
    counts = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(lang_col).alias("lang"),
            F.explode(
                F.filter(
                    F.split(F.col(text_col), ""),
                    lambda c: (c != "") & ~c.isin(*ws),
                )
            ).alias("c"),
        )
        .groupBy("lang", "c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )

    return foreach_batch_sink(
        counts, sink, checkpoint_dir, trigger_available_now,
        output_mode="complete",
    )


def stateful_interval_coverage(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    dur_s: int = 1800,
) -> DataFrame:
    """Streaming interval-union coverage — the stateful twin of q198
    (queries/behavior.py): each event opens a [s, s+dur_s) activity
    interval; overlapping/touching intervals merge into islands, and
    every island is emitted exactly once when a later event proves it
    closed (a gap strictly wider than zero after its max end).

    State per user is three scalars — (island_start_s, island_max_end_s,
    n_events) — so state is bounded by the active-user set, never the
    event log: coverage is decided island-by-island the moment each
    island closes, and the batch op's full per-user sort never has to
    exist. Within a batch, events sort by (ts, id) — the exact ORDER BY
    of q198's windows, so same-microsecond ties resolve identically. A
    cross-batch straggler folds in arrival order (the stateful_funnel
    relaxation): overlapping the OPEN island it extends the island's
    start backward (still exact); wholly before it, it emits as its own
    already-closed island (exact unless a later event would have merged
    with it — the one divergence the batch op, which sees all data,
    cannot have). Touching intervals (s == max_end) MERGE, matching the
    batch `s > prev_end` island test. Append mode: island rows are
    final; the tail island per user stays in state until a later event
    (or a sentinel) closes it — sum(covered_secs) over emitted islands
    plus open-island remainders equals q198's covered_secs exactly
    (asserted against the batch twin across a checkpoint restart)."""

    def step(_, st, ev):
        ist, ien, n = st
        rows = []
        for s, _ in ev:
            e = s + dur_s
            if ist is None:
                ist, ien, n = s, e, 1
            elif s > ien:
                # gap: the open island is proven closed — emit it
                rows.append((ist, ien, ien - ist, n))
                ist, ien, n = s, e, 1
            elif e < ist:
                # straggler wholly before the open island: its own
                # island, already closed by the data we've seen
                rows.append((s, e, e - s, 1))
            else:
                # overlap/touch: merge (start can move backward only
                # while the island is still open, so this stays exact)
                ist, ien, n = min(ist, s), max(ien, e), n + 1
        return (ist, ien, n), rows

    return _keyed_fold(
        df.filter(F.col(user_col).isNotNull()), user_col, step,
        "island_start_s long, island_end_s long, covered_secs long,"
        " n_events long",
        "ist long, ien long, n long", (None, None, 0),
        fields=((ts_col, "s"), (id_col, "id")), order=(ts_col, id_col),
    )


def streaming_script_mix(
    df: DataFrame,
    sink,
    checkpoint_dir: str,
    lang_col: str = "lang",
    source_col: str = "source",
    text_col: str = "text",
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Live mixed-script monitor — the streaming twin of q216
    (queries/textops.py): per (lang, source), cumulative doc counts,
    mixed-script doc counts, and per-script character totals, kept
    current as the crawl streams in (the homoglyph-injection /
    encoding-damage alarm wants to fire DURING ingestion, not at the
    next release audit).

    Same kernel as the batch op — the four literal-codepoint script
    ranges and the >= 2-classes MIXED rule from textops._SCRIPTS — over
    Spark's built-in incremental aggregation in complete mode: state is
    a handful of int64s per DISTINCT (lang, source) cell, bounded by
    the corpus's lang x source grid, never its size. Every statistic is
    a cell-wise-additive function of the document multiset, so the live
    table after any stream prefix equals q216's batch answer over that
    prefix cell-for-cell — including across checkpoint restarts
    (asserted against the batch kernel in test_streaming)."""
    from klio_spark.queries.textops import _SCRIPTS

    d = df.filter(F.col(text_col).isNotNull())
    counts = [
        F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(p), F.lit(0))
        ).alias(f"{k}_c")
        for k, p in _SCRIPTS
    ]
    base = d.select(
        F.col(lang_col).alias("lang"), F.col(source_col).alias("source"), *counts
    )
    n_scripts = None
    for k, _ in _SCRIPTS:
        term = F.when(F.col(f"{k}_c") > 0, 1).otherwise(0)
        n_scripts = term if n_scripts is None else n_scripts + term
    agg = (
        base.withColumn("n_scripts", n_scripts)
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("n_scripts") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_mixed"),
            *[
                F.sum(F.col(f"{k}_c")).cast("bigint").alias(f"{k}_chars")
                for k, _ in _SCRIPTS
            ],
        )
    )

    return foreach_batch_sink(
        agg, sink, checkpoint_dir, trigger_available_now,
        output_mode="complete",
    )


def streaming_calibration(
    df: DataFrame,
    sink,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    len_col: str = "n_chars",
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Live calibration-bin monitor — the streaming twin of q222
    (queries/dataqual.py): the 10-bin reliability table (per-bin count,
    confidence mass, positives) kept current as scored documents stream
    in, so classifier drift shows up as a moving ECE DURING ingestion
    instead of at the next offline audit.

    Uses q222's exact integer (conf_ppm, label) construction — clipped
    length in ppm and the Knuth-hash calibrated label — so the live
    table after any stream prefix equals q222's bins stage over that
    prefix cell-for-cell (asserted against the batch query across a
    checkpoint restart). State is Spark's built-in incremental streaming
    aggregation in complete mode: three int64 per bin, bounded at 10
    bins by construction — never by the corpus. Each trigger hands the
    bin table (bin_id, n, sum_conf, n_pos — the exact schema q222's
    gaps stage consumes) to ``sink(bins, batch_id)``; the per-bin gaps
    and the weighted ECE are a 10-row projection the consumer runs per
    trigger or on demand."""
    conf = (
        F.least(F.coalesce(F.col(len_col), F.lit(0)), F.lit(2000)) * 500
    ).cast("bigint")
    # mod 2^31 before the Knuth multiply (matches _conf_label exactly):
    # product fits int64 for any surrogate id
    h = F.expr(
        f"(((COALESCE({id_col}, 0) % 2147483648) * 2654435761)"
        " % 4294967296)"
    )
    scored = df.select(
        conf.alias("conf_ppm"),
        F.when(h * 1000000 < conf * 4294967296, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("label"),
    )
    bins = scored.groupBy(
        F.least(F.expr("conf_ppm div 100000"), F.lit(9)).alias("bin_id")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("conf_ppm").cast("bigint").alias("sum_conf"),
        F.sum("label").cast("bigint").alias("n_pos"),
    )

    return foreach_batch_sink(
        bins, sink, checkpoint_dir, trigger_available_now,
        output_mode="complete",
    )


def streaming_benford(
    df: DataFrame,
    sink,
    checkpoint_dir: str,
    amount_col: str = "l_extendedprice",
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Live Benford first-digit monitor — the streaming twin of q228
    (queries/dataqual.py): the 9-row first-significant-digit histogram
    of transaction amounts kept current as rows stream in, so a batch
    of fabricated amounts moves the digit distribution (and the
    consumer's TVD-vs-Benford alarm) DURING ingestion instead of at the
    next offline audit — fraud screens are the canonical always-on use
    of this statistic.

    Uses q228's exact digit extraction — FLOOR(amount*100) AS BIGINT,
    then the bigint's decimal string — so the live histogram after any
    stream prefix equals q228's digit histogram over that prefix
    cell-for-cell (asserted across a checkpoint restart). State is
    Spark's built-in incremental streaming aggregation in complete
    mode: one int64 per digit, bounded at 9 rows by construction.
    Each trigger hands the histogram (d, n_obs — the exact schema
    q228's rated stage consumes) to ``sink(hist, batch_id)``; the ppm
    shares, per-digit deviations, and TVD are a 9-row projection the
    consumer runs per trigger."""
    # cents >= 1 guard (same as q228): an amount in (0, 0.01) floors to
    # 0 cents, whose leading digit 0 is outside Benford's 1..9 domain
    # and would crash the consumer's element_at(benford_arr, d) stage.
    cents = df.filter(
        F.col(amount_col).isNotNull() & (F.col(amount_col) > 0)
    ).select(F.floor(F.col(amount_col) * 100).cast("bigint").alias("c"))
    digits = cents.filter(F.col("c") >= 1).select(
        F.substring(F.col("c").cast("string"), 1, 1).cast("int").alias("d")
    )
    hist = digits.groupBy("d").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs")
    )

    return foreach_batch_sink(
        hist, sink, checkpoint_dir, trigger_available_now,
        output_mode="complete",
    )


def streaming_seasonality(
    df: DataFrame,
    sink,
    checkpoint_dir: str,
    ts_col: str = "ts",
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Live weekday x hour traffic profile — the streaming twin of q243
    (queries/behavior.py): the 168-cell seasonality histogram kept
    current as events stream in, so the anomaly baselines q122-style
    monitors compare against are always the latest week shape instead
    of last quarter's offline profile.

    Uses q243's exact integer calendar math — epoch seconds via the
    year-1-shift floor convention, then the week-aligned +105000-week
    positive shift so day/hour bucketing needs no engine calendar
    function and floors identically for any timestamp — so the live
    table after any stream prefix equals q243's cell counts over that
    prefix cell-for-cell (asserted across a checkpoint restart). State
    is Spark's built-in incremental aggregation in complete mode: one
    int64 per cell, bounded at 168 cells by construction. Each trigger
    hands the histogram (dow, hod, n) to ``sink(cells, batch_id)``;
    shares and uniformity lifts are a 168-row projection the consumer
    runs per trigger."""
    secs = (
        "((CAST(unix_micros(CAST({c} AS TIMESTAMP)) AS BIGINT)"
        " + 62135596800000000) div 1000000 - 62135596800)"
    ).format(c=ts_col)
    cells = (
        df.filter(F.col(ts_col).isNotNull())
        .select(
            F.expr(
                f"(({secs} + 63504000000) div 86400 + 4) % 7"
            )
            .cast("bigint")
            .alias("dow"),
            F.expr(f"(({secs} + 63504000000) % 86400) div 3600")
            .cast("bigint")
            .alias("hod"),
        )
        .groupBy("dow", "hod")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )

    return foreach_batch_sink(
        cells, sink, checkpoint_dir, trigger_available_now,
        output_mode="complete",
    )


def streaming_quantile_hist(
    df: DataFrame,
    sink,
    checkpoint_dir: str,
    source_col: str = "source",
    len_col: str = "n_chars",
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Live per-source score histograms — the streaming twin of q232
    quantile normalization (queries/dataqual.py): the (source, score)
    count table kept current as scored documents stream in, so the
    cross-source score-fusion mapping (each source's empirical CDF onto
    the global one) is always computed from the latest distributions
    instead of last night's offline histograms — score drift in ONE
    source immediately moves only that source's normalization curve.

    Uses q232's exact integer score construction — clipped length ppm,
    LEAST(COALESCE(n_chars, 0), 2000) * 500 — so the live table after
    any stream prefix equals q232's h stage over that prefix
    cell-for-cell (asserted against the batch kernel across a
    checkpoint restart). ONE state table serves BOTH histograms the
    mapping needs: the global histogram is the per-source table summed
    over sources — a projection, not more state. State is Spark's
    built-in incremental streaming aggregation in complete mode: one
    int64 per (source, score) cell, bounded at #sources x 2001 cells by
    the score construction — never by the corpus. Each trigger hands
    the histogram (source, conf_ppm, cnt — the exact schema q232's
    windowed stages consume) to ``sink(hist, batch_id)``; the mid-rank
    CDFs and the inverse-CDF mapping are a dimension-sized projection
    (q232's hs/g/mapped stages) the consumer runs per trigger or on
    demand."""
    scored = df.select(
        F.col(source_col).alias("source"),
        (
            F.least(F.coalesce(F.col(len_col), F.lit(0)), F.lit(2000))
            * 500
        )
        .cast("bigint")
        .alias("conf_ppm"),
    )
    hist = scored.groupBy("source", "conf_ppm").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )

    return foreach_batch_sink(
        hist, sink, checkpoint_dir, trigger_available_now,
        output_mode="complete",
    )


def stateful_page_hinkley(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    *,
    delta_milli: int = 50000,
    lambda_milli: int = 1000000,
) -> DataFrame:
    """Online Page-Hinkley mean-shift alarm per key — q263's live twin
    (queries/dataqual.py) and the 30th stateful op, completing the
    drift family's batch/live pairing (PSI, KS, CUSUM, calibration,
    Benford, seasonality, quantile-norm all have one). CUSUM needs a
    configured TARGET mean; PH tracks the RUNNING mean, so it monitors
    metrics nobody baselined — the common case.

    Exactly q263's integer construction, folded incrementally: state =
    (n, sum_cents, m_milli, min_m_milli, alarmed) — five int64s per
    key, checkpoint-durable. Per event in (ts, id) order: the running
    mean integerizes as floor(1000.0 * sum / n) (an IEEE division of
    exact ints — Python, Spark, and DuckDB agree bit-for-bit, the
    integerize-the-transcendental rule), dev = cents*1000 - mean_milli
    - delta_milli accumulates into m, and PH = m - min(m so far,
    including now) — min_m seeds from the FIRST m (not 0), exactly the
    batch kernel's MIN-over-actual-m semantics, so batch/live first-
    alarm equivalence holds for ANY delta_milli sign (a 0 seed agreed
    only because delta_milli >= 0 forces m_1 <= 0). The FIRST crossing
    of lambda_milli emits one alarm
    row (key, t_s, ph_milli, n) and latches — matching q263's
    first_alarm_t_s exactly, which is what the restart-twin test
    asserts. Within a batch events sort by (ts, id); cross-batch
    stragglers fold in arrival order (the stateful_funnel relaxation).
    NaT timestamps and NULL values are skipped, like the batch
    kernel's filter."""

    def step(_, st, ev):
        n, s, m, min_m, alarmed = st
        rows = []
        for tm, _, cents in ev:
            n += 1
            s += cents
            mu = int(math.floor(1000.0 * s / n))
            m += cents * 1000 - mu - delta_milli
            if n == 1 or m < min_m:
                # seed min_m from the FIRST actual m (ADVICE r9): the
                # batch kernel takes MIN over real m values only, and a
                # 0-seeded min would diverge from it whenever m_1 > 0 —
                # possible the moment delta_milli < 0
                min_m = m
            ph = m - min_m
            if not alarmed and ph > lambda_milli:
                alarmed = 1
                rows.append((tm, ph, n))
        return (n, s, m, min_m, alarmed), rows

    return _keyed_fold(
        df, key_col, step, "t_s long, ph_milli long, n_at_alarm long",
        "n long, s long, m long, min_m long, alarmed long", (0, 0, 0, 0, 0),
        # epoch seconds, floor — matches _SECS for the non-negative
        # post-1970 suite corpora; the batch kernel's year-1 shift
        # generalizes it
        fields=((ts_col, "s"), (id_col, "id"), (value_col, "cents")),
        required=(value_col,), order=(ts_col, id_col),
    )


def stateful_rolling_distinct(
    df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """EXACT 7-day rolling distinct actives per day — q259's live twin
    (queries/behavior.py) and the exact counterpart of
    rolling_distinct_sketch's HLL estimate: run both and the live
    delta IS the sketch's measured error, continuously.

    Same decomposition as the batch kernel: each event votes for the 7
    target days its calendar day serves (a stateless integer-day
    explode — no range join), and per target day the state is the SET
    of distinct voters, kept as a sorted int64 array in keyed state.
    Each batch folds its votes in and emits the updated
    (day_epoch, n_active_7d) — latest row per day is current, the
    stateful_element_counts running-value convention. State per day is
    bounded by that window's true distinct count — the same bound the
    batch exact computation carries, which is WHY the HLL twin is the
    documented 100 TB path and this op is its always-on referee
    (sketch accuracy is only provable against an exact count). NaT
    timestamps and NULL users are skipped like the batch kernel's
    filter."""
    votes = (
        df.filter(F.col(ts_col).isNotNull() & F.col(user_col).isNotNull())
        .select(
            F.col(user_col).alias("_u"),
            F.explode(
                F.sequence(
                    F.datediff(
                        F.to_date(ts_col), F.lit("1970-01-01").cast("date")
                    ).cast("long"),
                    F.datediff(
                        F.to_date(ts_col), F.lit("1970-01-01").cast("date")
                    ).cast("long")
                    + 6,
                )
            ).alias("day_epoch"),
        )
    )

    def step(_, st, ev):
        seen = set(st[0]).union(int(u) for (u,) in ev)
        return (sorted(seen),), [(len(seen),)]

    return _keyed_fold(
        votes, "day_epoch", step, "n_active_7d long", "users array<long>",
        ([],), fields=(("_u", "raw"),),
    )


def stateful_kaplan_meier(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    *,
    signup_type: str = "signup",
    event_type: str = "purchase",
) -> DataFrame:
    """Online Kaplan-Meier CENSORING STATE per user — q258's live twin
    (queries/behavior.py) and the 32nd stateful op, completing the
    survival family's batch/live pairing.

    The scalable split: the HARD part of live KM is the per-user
    time-to-event state under replay and out-of-order delivery — t0 =
    earliest signup seen, te = earliest post-signup purchase seen —
    exactly 2 int64 scalars per user, keyed BY USER so the op
    parallelizes over the user exchange like every per-user batch agg.
    The curve fold (risk sets, the exact-integer ln product) is a
    cheap DETERMINISTIC aggregation over the emitted snapshot that any
    consumer runs with ITS OWN censor time ("now"), so the op does not
    bake a censoring horizon into state. Each touched user re-emits
    its current (user, arm, t0, te) — latest-per-user is the snapshot,
    the stateful_element_counts running-value convention; the
    restart-twin test folds that snapshot through q258's OWN oracle
    tail (risk sets -> floor(1e12*ln(1-d/n)) prefix sums) and asserts
    equality with the batch kernel over the cumulative events.

    Both folds are idempotent mins, so torn-batch replay cannot move
    t0/te (crash-fuzz tested). Events are folded batch-at-a-time: a
    signup and a later purchase in the SAME batch pair correctly
    regardless of row order; a purchase in an EARLIER batch that only
    becomes eligible when a LATER batch backfills an older signup is
    dropped — the stateful_funnel arrival-order relaxation, shared by
    every op in this family. arm = user % 2 in C remainder semantics
    (the engines' convention, sign of the dividend). NaT timestamps
    and non-string types are skipped like the batch kernel's filter;
    users with no signup yet hold no state and emit nothing (q258's
    WHERE t0 IS NOT NULL)."""
    UNSET = 2**62

    def step(u, st, ev):
        t0 = min([st[0]] + [s for s, et in ev if et == signup_type])
        if t0 == UNSET:
            # no signup seen yet: nothing emittable, and storing
            # pre-signup purchases would not survive the documented
            # arrival-order relaxation anyway
            return st, []
        te = min(
            [st[1]] + [s for s, et in ev if et == event_type and s >= t0]
        )
        u = int(u)
        arm = (u % 2) if u >= 0 else -((-u) % 2)
        return (t0, te), [(arm, t0, None if te == UNSET else te)]

    filtered = df.withColumn(user_col, F.col(user_col).cast("long")).filter(
        F.col(ts_col).isNotNull()
        & F.col(user_col).isNotNull()
        & F.col(type_col).isin(signup_type, event_type)
    )
    return _keyed_fold(
        filtered, user_col, step, "arm long, t0 long, te long",
        "t0 long, te long", (UNSET, UNSET),
        fields=((ts_col, "s"), (type_col, "raw")),
    )


def stateful_groupwise_ols(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Online group-wise OLS moment accumulator — q262's live twin
    (queries/behavior.py) and the 33rd stateful op, completing the
    regression family's batch/live pairing the way stateful_kaplan_meier
    completed survival and stateful_page_hinkley completed drift.

    The scalable split mirrors the batch kernel exactly: regression over
    (x = hour index, y = value cents) reduces to SIX exact-integer
    moments per key — (n, Sx, Sy, Sxx, Sxy, Syy) — so state is 6 int64s
    per key, keyed by the SAME column the batch groupBy shuffles on, and
    the fold is an abelian sum (order- and batch-boundary-free, the only
    state shape that needs no arrival-order relaxation at all). x and y
    integerize with the batch kernel's own expressions: x =
    (unix_micros + 62135596800000000) div 1e6 div 3600 - 17733240 (the
    corpus hour index), y = floor(value * 100.0) — one IEEE double
    multiply then floor, bit-identical in pandas and the JVM. The
    slope/intercept/r2 derivation stays a DETERMINISTIC consumer-side
    fold over the emitted snapshot (q262's closed form from the same six
    moments), so the op bakes no float arithmetic into state and the
    restart-twin test asserts exact int64 equality against the batch
    m-table on the cumulative corpus. int64 envelope = q262's
    documented bound (~9e8 rows/group at the corpus value domain).

    Each touched key re-emits its full moment snapshot per batch
    (latest-per-key is the live regression input, the
    stateful_element_counts running-value convention). Batch replay
    after a torn write re-folds against the checkpointed pre-batch
    state, so sums cannot double-count (crash-fuzz tested). NULL ts or
    value rows are skipped like the batch kernel's filter; NULL keys
    pass through as their own group, matching the batch groupBy."""

    def step(_, st, ev):
        n, sx, sy, sxx, sxy, syy = st
        for us, y in ev:
            x = (us + 62135596800000000) // 1000000 // 3600 - 17733240
            n, sx, sy = n + 1, sx + x, sy + y
            sxx, sxy, syy = sxx + x * x, sxy + x * y, syy + y * y
        moments = (n, sx, sy, sxx, sxy, syy)
        return moments, [moments]

    # the state is the emitted snapshot: same six columns
    moments = "n long, sx long, sy long, sxx long, sxy long, syy long"
    return _keyed_fold(
        df, key_col, step, moments, moments, (0, 0, 0, 0, 0, 0),
        fields=((ts_col, "us"), (value_col, "cents")), required=(value_col,),
    )
