"""Spark-free tests of the keyed-state fold behind every stateful
streaming op: the pandas-level group function runs against a fake
GroupState, so the event extraction (NaT/NULL drops, id and cents
integerization, timestamp flooring, the declared stable sort) and the
state read/write/timeout plumbing are checked without a micro-batch."""

import datetime as dt
import math

import pandas as pd
import pytest

from klio_spark.streaming import _group_fold


class FakeState:
    """The GroupState surface the fold touches."""

    def __init__(self, held=None, timed_out=False):
        self.held = held
        self.hasTimedOut = timed_out
        self.timeouts = []

    @property
    def exists(self):
        return self.held is not None

    @property
    def get(self):
        return self.held

    def update(self, new):
        self.held = new

    def remove(self):
        self.held = None

    def setTimeoutDuration(self, ms):
        self.timeouts.append(("duration", ms))

    def setTimeoutTimestamp(self, ms):
        self.timeouts.append(("timestamp", ms))


def _run(fold, chunks, state, key="k"):
    out = list(fold((key,), iter(chunks), state))
    return pd.concat(out, ignore_index=True) if out else None


def _recording_fold(seen, **spec):
    def step(_, st, ev):
        seen.append(ev)
        return (st[0] + len(ev),), [(len(ev),)]

    return _group_fold(step, ["k", "n"], (0,), **spec)


def test_events_drop_nat_sort_nulls_first_and_keep_arrival_ties():
    t = dt.datetime(2024, 1, 1)
    later = t + dt.timedelta(seconds=1)
    chunks = [
        pd.DataFrame({
            "ts": [later, t, pd.NaT], "id": [5.0, 7.0, 1.0],
            "tag": ["a", "b", "c"],
        }),
        # a NULL id arrives as float NaN (nullable long through Arrow)
        pd.DataFrame({
            "ts": [t, t, t], "id": [float("nan"), 7.0, 7.0],
            "tag": ["d", "e", "f"],
        }),
    ]
    seen = []
    fold = _recording_fold(
        seen, fields=(("ts", "us"), ("id", "id"), ("tag", "raw")),
        order=("ts", "id"),
    )
    state = FakeState()
    rows = _run(fold, chunks, state)
    us = (t - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)
    # NaT row "c" dropped; the NULL id sorts first among the t ties;
    # the full (t, 7) ties keep arrival order across both chunks
    assert seen == [[
        (us, -(2**63), "d"),
        (us, 7, "b"),
        (us, 7, "e"),
        (us, 7, "f"),
        (us + 1_000_000, 5, "a"),
    ]]
    assert state.get == (5,)
    assert rows.to_dict("list") == {"k": ["k"], "n": [5]}


def test_cents_floor_and_pre_1970_timestamps_match_python():
    values = [-0.005, -1.015, 0.005, 1.005, 2.675, -3.0, 19.99, float("nan")]
    stamps = [
        pd.Timestamp("1969-12-31 23:59:59.9999995"),
        pd.Timestamp("1900-06-01 12:00:00.0000015"),
        pd.Timestamp("1969-12-31 23:59:59.000000001"),
        pd.Timestamp("1970-01-01"),
        pd.Timestamp("2024-03-10 02:30:00.123456789"),
        pd.Timestamp("1700-03-01 00:00:00.5"),
        pd.Timestamp("2262-04-10"),
        pd.Timestamp("2000-01-01"),
    ]
    pdf = pd.DataFrame({"ts": stamps, "v": values})
    for unit, div in (("us", 1_000), ("s", 1_000_000_000)):
        seen = []
        fold = _recording_fold(seen, fields=(("ts", unit), ("v", "cents")))
        _run(fold, [pdf], FakeState())
        want = [
            (t.value // div, None if math.isnan(v) else math.floor(v * 100.0))
            for t, v in zip(stamps, values)
        ]
        assert seen == [want]
    # a required column's NULL drops the row instead of passing None
    seen = []
    fold = _recording_fold(
        seen, fields=(("ts", "s"), ("v", "cents")), required=("v",)
    )
    _run(fold, [pdf], FakeState())
    assert len(seen[0]) == len(values) - 1
    assert all(c is not None for _, c in seen[0])


def test_no_valid_event_leaves_state_and_new_key_at_init_stores_nothing():
    seen = []
    fold = _recording_fold(seen, fields=(("ts", "us"),))
    state = FakeState(held=(3,))
    assert _run(fold, [pd.DataFrame({"ts": [pd.NaT]})], state) is None
    assert seen == [] and state.get == (3,)

    def idle(_, st, ev):
        return st, []

    state = FakeState()
    fold = _group_fold(idle, ["k", "n"], (0,), fields=(("ts", "us"),))
    one = pd.DataFrame({"ts": [dt.datetime(2024, 1, 1)]})
    assert _run(fold, [one], state) is None
    assert not state.exists


def test_timeouts_arm_on_write_and_expire_through_step():
    def step(_, st, ev):
        if ev is None:
            return None, [(-1,)]
        return (max(t for (t,) in ev),), []

    fold = _group_fold(
        step, ["k", "last"], None, fields=(("ts", "s"),),
        timeout=("EventTimeTimeout", lambda st: st[0] * 1000 + 60_000),
    )
    state = FakeState()
    ten = pd.DataFrame({"ts": [dt.datetime(1970, 1, 1, 0, 0, 10)]})
    _run(fold, [ten], state)
    assert state.get == (10,) and state.timeouts == [("timestamp", 70_000)]
    # a batch of only NaT rows re-arms the held state's deadline
    _run(fold, [pd.DataFrame({"ts": [pd.NaT]})], state)
    assert state.get == (10,) and state.timeouts[-1] == ("timestamp", 70_000)
    expired = FakeState(held=(10,), timed_out=True)
    rows = _run(fold, [], expired)
    assert not expired.exists
    assert rows.to_dict("list") == {"k": ["k"], "last": [-1]}


@pytest.mark.parametrize("v", [1e17, -float("inf")])
def test_cents_outside_int64_raise(v):
    """Cents that no int64 holds fail loudly instead of wrapping."""
    fold = _recording_fold([], fields=(("v", "cents"),))
    with pytest.raises(OverflowError):
        _run(fold, [pd.DataFrame({"v": [1.5, v]})], FakeState())


def _op_fold(monkeypatch, op, **kw):
    """The fold `op` hands to _keyed_fold, built without a Spark frame."""
    from klio_spark import streaming

    def capture(df, key_col, step, out, state, init, **spec):
        names = [key_col] + [c.split()[0] for c in out.split(",")]
        return _group_fold(step, names, init, **spec)

    monkeypatch.setattr(streaming, "_keyed_fold", capture)
    return op(None, **kw)


_MOON = pd.Timestamp("1969-07-20 20:17:40")
_MOON_US = _MOON.value // 1_000


def test_funnel_step_advances_on_pre_1970_events(monkeypatch):
    """A stage-0 user has no time yet: a 1969 signup (negative epoch
    micros) advances it, and the next stage still needs a later time."""
    from klio_spark.streaming import stateful_funnel

    fold = _op_fold(monkeypatch, stateful_funnel)
    state = FakeState()
    pdf = pd.DataFrame({
        "ts": [_MOON, _MOON, _MOON + pd.Timedelta(seconds=1)],
        "event_type": ["signup", "view", "view"],
    })
    rows = _run(fold, [pdf], state, key=1)
    assert rows.to_dict("list") == {
        "user_id": [1, 1],
        "stage": [1, 2],
        "stage_name": ["signup", "view"],
        "ts_micros": [_MOON_US, _MOON_US + 1_000_000],
    }
    assert state.get == (2, _MOON_US + 1_000_000)


def test_keep_latest_step_emits_pre_1970_key(monkeypatch):
    """A key whose only event is from 1969 emits it and holds it."""
    from klio_spark.streaming import stateful_keep_latest

    fold = _op_fold(monkeypatch, stateful_keep_latest, idle_timeout_ms=5)
    state = FakeState()
    pdf = pd.DataFrame({"ts": [_MOON], "value": ["eagle"]})
    rows = _run(fold, [pdf], state, key="k")
    assert rows.to_dict("list") == {
        "element": ["k"],
        "latest_ts_micros": [_MOON_US],
        "latest_value": ["eagle"],
    }
    assert state.get == (_MOON_US, "eagle")
    assert state.timeouts == [("duration", 5)]
    # an older 1969 row is absorbed; the tombstone stays -1
    older = pd.DataFrame({"ts": [_MOON - pd.Timedelta(days=1)], "value": ["x"]})
    assert _run(fold, [older], state, key="k") is None
    expired = FakeState(held=state.get, timed_out=True)
    assert _run(fold, [], expired, key="k").to_dict("list") == {
        "element": ["k"], "latest_ts_micros": [-1], "latest_value": [None],
    }
