"""Seeded input generators and the plain-Python ground truth they imply.

Every generator takes a seed and writes only under the directory it is
given; the same seed writes byte-identical files. Nothing here imports
Spark: the job-routing ground truth is plain Python so that the
benchmark's checks never depend on the code they check.
"""

from __future__ import annotations

import io
import json
import os
import wave
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# Query tables: the star schema + events/documents/embeddings the query
# registry reads, with the column types, key ranges and value domains of
# the registry's reference test data. Row counts scale with ``sf``.
# perfbench/compare_tables.py sets them side by side with a reference set.
# --------------------------------------------------------------------------

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_WORDS = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
)
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z in micros
_EPOCH_2024 = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z in micros


def _rng(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, stream), so adding a table or
    a column elsewhere never shifts another table's values."""
    tag = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([seed, tag, len(stream)])


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _pick(rng, choices, n, p=None) -> pa.Array:
    idx = rng.choice(len(choices), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx.astype(np.int32)), pa.array(list(choices))
    ).cast(pa.string())


def make_tables(seed: int, sf: float = 0.1) -> dict[str, pa.Table]:
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))
    n_doc = int(50_000 * sf)
    n_vec = int(20_000 * sf)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    r = _rng(seed, "nation")
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(r.integers(0, 5, 25), pa.int32()),
    })
    r = _rng(seed, "customer")
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(r.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(
            r, ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
            n_cust,
        ),
    })
    r = _rng(seed, "supplier")
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(r.uniform(-999.99, 9999.99, n_supp)),
    })
    r = _rng(seed, "part")
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": _pick(r, names, n_part),
        "p_brand": _pick(r, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(
            r, ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), n_part
        ),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    r = _rng(seed, "orders")
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(r, ("F", "O", "P"), n_ord),
        "o_totalprice": _cents(r.uniform(1000.0, 500_000.0, n_ord)),
        "o_orderdate": _ts(_EPOCH_1995 + r.integers(0, 2405, n_ord) * _DAY_US),
        "o_orderpriority": _pick(
            r, ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), n_ord
        ),
    })
    r = _rng(seed, "lineitem")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _cents(r.uniform(900.0, 105_000.0, n_line)),
        "l_discount": np.round(r.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(r.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": _pick(r, ("A", "N", "R"), n_line),
        "l_linestatus": _pick(r, ("F", "O"), n_line),
        "l_shipdate": _ts(_EPOCH_1995 + (1 + r.integers(0, 2499, n_line)) * _DAY_US),
    })
    r = _rng(seed, "events")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(np.sort(_EPOCH_2024 + r.integers(0, 30 * _DAY_US, n_ev))),
        "user_id": pa.array(r.integers(0, n_users, n_ev), pa.int64()),
        "event_type": _pick(r, ("click", "error", "purchase", "signup", "view"), n_ev),
        "value": _cents(r.exponential(50.0, n_ev)),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    })
    t["documents"] = _documents(seed, n_doc)
    r = _rng(seed, "embeddings")
    label = r.integers(0, 10, n_vec)
    centers = r.normal(0.0, 1.0, (10, 64))
    v = centers[label] + r.normal(0.0, 1.5, (n_vec, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
    return t


def _documents(seed: int, n: int) -> pa.Table:
    """Word-salad documents over a 30-word vocabulary; one in twenty is
    a near-duplicate of an earlier document (its text plus " dup"), the
    population the dedup and MinHash queries look for."""
    r = _rng(seed, "documents")
    texts: list[str] = []
    for i in range(n):
        if i > 20 and r.random() < 0.05:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            k = int(r.integers(10, 101))
            texts.append(" ".join(_WORDS[j] for j in r.integers(0, len(_WORDS), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": _pick(r, ("de", "en", "es", "fr", "zh"), n,
                      p=(0.15, 0.4, 0.15, 0.15, 0.15)),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })


def write_tables(out_dir: str, seed: int, sf: float = 0.1) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# --------------------------------------------------------------------------
# job-audio: synthetic WAVs, JSON-wire event files, and the routing model.
# --------------------------------------------------------------------------

JOB_NAME = "bench-audio"
PROJECT = "perfbench"
OTHER_JOB = {"job_name": "some-other-job", "project": PROJECT}
KINDS = (
    "plain",          # addressed to anyone, input present → processed
    "mine",           # bottom-up, addressed to this job → processed
    "other",          # bottom-up, addressed to another job → dropped
    "ping",           # ping → passes through, no work
    "missing",        # input WAV absent → dropped (not found)
    "done",           # output already exists, not forced → passes through
    "done_force",     # output already exists, forced → processed
)
# The mix is chosen, not measured: no traffic trace of a klio topic is
# available. Plain messages that get processed are the largest share, and
# every other branch gets one message in ten, so each is exercised in
# every op.
_KIND_WEIGHTS = (0.40, 0.10, 0.10, 0.10, 0.10, 0.10, 0.10)


def kind_counts(n_events: int) -> list[int]:
    """Messages of each kind in an op of ``n_events``: the mix's shares,
    rounded, with ``plain`` taking the remainder. Every op, whatever
    its seed, routes the same number of messages down each branch, so
    the seed changes which tracks and in what order, not how much work."""
    counts = [round(w * n_events) for w in _KIND_WEIGHTS]
    counts[0] = n_events - sum(counts[1:])
    if counts[0] < 0:
        raise ValueError(f"{n_events} events are too few for the mix")
    return counts


def wav_bytes(rng: np.random.Generator, seconds: float = 2.0, sr: int = 16_000) -> bytes:
    """A mono PCM16 WAV: a few sine partials plus noise."""
    t = np.arange(int(seconds * sr)) / sr
    y = 0.05 * rng.normal(size=t.size)
    for f in rng.uniform(80.0, 4000.0, 3):
        y += 0.25 * np.sin(2 * np.pi * f * t)
    pcm = np.clip(y * 0.8 * 32767, -32768, 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes(pcm.tobytes())
    return buf.getvalue()


def write_audio_store(
    root: str, seed: int, n_tracks: int, n_done: int, seconds: float = 2.0
) -> tuple[list[str], list[str]]:
    """``root/audio/<id>.wav`` for every track and an already-processed
    marker ``root/done/<id>.npy`` for the first ``n_done`` tracks.
    Returns (track ids, done ids)."""
    r = _rng(seed, "wavs")
    os.makedirs(os.path.join(root, "audio"), exist_ok=True)
    os.makedirs(os.path.join(root, "done"), exist_ok=True)
    ids = [f"track-{i:05d}" for i in range(n_tracks)]
    for tid in ids:
        with open(os.path.join(root, "audio", f"{tid}.wav"), "wb") as f:
            f.write(wav_bytes(r, seconds))
    done = ids[:n_done]
    for tid in done:
        with open(os.path.join(root, "done", f"{tid}.npy"), "wb") as f:
            f.write(b"\0")
    return ids, done


def make_job_events(
    seed: int, op: int, n_events: int, ids: list[str], done: list[str]
) -> list[dict]:
    """One op's events: each a JSON-wire message as `klio message
    publish` writes it, plus its ``kind`` (kept out of the wire).
    Elements are unique within an op, so every output multiset is a set
    of distinct elements and feature rows equal processed elements."""
    r = _rng(seed, f"jobev{op}")
    me = {"job_name": JOB_NAME, "project": PROJECT}
    done_set = set(done)
    fresh = [t for t in ids if t not in done_set]
    r.shuffle(fresh)
    done_pool = list(done)
    r.shuffle(done_pool)
    kinds = np.repeat(np.arange(len(KINDS)), kind_counts(n_events))
    r.shuffle(kinds)
    events = []
    for j, k in enumerate(kinds):
        kind = KINDS[k]
        if kind == "missing":
            element = f"absent-{op}-{j}"
        elif kind in ("done", "done_force") and done_pool:
            element = done_pool.pop()
        elif fresh:
            element = fresh.pop()
        else:
            kind, element = "missing", f"absent-{op}-{j}"
        limited = kind in ("mine", "other")
        target = OTHER_JOB if kind == "other" else me
        events.append({
            "kind": kind,
            "wire": {
                "element": element,
                "payload_b64": None,
                "version": 2,
                "force": kind == "done_force",
                "ping": kind == "ping",
                "recipients_mode": "limited" if limited else "anyone",
                "recipients": [target] if limited else None,
                "trigger_children_of": target if limited else None,
                "job_audit_log": [],
            },
        })
    return events


def write_job_events(path: str, events: list[dict]) -> None:
    with open(path, "w") as f:
        for ev in events:
            f.write(json.dumps(ev["wire"]) + "\n")


def route(
    wire: dict, job: str, project: str, input_ids: set, output_ids: set
) -> str:
    """Where one message goes in the klio prologue, from its wire fields
    alone: ``not_recipient`` / ``pass_thru`` / ``not_found`` /
    ``process``. Order: recipients → ping → output-exists → force →
    input-exists (klio's run.py prologue)."""
    me = {"job_name": job, "project": project}
    mode = wire.get("recipients_mode")
    if mode != "anyone" and not (mode == "limited" and me in (wire.get("recipients") or [])):
        return "not_recipient"
    if wire.get("ping"):
        return "pass_thru"
    el = wire["element"]
    if el in output_ids and not wire.get("force"):
        return "pass_thru"
    if el not in input_ids:
        return "not_found"
    return "process"


def job_truth(events: list[dict], input_ids: set, output_ids: set) -> dict:
    """Branch counts, and the processed and written element multisets,
    for one op."""
    routes = [route(e["wire"], JOB_NAME, PROJECT, input_ids, output_ids)
              for e in events]
    branches = Counter(routes)
    return {
        "rows_in": len(events),
        "process": branches["process"],
        "pass_thru": branches["pass_thru"],
        "not_found": branches["not_found"],
        "not_recipient": branches["not_recipient"],
        "processed": Counter(e["wire"]["element"] for e, r in zip(events, routes)
                             if r == "process"),
        "written": Counter(e["wire"]["element"] for e, r in zip(events, routes)
                           if r in ("process", "pass_thru")),
    }
