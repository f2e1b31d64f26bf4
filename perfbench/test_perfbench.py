"""Tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import measure  # noqa: E402
import workloads  # noqa: E402


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        full = os.path.join(path, name)
        if os.path.isdir(full):
            h.update(_digest(full).encode())
        else:
            with open(full, "rb") as f:
                h.update(name.encode() + f.read())
    return h.hexdigest()


def _inputs(root: str, seed: int) -> str:
    gen.write_tables(os.path.join(root, "tables"), seed, sf=0.001)
    ids, done = gen.write_audio_store(root, seed, 12, 3, seconds=0.1)
    gen.write_job_events(os.path.join(root, "ev.txt"),
                         gen.make_job_events(seed, 0, 20, ids, done))
    return _digest(root)


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a = _inputs(str(tmp_path / "a"), 7)
    b = _inputs(str(tmp_path / "b"), 7)
    c = _inputs(str(tmp_path / "c"), 8)
    assert a == b
    assert a != c


def test_tail_reported_only_with_ten_samples_beyond():
    # p90 of n samples has n - ceil(0.9 n) samples above it
    assert not measure.tail_supported(99, 90)
    assert measure.tail_supported(100, 90)
    assert not measure.tail_supported(10, 50)
    assert measure.tail_supported(20, 50)
    assert measure.percentile(list(range(1, 101)), 90) == 90
    assert measure.percentile([3.0, 1.0, 2.0], 50) == 2.0


def test_tree_cpu_counts_reaped_children():
    before = measure.tree_cpu_s()
    t0 = time.perf_counter()
    # a child that burns ~0.5 s of CPU and is reaped by run()
    subprocess.run([sys.executable, "-c",
                    "import time\nt=time.process_time()\n"
                    "while time.process_time()-t<0.5: pass"], check=True)
    wall = time.perf_counter() - t0
    gained = measure.tree_cpu_s() - before
    # this process only waited; the CPU is the reaped child's
    assert gained >= 0.4, (gained, wall)


def test_steal_share_is_relative_to_demand():
    # 30 ticks stolen while the machine ran 270: a tenth of what it wanted
    assert measure.steal_share((100, 1000), (130, 1270)) == 0.1
    assert measure.steal_share((5, 5), (5, 5)) == 0.0  # an idle machine
    steal, busy = measure.host_jiffies()
    assert 0 <= steal and 0 < busy


def test_metrics_are_steal_adjusted():
    w = workloads.Workload("unused", 1, measure.Tracer(False))

    def pas(lat, steal):
        adj = [workloads.unstolen(x, s) for x, s in zip(lat, steal)]
        return {"wall": sum(lat), "wall_adj": sum(adj), "cpu": 1.0, "lat": lat,
                "lat_adj": adj, "steal": max(steal), "items": len(lat)}

    # a region that lost 3/4 of the CPU time it wanted ran 8x as long
    assert workloads.unstolen(8.0, 0.75) == 1.0
    assert workloads.unstolen(8.0, 0.0) == 8.0
    passes = [pas([1.0, 4.0], [0.0, 0.75]), pas([3.0, 8.0], [0.0, 0.75]),
              pas([2.0, 2.0], [0.0, 0.0])]
    rep = w.report({"passes": passes, "overhead_s": 0.0}, setup_s=1.0,
                   setup_raw_s=1.2, start_s=0.5, warm_s=0.7, trace=False)
    e2e = rep["end_to_end"]
    # adjusted pass walls 1.5, 4.0, 4.0 and op latencies 1.0, 0.5, 3.0,
    # 1.0, 2.0, 2.0
    assert e2e["wall_s"][0] == 4.0
    assert e2e["latency_p50_s"][0] == 1.5
    assert e2e["items_per_s"][0] == 0.5
    assert e2e["setup_s"][0] == 1.0
    assert rep["drift"]["raw"]["wall_s"] == 5.0  # as measured


def test_tree_cpu_counts_live_grandchildren():
    before = measure.tree_cpu_s()
    # a grandchild that burns ~0.6 s of CPU, then stays alive unreaped
    p = subprocess.Popen([sys.executable, "-c",
                          "import subprocess,sys\n"
                          "subprocess.run([sys.executable,'-c',"
                          "'import time\\nt=time.process_time()\\n"
                          "while time.process_time()-t<0.6: pass\\n"
                          "time.sleep(3)'])"])
    try:
        time.sleep(1.5)
        assert measure.tree_cpu_s() - before >= 0.4
    finally:
        p.kill()
        p.wait(timeout=10)


class _Sleepy(workloads.Workload):
    """Ops that take 0.05 s, checks that take 0.2 s."""

    def pass_ops(self, k):
        return [1, 2]

    def run_op(self, op):
        time.sleep(0.05)
        return 3

    def check_op(self, op):
        time.sleep(0.2)

    def warm_check(self, op):
        time.sleep(0.2)


def test_checks_and_clean_up_stay_outside_the_clocks():
    w = _Sleepy("unused", 1, measure.Tracer(False))
    spent, spent_adj = w.warm_up()
    assert 0.09 <= spent < 0.3 and spent_adj <= spent  # two ops, not their checks
    p = w._pass(w.pass_ops(0))
    assert 0.09 <= p["wall"] < 0.3 and len(p["lat"]) == 2 and p["items"] == 6
    assert w.attempted == 4 and w.failed == 0


def _wire(element, *, mode="anyone", to=None, ping=False, force=False):
    return {"element": element, "version": 2, "ping": ping, "force": force,
            "recipients_mode": mode, "recipients": to,
            "trigger_children_of": None, "payload_b64": None, "job_audit_log": []}


def test_routing_model_on_hand_checked_events():
    me = {"job_name": gen.JOB_NAME, "project": gen.PROJECT}
    inputs = {"a", "b", "c", "d"}
    outputs = {"c", "d"}
    cases = [
        (_wire("a"), "process"),                          # plain, input present
        (_wire("x"), "not_found"),                        # no input
        (_wire("a", ping=True), "pass_thru"),             # ping skips work
        (_wire("x", ping=True), "pass_thru"),             # even with no input
        (_wire("c"), "pass_thru"),                        # output exists
        (_wire("c", force=True), "process"),              # forced recompute
        (_wire("b", mode="limited", to=[me]), "process"),  # addressed to me
        (_wire("b", mode="limited", to=[gen.OTHER_JOB]), "not_recipient"),
        (_wire("b", mode="limited", to=None), "not_recipient"),
        (_wire("b", mode=None), "not_recipient"),         # null mode drops
    ]
    for wire, want in cases:
        assert gen.route(wire, gen.JOB_NAME, gen.PROJECT, inputs, outputs) == want, wire

    truth = gen.job_truth([{"wire": w} for w, _ in cases], inputs, outputs)
    assert (truth["process"], truth["pass_thru"], truth["not_found"],
            truth["not_recipient"]) == (3, 3, 1, 3)
    assert sum(truth["written"].values()) == 6
    assert truth["written"]["a"] == 2 and truth["written"]["c"] == 2


def test_generated_job_events_cover_every_branch():
    ids, done = [f"track-{i:05d}" for i in range(200)], [f"track-{i:05d}" for i in range(30)]
    evs = gen.make_job_events(3, 0, 300, ids, done)
    truth = gen.job_truth(evs, set(ids), set(done))
    assert all(truth[k] > 0 for k in ("process", "pass_thru", "not_found", "not_recipient"))
    assert len({e["wire"]["element"] for e in evs}) == len(evs)


def test_every_seed_gets_the_same_mix():
    ids, done = [f"track-{i:05d}" for i in range(120)], [f"track-{i:05d}" for i in range(18)]
    assert gen.kind_counts(40) == [16, 4, 4, 4, 4, 4, 4]
    truths = [gen.job_truth(gen.make_job_events(seed, op, 40, ids, done), set(ids), set(done))
              for seed in (1, 2) for op in (0, 5)]
    for key in ("process", "pass_thru", "not_found", "not_recipient"):
        assert len({t[key] for t in truths}) == 1, key
