#!/usr/bin/env python3
"""Closed-loop benchmark of klio_spark: one client, one op at a time.

    python3 perfbench/run.py --workload query-floor --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The benchmark generates its inputs from
``--seed`` under ``.perfbench_tmp/`` in the checkout, starts the
program's own session (``klio_spark.session.get_spark()`` at
``local[$(nproc)]``), warms up with a checking pass and one more, times
whole passes over the workload's ops for ``--seconds``, checks every
output, and prints one JSON object as the last line of stdout; its wall
times are steal-adjusted. ``--trace 1`` instead reports per-layer
metrics and writes spans to ``.perfbench_out/``. See perfbench/README.md for the workloads and
metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _session(work: str, cores: int):
    """The program's session, isolated in ``work``: its own warehouse,
    local dir and temp dir, and ``klio_spark`` importable by workers."""
    for sub in ("warehouse", "local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    import tempfile

    tempfile.tempdir = os.path.join(work, "tmp")
    from klio_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "local"),
            "spark.driver.extraJavaOptions": "-Djava.io.tmpdir="
            + os.path.join(work, "tmp"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark, measure) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until every process the session started has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = measure.descendants(proc.pid) if proc is not None else []
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    finally:  # even if the session could not stop cleanly
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        _reap(measure, kids)


def _reap(measure, kids: list[int]) -> None:
    """Wait for the session's other processes to end; kill stragglers."""
    for pid in measure.wait_gone(kids, timeout=30):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    measure.wait_gone(kids, timeout=10)


def run(args) -> dict:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import klio_spark  # noqa: F401  (fail fast outside a checkout)
    import measure
    import workloads

    wl = workloads.WORKLOADS[args.workload]
    cores = os.cpu_count() or 1
    work = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    tracer = measure.Tracer(bool(args.trace))
    spark = None
    try:
        os.makedirs(work)
        bench = wl(work, args.seed, tracer)
        bench.prepare()  # input generation: outside every metric

        # setup_s: session start plus the warm-up ops; their output
        # checks run outside both clocks
        j0 = measure.host_jiffies()
        with tracer.span("session.start") as sp:
            spark = _session(work, cores)
        start_s = sp.elapsed
        start_steal = measure.steal_share(j0, measure.host_jiffies())
        bench.spark = spark
        tracer.enabled = False  # spans cover the timed passes only
        warm_s, warm_adj = bench.warm_up()
        setup_s = workloads.unstolen(start_s, start_steal) + warm_adj

        rest = None
        if args.trace:
            rest = measure.SparkRest(spark.sparkContext.uiWebUrl,
                                     spark.sparkContext.applicationId)
        result = bench.timed(args.seconds, rest)
    finally:
        try:
            if spark is not None:
                _stop(spark, measure)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            base = os.path.dirname(work)
            if os.path.isdir(base) and not os.listdir(base):
                os.rmdir(base)

    report = bench.report(result, setup_s=setup_s, setup_raw_s=start_s + warm_s,
                          start_s=start_s, warm_s=warm_s, trace=bool(args.trace))
    if args.trace:
        path = os.path.join(ROOT, ".perfbench_out",
                            f"trace-{args.workload}-{args.seed}.json")
        tracer.write(path, {"workload": args.workload, "seed": args.seed,
                            "nproc": cores, "warmup_s": warm_s,
                            "span_median_s": bench.trace_summary(),
                            "self_s": tracer.self_times(),
                            "layers": report["layers"],
                            "extra": bench.trace_extra()})
    return report


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # a terminated run unwinds like a failed one: its session, JVM and
    # workers are stopped and its directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        report = run(args)
    except Exception:  # the run is lost: say why, print no result
        traceback.print_exc()
        return 1
    metrics = report["layers"] if args.trace else report["end_to_end"]
    print("# steadiness " + json.dumps(report["drift"]))
    print(json.dumps({
        "correct": report["correct"],
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
