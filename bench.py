#!/usr/bin/env python
"""Benchmark harness: run the declared queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced with a noop write (full computation, no driver
collect cost). A -1 value means the query errored. The full record goes
to BENCH_LOCAL.json in the working directory (a run naming queries
refreshes only their entries). Its "layers" map holds, per query, the
min-wall rep's build_s (spec.fn) and exec_s (the write), which add up
to its wall time (to rounding), and that rep's own jobs, stages, tasks,
task_run_s (= core_sec), task_cpu_s, shuffle_read_bytes,
shuffle_write_bytes and spill_bytes.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Host-drift normalization: five FROZEN control queries spanning the
# engine's cost families (scan+agg, percentile window, cogroup pandas
# UDAF, join+sort-limit, time bucketing), none touched since round 2.
# Reference times are the official round-5 record (BENCH_r05.json —
# BASELINE.md names it the round-6 normalization base) on the round-5
# driver host. control_ratio = median(now/ref) measures the HOST, not
# the code — per-query round-over-round comparisons should divide by
# it (round 4 burned judge time proving a ×2 "regression" was neighbor
# load; this makes the ledger prove it itself). Controls run in every
# invocation, including --only subsets.
#
# FROZEN means frozen: tests/test_bench_controls.py pins these names,
# these reference seconds, AND each control query's normalized plan
# fingerprint — an optimization (or any plan-shape change) to a
# control fails loudly there instead of silently skewing every
# normalized comparison.
_CONTROLS = {
    "q01_pricing_summary": 0.738,
    "q07_median_percentile": 1.264,
    "q13_cogroup_counts": 0.376,
    "q23_top_items_global": 0.223,
    "q50_events_hourly": 0.265,
}


def _rep_layers(spark, group: str) -> dict | None:
    """Job, stage and task totals of one rep: the jobs of job group
    `group` (status tracker) and their stages (the driver's REST API,
    one small request per stage), read after the rep, outside the timed
    region. Only the rep's own stages are fetched, so the read does not
    grow with the run. A stage counts once, however many of the rep's
    jobs list it, and only the attempts that ran (COMPLETE or FAILED).
    `task_run_s` sums their executorRunTime: the executor core time of
    the rep, reported as `core_sec` (the 100 TB cluster bill, immune to
    the wall clock's idle-core subsidies). None when a read fails."""
    import urllib.error
    import urllib.request

    try:
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/stages"
        ran = []
        for sid in sorted(stage_ids):
            url = f"{base}/{sid}?details=false"
            try:
                with urllib.request.urlopen(url, timeout=5) as r:
                    ran += [a for a in json.loads(r.read())
                            if a["status"] in ("COMPLETE", "FAILED")]
            except urllib.error.HTTPError as e:
                # at spark.ui.retainedStages the status store evicts
                # SKIPPED stages first: a stage it no longer holds
                # did not run
                if e.code != 404:
                    raise
    except Exception as e:
        print(f"# LAYERS {group} unread: {e!r}", file=sys.stderr)
        return None

    def total(field: str) -> int:
        return sum(a.get(field) or 0 for a in ran)

    return {
        "jobs": len(jobs),
        "stages": len(ran),
        "tasks": total("numCompleteTasks"),
        "task_run_s": round(total("executorRunTime") / 1e3, 3),
        "task_cpu_s": round(total("executorCpuTime") / 1e9, 3),
        "shuffle_read_bytes": total("shuffleReadBytes"),
        "shuffle_write_bytes": total("shuffleWriteBytes"),
        "spill_bytes": total("diskBytesSpilled"),
    }


def _record_layers(
    core_sec: dict[str, float], layers: dict[str, dict], name: str,
    build_s: float, exec_s: float, rep: dict | None,
) -> None:
    """Keep the new best rep's layer record, and its task run time as
    `core_sec`. When that rep's read failed, drop both: an earlier
    rep's record would no longer match the wall time reported beside
    it."""
    if rep is None:
        core_sec.pop(name, None)
        layers.pop(name, None)
    else:
        layers[name] = {"build_s": build_s, "exec_s": exec_s, **rep}
        core_sec[name] = rep["task_run_s"]


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Python workers import klio_spark too, whatever the working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [os.path.dirname(os.path.abspath(__file__))]
        + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )

    from klio_spark.queries import all_queries, release_scoped_caches
    from klio_spark.session import get_spark

    spark = get_spark("klio-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    # warm up: one-time session costs land here instead of inside the
    # first queries' timings — JVM + codegen, parquet footer reads, the
    # Python/Arrow UDF worker pool, and the broadcast-exchange machinery
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1).collect()
    _inc = pandas_udf(lambda s: s + 1, "long")
    _inc.__wrapped__.__annotations__ = {"s": pd.Series, "return": pd.Series}
    a = spark.range(100).withColumn("v", _inc(F.col("id")))
    a.join(F.broadcast(spark.range(10)), "id").groupBy().sum("v").collect()

    specs = all_queries()
    only = set(sys.argv[1:])
    # min over reps: per-query steady-state time. The shared host this
    # runs on shows multi-second noise spikes on single runs; the min of
    # two back-to-back runs measures the engine, not the neighbors.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2")))
    timings: dict[str, float] = {}
    core_sec: dict[str, float] = {}
    layers: dict[str, dict] = {}
    run_set = (only | set(_CONTROLS)) if only else only
    for name, spec in sorted(specs.items()):
        if run_set and name not in run_set:
            continue
        best = None
        for rep in range(reps):
            if name in _CONTROLS:
                # the frozen host-drift meters must run under the SAME
                # engine conditions as their round-5 reference times,
                # or control_ratio starts measuring the code instead
                # of the host: the round-11 schema memo
                # (queries/__init__.load) cuts ~60-90 ms of per-load
                # inference that the reference numbers still include —
                # on a 0.2 s control that is a 35% code-made "speedup"
                # silently deflating the ratio. Clear the memo per rep
                # so every control rep re-infers, exactly like round 5.
                from klio_spark.queries import _SCHEMA_MEMO

                _SCHEMA_MEMO.clear()
            # tag the rep's jobs so its layers can be read back alone
            group = f"bench-{name}-{rep}"
            spark.sparkContext.setJobGroup(group, group)
            t0 = time.perf_counter()
            try:
                df = spec.fn(spark, sf_dir)
                t1 = time.perf_counter()
                df.write.mode("overwrite").format("noop").save()
                t2 = time.perf_counter()
                dt = round(t2 - t0, 3)
                if best is None or 0 < dt < best:
                    best = dt
                    # layers of the rep that produced the reported wall
                    # time (a matched record); the reads sit outside the
                    # t0..t2 bracket
                    _record_layers(
                        core_sec, layers, name, round(t1 - t0, 3),
                        round(t2 - t1, 3), _rep_layers(spark, group),
                    )
            except Exception as e:
                print(f"# ERROR {name}: {e}", file=sys.stderr)
                best = best if best is not None and best > 0 else -1.0
                break
            finally:
                # queries are independent: drop persisted intermediates
                # (dedup caches etc.) so storage from earlier queries
                # can't skew or starve later ones. clearCache misses
                # localCheckpoint blocks (the iterative fixpoint queries'
                # lineage truncation) — those free only when the last
                # py4j reference dies, so force a collection or their
                # storage accumulates across the ~240 query executions
                # and later persists thrash against a full store.
                # release_scoped_caches also drops the registry's own
                # references to the query's scoped_persist frames.
                release_scoped_caches()
                spark.catalog.clearCache()
                gc.collect()
        timings[name] = best
    total = round(sum(t for t in timings.values() if t > 0), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # host-drift factor: median over the frozen controls of now/ref.
    # >1 = today's host is slower than the round-4 reference host;
    # value_host_normalized puts totals on the reference-host scale.
    ratios = sorted(
        timings[c] / ref
        for c, ref in _CONTROLS.items()
        if timings.get(c, -1) > 0
    )
    control_ratio = (
        round(ratios[len(ratios) // 2], 3) if ratios else None
    )
    full = {
        "metric": "declared_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        # additive (VERDICT r10 item 8): executor task-time of the
        # min-wall rep per query — the 100 TB cluster bill, immune to
        # the wall-clock's idle-core subsidies
        "core_sec": core_sec,
        "core_sec_total": round(
            sum(v for v in core_sec.values() if v > 0), 3
        ),
        # per query, the min-wall rep's layers: plan building (spec.fn)
        # vs execution (the noop write) wall time, and its own Spark
        # jobs, stages and tasks (_rep_layers)
        "layers": layers,
        "reps": reps,
        "agg": "min",
        "sf": sf_val,
        "controls": {c: timings.get(c) for c in _CONTROLS},
        "controls_ref": _CONTROLS,
        "control_ratio": control_ratio,
        "value_host_normalized": (
            round(total / control_ratio, 3) if control_ratio else None
        ),
    }
    # The driver captures only the tail of stdout (~2 KB): round 2's single
    # full-map line got head-truncated and parsed as null. Persist the full
    # per-query map to a file, and print a compact summary line LAST —
    # total + top-10 slowest — guaranteed under the capture window.
    local = "BENCH_LOCAL.json"  # in the working directory
    if only and os.path.exists(local):
        # subset run: refresh only the measured entries — don't clobber
        # the last full map (the round ledger compares against it)
        try:
            with open(local) as f:
                merged = json.load(f)
            merged["queries"].update(timings)
            merged["value"] = round(
                sum(t for t in merged["queries"].values() if t > 0), 3
            )
            for key, fresh in (("core_sec", core_sec), ("layers", layers)):
                # a measured query whose read failed drops its old entry
                kept = merged.setdefault(key, {})
                for q in timings:
                    kept.pop(q, None)
                kept.update(fresh)
            merged["core_sec_total"] = round(
                sum(v for v in merged["core_sec"].values() if v > 0), 3
            )
            # controls were re-measured this run — refresh the host
            # factor and re-normalize the merged total with it
            for k in (
                "controls", "controls_ref", "control_ratio",
            ):
                merged[k] = full[k]
            merged["value_host_normalized"] = (
                round(merged["value"] / full["control_ratio"], 3)
                if full["control_ratio"]
                else None
            )
            full = merged
        except (json.JSONDecodeError, KeyError) as e:
            # a corrupt ledger must NOT be silently replaced by a partial
            # map (an --only run's `full` holds placeholders for every
            # unmeasured query) — fail loudly and keep the file untouched
            print(
                f"# FATAL: {local} unreadable in subset run ({e}); "
                "refusing to overwrite the full ledger with a partial map",
                file=sys.stderr,
            )
            return 1
    with open(local, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
    top10 = dict(
        sorted(((k, v) for k, v in timings.items() if v > 0),
               key=lambda kv: -kv[1])[:10]
    )
    # same record as BENCH_LOCAL.json, with the query map truncated to the
    # top-10 so the line stays inside the driver's ~2 KB stdout capture
    print(
        json.dumps(
            {
                **{k: v for k, v in full.items() if k != "layers"},
                "queries": top10,
                # truncate to the same top-10 keys: the full 255-entry
                # map lives in BENCH_LOCAL.json; the printed line must
                # stay inside the driver's ~2 KB stdout capture
                "core_sec": {
                    k: full["core_sec"].get(k) for k in top10
                    if k in full["core_sec"]
                },
                "n_queries": len(timings),
                "n_errors": sum(1 for t in timings.values() if t <= 0),
                "full_map": "BENCH_LOCAL.json",
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
