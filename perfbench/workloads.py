"""The benchmark's workloads. Each is a closed loop from one client: one
op at a time on one session, timed from outside by calls into the
program's public functions.

A workload generates its inputs (``prepare``), warms up (``warm_up``,
which also checks outputs), then runs whole passes of ops for the timed
phase (``timed``). A pass is a fixed list of ops whose order the seed
sets. Outputs are checked outside every timed region.
"""

from __future__ import annotations

import datetime
import decimal
import gc
import hashlib
import math
import os
import random
import statistics
import time
from collections import Counter

import numpy as np
import pandas as pd

import gen
import measure

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# Every timed region is reported steal-adjusted with this exponent (see
# ``unstolen`` and perfbench/README.md).
STEAL_EXPONENT = 1.5


def unstolen(seconds: float, share: float) -> float:
    """``seconds`` of a region during which the hypervisor gave ``share``
    of the CPU time the machine wanted to someone else, scaled to a host
    that steals nothing."""
    return seconds * (1.0 - share) ** STEAL_EXPONENT


class CheckFailed(Exception):
    """An op's output differs from its ground truth."""


class Workload:
    """Shared pass loop, timing and reporting. Subclasses define
    ``prepare``, ``pass_ops``, ``run_op`` and ``check_op``; the runner
    sets ``spark`` once the session is up."""

    WARM_PASSES = 1
    # The timed phase runs at least this many passes, so that every run's
    # medians are taken over the same points of the warm-up slope.
    MIN_PASSES = 2

    def __init__(self, work: str, seed: int, tracer: measure.Tracer):
        self.work, self.seed, self.tracer = work, seed, tracer
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.op_stats: list[dict] = []

    # -- subclass hooks -------------------------------------------------
    def prepare(self) -> None:
        raise NotImplementedError

    def pass_ops(self, k: int) -> list:
        raise NotImplementedError

    def run_op(self, op) -> int:
        """Run one op inside the timed region; return items completed."""
        raise NotImplementedError

    def check_op(self, op) -> None:
        """Untimed output check of the op just run; raise CheckFailed."""

    def after_op(self, op) -> None:
        """Untimed clean-up between ops: collect the driver's garbage, so
        that py4j references an op dropped are released before the next
        op is timed instead of during it."""
        gc.collect()

    def warm_check(self, op) -> None:
        """Extra untimed checks made once per distinct op during warm-up."""

    # -- loop -----------------------------------------------------------
    def _guarded(self, op, fn) -> bool:
        """Call ``fn``. An exception counts ``op`` as failed; a failed
        check also marks the run incorrect."""
        try:
            fn()
            return True
        except CheckFailed as e:
            print(f"# check failed on {op!r}: {e}", flush=True)
            self.correct = False
        except Exception as e:  # an op that raises counts as failed
            print(f"# op {op!r} raised {type(e).__name__}: {str(e)[:500]}", flush=True)
        self.failed += 1
        return False

    def _one(self, op, rest=None) -> dict | None:
        """Run one op. Only ``run_op`` is inside the clock and the CPU
        reading; clean-up and the output check run after both stop."""
        self.attempted += 1
        self.tracer.op = self.attempted
        got = {}

        def go():
            cpu0 = measure.tree_cpu_s()
            j0 = measure.host_jiffies()
            t0 = time.perf_counter()
            with self.tracer.span("op"):
                got["items"] = self.run_op(op)
            got["dt"] = time.perf_counter() - t0
            got["jiffies"] = (j0, measure.host_jiffies())
            got["steal"] = measure.steal_share(*got["jiffies"])
            got["cpu"] = measure.tree_cpu_s() - cpu0
            self.after_op(op)
            self.check_op(op)

        if not self._guarded(op, go):
            return None
        if rest is not None:
            self.op_stats.append({"op": op, "latency": got["dt"], **rest.since_mark()})
        return got

    def _pass(self, ops: list, rest=None) -> dict:
        """One pass; its wall and CPU seconds are the sums over its ops'
        timed regions, its steal share that of their ticks together."""
        lat, adj, cpu, items = [], [], 0.0, 0
        stolen = wanted = 0
        for op in ops:
            got = self._one(op, rest)
            if got is not None:
                lat.append(got["dt"])
                adj.append(unstolen(got["dt"], got["steal"]))
                j0, j1 = got["jiffies"]
                stolen += j1[0] - j0[0]
                wanted += j1[0] - j0[0] + j1[1] - j0[1]
                cpu += got["cpu"]
                items += got["items"]
        return {"wall": sum(lat), "wall_adj": sum(adj), "cpu": cpu, "lat": lat,
                "lat_adj": adj, "steal": stolen / wanted if wanted else 0.0,
                "items": items}

    def warm_up(self) -> tuple[float, float]:
        """The warm-up: ``WARM_PASSES`` passes, the first of which checks
        every op's output in full. Returns the seconds their ops took,
        checks excluded, as measured and steal-adjusted."""
        spent = spent_adj = 0.0
        for w in range(self.WARM_PASSES):
            for op in self.pass_ops(-1 - w):
                got = self._one(op)
                if got is not None:
                    spent += got["dt"]
                    spent_adj += unstolen(got["dt"], got["steal"])
                    if w == 0:
                        self._guarded(op, lambda: self.warm_check(op))
        return spent, spent_adj

    def timed(self, seconds: float, rest) -> dict:
        """Whole passes until ``seconds`` have gone by and ``MIN_PASSES``
        have run. With ``rest`` (the traced run) every pass runs twice,
        traced and untraced, in alternating order; the wall-time
        difference is the tracing overhead, and only the traced copies
        feed the per-layer metrics."""
        passes, overhead = [], 0.0
        t_start = time.perf_counter()
        k = 0
        while True:
            ops = self.pass_ops(k)
            for traced in ((None,) if rest is None
                           else (True, False) if k % 2 == 0 else (False, True)):
                if traced is not None:
                    self.tracer.enabled = traced
                    rest.mark()
                p = self._pass(ops, rest if traced else None)
                if traced is None:
                    passes.append(p)
                else:
                    overhead += p["wall"] if traced else -p["wall"]
                    if traced:
                        passes.append(p)
                        self.traced_pass(ops)
            self.tracer.enabled = rest is not None
            k += 1
            if time.perf_counter() - t_start >= seconds and k >= self.MIN_PASSES:
                break
        return {"passes": passes, "overhead_s": overhead}

    def traced_pass(self, ops: list) -> None:
        """Extra untimed per-layer probes after a traced pass."""

    # -- report ---------------------------------------------------------
    def report(self, result: dict, *, setup_s: float, setup_raw_s: float,
               start_s: float, warm_s: float, trace: bool) -> dict:
        """End-to-end metrics, steal-adjusted (``unstolen``); ``setup_s``
        arrives so. The values as measured go to the steadiness line with
        process-tree CPU seconds."""
        passes = [p for p in result["passes"] if p["lat"]]  # an op completed
        if not passes:
            raise RuntimeError("no op completed in the timed phase")
        lat = [x for p in passes for x in p["lat_adj"]]
        e2e = {
            "setup_s": (setup_s, "s"),
            "wall_s": (statistics.median(p["wall_adj"] for p in passes), "s"),
            "latency_p50_s": (statistics.median(lat), "s"),
            "items_per_s": (statistics.median(
                p["items"] / p["wall_adj"] for p in passes), "1/s"),
        }
        every = [x for p in passes for x in p["lat"]]
        raw = {
            "setup_s": setup_raw_s,
            "wall_s": statistics.median(p["wall"] for p in passes),
            "cpu_s": statistics.median(p["cpu"] for p in passes),
            "latency_p50_s": statistics.median(every),
            "items_per_s": statistics.median(p["items"] / p["wall"] for p in passes),
        }
        half = len(passes) // 2
        drift = {
            "passes": len(passes),
            "ops": len(every),
            "warmup_s": round(warm_s, 3),
            "raw": {k: round(v, 4) for k, v in raw.items()},
            "pass_wall_s": [round(p["wall"], 3) for p in passes],
            "pass_steal": [round(p["steal"], 3) for p in passes],
            "pass_cpu_s": [round(p["cpu"], 2) for p in passes],
            "latency_p90_s": (
                measure.percentile(lat, 90)
                if measure.tail_supported(len(lat), 90) else None
            ),
        }
        if len(lat) >= 2:
            drift["drift.latency_p50_s"] = measure.drift(
                lat[:len(lat) // 2], lat[len(lat) // 2:])
        if half:
            first, second = passes[:half], passes[half:]
            for name, key in (("wall_s", "wall_adj"), ("cpu_s", "cpu")):
                drift[f"drift.{name}"] = measure.drift(
                    [p[key] for p in first], [p[key] for p in second])
            drift["drift.items_per_s"] = measure.drift(
                [p["items"] / p["wall_adj"] for p in first],
                [p["items"] / p["wall_adj"] for p in second])
        layers = {}
        if trace:
            layers = self._layers(result, start_s)
        return {
            "correct": self.correct and self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "end_to_end": e2e,
            "layers": layers,
            "drift": drift,
        }

    def _layers(self, result: dict, start_s: float) -> dict:
        st = self.op_stats
        n = max(len(st), 1)

        def med(key):
            return statistics.median(s[key] for s in st) if st else 0.0

        def mean(key):
            return sum(s[key] for s in st) / n

        out = {
            "session.start_s": (start_s, "s"),
            "spark.jobs_per_op": (med("jobs"), "count"),
            "spark.stages_per_op": (med("stages"), "count"),
            "spark.tasks_per_op": (med("tasks"), "count"),
            "spark.task_run_s": (mean("task_run_s"), "s"),
            "spark.task_cpu_s": (mean("task_cpu_s"), "s"),
            "spark.shuffle_read_bytes": (mean("shuffle_read_bytes"), "bytes"),
            "spark.shuffle_write_bytes": (mean("shuffle_write_bytes"), "bytes"),
            "trace.overhead_s": (result["overhead_s"], "s"),
        }
        return out

    def trace_extra(self) -> dict:
        """Layer detail for the trace file: Spark's GC and spill time per
        op (0 on most ops, so not per-layer metrics), plus what the
        workload adds."""
        n = max(len(self.op_stats), 1)
        return {f"spark.{k}": sum(s[k] for s in self.op_stats) / n
                for k in ("gc_s", "spill_bytes")}

    def trace_summary(self) -> dict:
        """Per span name: median duration per op, for the trace file."""
        spans: dict[str, list[float]] = {}
        for s in self.tracer.spans:
            spans.setdefault(s["name"], []).append(s["end"] - s["start"])
        return {f"{name}_s": statistics.median(ds) for name, ds in sorted(spans.items())}


# ==========================================================================
# query-floor / query-heavy: registry queries forced with the noop sink
# ==========================================================================

# The per-query execution floor (ROADMAP D2): one sub-second registry
# query with a DuckDB oracle from each of ten query modules, fixed by
# name. The curation, maintenance and sketches modules sit out: their
# cheapest floor queries take 0.3-0.7 s against 0.1-0.3 s for these, and
# every query here is paid for again in each run's checking pass.
FLOOR = (
    "q55_above_group_avg",        # advanced
    "q145_scd2_intervals",        # behavior
    "q224_cohen_kappa",           # dataqual
    "q81_recipients_routing",     # envelope_ops
    "q48_string_agg",             # extra
    "q11_anti_join",              # relational
    "q46_calendar_funcs",         # scalars2
    "q63_fingerprint",            # textops
    "q86_hash_split",             # training
    "q73_vector_norms_by_label",  # vector_ops
)

# The graph and dedup heavies (ROADMAP D3).
HEAVY = (
    "q214_common_neighbors", "q160_triangle_count", "q106_minhash_lsh_recall",
    "q215_k_core", "q266_trigram_lm", "q133_dedup_survivors",
    "q66_minhash_lsh_dedup",
)


def _canon_cell(v) -> str:
    """The strict canon of tools/driver_check.py: int64 1234 and float64
    1234.0 differ; NaN, NaT and None are all NULL."""
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, float) and math.isnan(v):
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (np.integer, int)):
        return str(int(v))
    if isinstance(v, (np.floating, float)):
        return repr(float(v))
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon_cell(x) for x in list(v)) + "]"
    return str(v)


def frame_hash(df: pd.DataFrame) -> str:
    """Order-insensitive hash of a frame's rows under the strict canon."""
    cols = sorted(df.columns)
    rows = sorted("|".join(_canon_cell(v) for v in r)
                  for r in df[cols].itertuples(index=False, name=None))
    h = hashlib.sha256("\x1f".join(cols).encode())
    for r in rows:
        h.update(b"\x1e" + r.encode())
    return h.hexdigest()


class QueryWorkload(Workload):
    names: tuple = ()

    def prepare(self) -> None:
        self.data = os.path.join(self.work, "data")
        gen.write_tables(self.data, self.seed)
        from klio_spark.queries import all_queries

        self.specs = all_queries()
        self.exec_s: dict[str, list[float]] = {}
        missing = [n for n in self.names if n not in self.specs]
        if missing:
            raise KeyError(f"queries not in the registry: {missing}")

    def pass_ops(self, k: int) -> list:
        order = list(self.names)
        random.Random(f"{self.seed}/{k}").shuffle(order)
        return order

    def _release(self) -> None:
        """What bench.py does between queries: drop the query's caches."""
        from klio_spark.queries import release_scoped_caches

        release_scoped_caches()
        self.spark.catalog.clearCache()

    def run_op(self, name: str) -> int:
        with self.tracer.span("queries.build"):
            df = self.specs[name].fn(self.spark, self.data)
        with self.tracer.span("queries.exec") as sp:
            df.write.mode("overwrite").format("noop").save()
        if self.tracer.enabled:
            self.exec_s.setdefault(name, []).append(sp.elapsed)
        return 1

    def after_op(self, name: str) -> None:
        self._release()
        super().after_op(name)

    def warm_check(self, name: str) -> None:
        """Rows of the query against its DuckDB oracle over the same
        parquet; a row count only where the registry has no oracle."""
        import duckdb

        spec = self.specs[name]
        got = spec.fn(self.spark, self.data).toPandas()
        self._release()
        if spec.sql is None:
            return
        con = duckdb.connect()
        try:
            for t in gen.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(self.data, t)}.parquet'")
            want = con.execute(spec.sql).df()
        finally:
            con.close()
        if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
            raise CheckFailed(f"{name}: {sorted(got.columns)} x {len(got)} rows, "
                              f"oracle {sorted(want.columns)} x {len(want)} rows")
        if frame_hash(got) != frame_hash(want):
            raise CheckFailed(f"{name}: rows differ from the oracle")

    def trace_extra(self) -> dict:
        """Per query: median exec time and task CPU over traced ops."""
        per: dict[str, dict[str, list]] = {}
        for st in self.op_stats:
            d = per.setdefault(st["op"], {"exec_s": [], "task_cpu_s": []})
            d["task_cpu_s"].append(st["task_cpu_s"])
        for name, ds in self.exec_s.items():
            per[name]["exec_s"] = ds
        out = super().trace_extra()
        out.update({f"queries.{q}.{k}": statistics.median(v)
                    for q, d in sorted(per.items()) for k, v in d.items() if v})
        return out


class QueryFloor(QueryWorkload):
    names = FLOOR
    # A floor pass is still 15-35% slower at the second pass of a run
    # than at the third (the JVM's JIT); a second, unchecked warm-up pass
    # keeps that pass out of the timed ones.
    WARM_PASSES = 2


class QueryHeavy(QueryWorkload):
    names = HEAVY


# ==========================================================================
# job-audio: in-process `klio job run` over examples/audio-features
# ==========================================================================

JOB_YAML = """\
job_name: {job}
project: {project}
job_config:
  events:
    inputs:
      - type: file
        location: events/$OP.txt
        wire: true
    outputs:
      - type: file
        location: out/$OP
  data:
    inputs:
      - type: file
        location: audio
        file_suffix: .wav
    outputs:
      - type: file
        location: done
        file_suffix: .npy
"""


class JobAudio(Workload):
    # The second op of a run is still 10-25% slower than the third, with
    # the JVM's JIT compiler busy on most of a core; a second warm-up op
    # keeps it out of the timed ones.
    WARM_PASSES = 2
    N_TRACKS = 120
    N_DONE = 18
    N_EVENTS = 40
    WAV_SECONDS = 1.0

    def prepare(self) -> None:
        self.job_dir = os.path.join(self.work, "job")
        os.makedirs(os.path.join(self.job_dir, "events"))
        self.ids, self.done = gen.write_audio_store(
            self.job_dir, self.seed, self.N_TRACKS, self.N_DONE, self.WAV_SECONDS)
        self.config_path = os.path.join(self.job_dir, "klio-job.yaml")
        with open(self.config_path, "w") as f:
            f.write(JOB_YAML.format(job=gen.JOB_NAME, project=gen.PROJECT))
        self.events: dict[int, list[dict]] = {}
        self.truth: dict[int, dict] = {}
        self.seen: dict[int, dict] = {}

    def pass_ops(self, k: int) -> list:
        """One op per pass, on a fresh seeded event file: every ``klio job
        run`` reads new events. The warm-up pass (k < 0) gets its own."""
        evs = gen.make_job_events(self.seed, k, self.N_EVENTS, self.ids, self.done)
        gen.write_job_events(os.path.join(self.job_dir, "events", f"op{k}.txt"), evs)
        self.events[k] = evs
        self.truth[k] = gen.job_truth(evs, set(self.ids), set(self.done))
        return [k]

    def _config(self, k: int):
        from klio_spark import cli

        return cli._build(self.config_path, templates=[f"OP=op{k}"])

    def run_op(self, k: int) -> int:
        from klio_spark import cli
        from klio_spark.operators import run_pipeline
        from klio_spark.sinks import write_event_output
        from klio_spark.sources import read_event_input

        tr = self.tracer
        with tr.span("config.load"):
            spark, config = self._config(k)
        user_run = cli._load_user_run(os.path.join(ROOT, "examples", "audio-features"))

        def traced_run(df, cfg):
            with tr.span("audio.exec"):
                return user_run(df, cfg)

        with tr.span("sources.read"):
            events = read_event_input(spark, config.event_inputs[0])
        with tr.span("operators.run_pipeline"):
            out = run_pipeline(events, config, traced_run, spark)
        with tr.span("sinks.write"):
            write_event_output(out, config.event_outputs[0])
        return len(self.events[k])

    def check_op(self, k: int) -> None:
        import pyarrow.parquet as pq

        truth = self.truth[k]
        out = os.path.join(self.job_dir, "out", f"op{k}")
        written: Counter = Counter()
        for name in os.listdir(out):
            if name.startswith("part-"):
                with open(os.path.join(out, name)) as f:
                    written.update(line.rstrip("\n") for line in f)
        feats = Counter(pq.read_table(out + "_features", columns=["element"])
                        .column("element").to_pylist())
        self.seen.setdefault(k, {}).update(written=sum(written.values()),
                                         features=sum(feats.values()))
        if written != truth["written"]:
            raise CheckFailed(f"op {k}: {sum(written.values())} elements written, "
                              f"truth {sum(truth['written'].values())}")
        if feats != truth["processed"]:
            raise CheckFailed(f"op {k}: {sum(feats.values())} feature rows, "
                              f"truth {truth['process']}")

    def branch_counts(self, k: int) -> dict:
        """Rows in each prologue branch over op ``k``'s events, counted
        by Spark in one job outside the timed region."""
        from pyspark.sql import functions as F

        from klio_spark.operators import setup_prologue
        from klio_spark.sources import read_event_input

        spark, config = self._config(k)
        events = read_event_input(spark, config.event_inputs[0])
        pro = setup_prologue(events, config, spark)
        branches = [("rows_in", events), ("process", pro.process),
                    ("pass_thru", pro.pass_thru), ("not_found", pro.not_found)]
        tagged = None
        for name, df in branches:
            one = df.select(F.lit(name).alias("branch"))
            tagged = one if tagged is None else tagged.unionByName(one)
        got = dict.fromkeys((name for name, _ in branches), 0)
        got.update({r["branch"]: r["count"]
                    for r in tagged.groupBy("branch").count().collect()})
        got["not_recipient"] = (got["rows_in"] - got["process"]
                                - got["pass_thru"] - got["not_found"])
        return got

    def warm_check(self, k: int) -> None:
        got, truth = self.branch_counts(k), self.truth[k]
        self.seen[k].update(got)
        for key, n in got.items():
            if n != truth[key]:
                raise CheckFailed(f"op {k}: {key} {n}, truth {truth[key]}")

    def traced_pass(self, ops: list) -> None:
        # the branch counts Spark sees, checked against the generator
        for k in ops:
            self._guarded(k, lambda: self.warm_check(k))

    def trace_extra(self) -> dict:
        """Per traced op, medians of what Spark produced: the prologue's
        branch counts, the elements the sink wrote and the feature rows
        the user run wrote."""
        out = super().trace_extra()
        seen = [self.seen[s["op"]] for s in self.op_stats
                if "rows_in" in self.seen.get(s["op"], {})]
        if not seen:
            return out
        for name, key in (("operators.rows_in", "rows_in"),
                          ("operators.rows_process", "process"),
                          ("operators.rows_pass_thru", "pass_thru"),
                          ("operators.rows_not_found", "not_found"),
                          ("operators.rows_not_recipient", "not_recipient"),
                          ("audio.rows", "features"),
                          ("sinks.rows_written", "written")):
            out[name] = statistics.median(d[key] for d in seen)
        out["operators.process_frac"] = (sum(d["process"] for d in seen)
                                         / sum(d["rows_in"] for d in seen))
        return out


WORKLOADS = {
    "query-floor": QueryFloor,
    "query-heavy": QueryHeavy,
    "job-audio": JobAudio,
}
