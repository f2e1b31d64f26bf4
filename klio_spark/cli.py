"""CLI: the reference's job lifecycle, Spark-side.

Command parity (reference: cli/src/klio_cli/cli.py):
  job run      (cli.py:131-173 → exec run.py:593-645): config → session →
               prologue → user run.py → epilogue write. No Docker layer:
               cluster packaging is spark-submit's job (SURVEY §3.1).
  job test     (cli.py:343-384): pytest in the job dir with
               KLIO_TEST_MODE=1 (disables heavyweight wrapping).
  job profile  (exec/cli.py:160-378): stubbed source from --input-file
               (StubIOMapper parity, profile.py:60-89) + cProfile around
               the user transform.
  job config   (cli.py:452-501, job/configuration.py): show the parsed
               config; get/set/unset dotted-path values with write-back.
  job deploy   (cli.py:230-297): cancel any running job of the same
               name, then run.
  job stop     (commands/job/stop.py: Dataflow cancel/drain): stop-marker
               file in the checkpoint dir; the streaming run loop drains
               or cancels on sight.
  job delete   (commands/job/delete.py: delete topics/subs/locations with
               confirmation): removes the job's event I/O dirs, checkpoint
               and data outputs; --force skips the dialog.
  message publish (cli.py:89-92, commands/message/publish.py): drop
               elements into a job's file-stream input dir with force/ping
               and top-down/bottom-up routing.

Usage: python -m klio_spark.cli <job|message> <cmd> [args]
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import time


def _load_user_run(job_dir: str):
    """Import run(df, config) from the job's run.py (exec run.py:262-281;
    run_basic preferred when present)."""
    path = os.path.join(job_dir, "run.py")
    spec = importlib.util.spec_from_file_location("klio_job_run", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)  # type: ignore[union-attr]
    return getattr(mod, "run_basic", None) or mod.run


def _config(config_path: str, templates=None, overrides=None):
    """The job's config: klio-job.yaml with --template/--override applied
    and relative locations resolved. Every command loads it here."""
    from klio_spark.config import KlioJobConfig

    config = KlioJobConfig.from_yaml(config_path, templates, overrides)
    _resolve_locations(config, config_path)
    return config


def _build(config_path: str, templates=None, overrides=None):
    from klio_spark.session import get_spark

    config = _config(config_path, templates, overrides)
    spark = get_spark(config.job_name, conf=config.spark_confs())
    return spark, config


def _job(args):
    """(spark, config, user run) of the job `args` names: run.py from
    --job-dir, else from the config's directory."""
    spark, config = _build(args.config, args.template, args.override)
    return spark, config, _load_user_run(args.job_dir or config.job_dir)


def _pipeline(args):
    """(config, the job's output DataFrame): the configured pipeline over
    the first event input."""
    from klio_spark.operators import run_pipeline
    from klio_spark.sources import read_event_input

    spark, config, user_run = _job(args)
    if not config.event_inputs:
        raise SystemExit("no event inputs configured")
    events = read_event_input(spark, config.event_inputs[0])
    return config, run_pipeline(events, config, user_run, spark)


def _resolve_locations(config, config_path: str) -> None:
    """Resolve relative I/O locations against the job dir (portable
    examples). Every command loads its config through _config, so all of
    them apply this one rule: publish and run agree on where `topic`
    lives, and stop and run on where the stop marker is."""
    base = os.path.dirname(os.path.abspath(config_path))
    config.job_dir = base

    def resolve(p):
        relative = p and not os.path.isabs(p) and "://" not in p
        return os.path.join(base, p) if relative else p

    events = config.event_inputs + config.event_outputs
    for io in events + config.data_inputs + config.data_outputs:
        io.location = resolve(io.location)
    # a relative options.checkpoint resolves the same way, or a job
    # started from one CWD and `job stop`ped from another would look for
    # the stop marker in different directories
    for io in events:
        if "checkpoint" in io.options:
            io.options["checkpoint"] = resolve(io.options["checkpoint"])


def cmd_job_run(args) -> int:
    from klio_spark.sinks import write_event_output

    config, out = _pipeline(args)
    if out.isStreaming and not config.event_outputs:
        raise SystemExit(
            "streaming job needs an event output (the checkpointed sink)"
        )
    if out.isStreaming:
        # streaming job: checkpointed text sink next to the output location
        # (pipeline_options.streaming_timeout_s bounds the run; unset → run
        # until stopped, the reference's `streaming: True` default — a
        # `job stop` from another process lands as a marker file in the
        # checkpoint dir, the local stand-in for Dataflow's cancel/drain
        # API (reference cli job/stop.py JOB_STATE_MAP))
        from klio_spark.streaming import write_stream_text

        timeout_s = config.pipeline_options.get("streaming_timeout_s")
        q = write_stream_text(
            out,
            config.event_outputs[0].location,
            _checkpoint_dir(config),
            trigger_available_now=bool(timeout_s),
        )
        if timeout_s:
            q.awaitTermination(int(timeout_s))
            return 0
        marker = _stop_marker(config)
        while q.isActive:
            q.awaitTermination(2)
            if os.path.exists(marker):
                mode = (open(marker).read().strip() or "drain").lower()
                if mode == "drain":
                    q.processAllAvailable()  # finish everything already read
                q.stop()
                os.remove(marker)  # consumed: the next run starts clean
                print(f"job {config.job_name} stopped ({mode})")
                break
        return 0
    if config.event_outputs:
        write_event_output(out, config.event_outputs[0])
    else:
        print(f"rows: {out.count()}")
    return 0


def cmd_job_plan(args) -> int:
    """Assemble the configured pipeline, print its physical plan, lint it,
    execute nothing. Exit 1 on error-severity findings so CI can gate a
    deploy on a clean plan. (No reference analog — Beam exposes no
    inspectable physical plan; this is the Spark dividend.)"""
    from klio_spark.plans import plan_str
    from klio_spark.plans.lint import lint

    _, out = _pipeline(args)
    print(plan_str(out))
    findings = lint(out)
    for f in findings:
        print(f)
    errors = [f for f in findings if f.severity == "error"]
    print(f"lint: {len(findings)} finding(s), {len(errors)} error(s)")
    return 1 if errors else 0


def cmd_job_test(args) -> int:
    """KLIO_TEST_MODE parity: _helpers.py:111-122 / job/test.py:27-31."""
    import pytest

    os.environ["KLIO_TEST_MODE"] = "true"
    return pytest.main([args.job_dir or ".", "-v"])


def cmd_job_profile(args) -> int:
    """Profile the user transform over a stubbed source (profile.py:60-89).

    --what selects the profiler (reference profile.py:295-320 modes):
      cpu    — cProfile cumulative table (default)
      memory — tracemalloc top allocation sites (the reference's
               per-line memory profiler, stdlib edition)
      wall   — repeated timed runs (timeit mode), min/mean/max
      line   — per-line wall time of the DRIVER-SIDE user run() (the
               reference's line_profiler mode, profile.py:91-130,
               stdlib sys.settrace edition). Time on a line includes
               its callees (line_profiler semantics); only run.py
               frames are traced, so Spark internals add no overhead.
               Driver-side means plan CONSTRUCTION: a slow line here is
               a slow loop building the plan, not executor time — use
               cpu/wall for end-to-end cost.
    """
    from klio_spark import envelope as env

    spark, config, user_run = _job(args)
    if args.input_file:
        with open(args.input_file) as f:
            elements = [line.strip() for line in f if line.strip()]
    else:
        elements = args.elements or []
    if not elements:
        raise SystemExit("profile needs --input-file or element ids")

    df = env.from_elements(spark, elements)

    def run_once() -> int:
        return user_run(df, config).count()  # force execution

    report: dict = {"what": args.what, "elements": len(elements)}
    if args.what == "cpu":
        import cProfile
        import pstats

        prof = cProfile.Profile()
        t0 = time.perf_counter()
        prof.enable()
        n = run_once()
        prof.disable()
        report.update(output_rows=n, wall_sec=round(time.perf_counter() - t0, 3))
        pstats.Stats(prof).sort_stats("cumulative").print_stats(15)
    elif args.what == "memory":
        import tracemalloc

        tracemalloc.start(25)
        t0 = time.perf_counter()
        n = run_once()
        wall = time.perf_counter() - t0
        snap = tracemalloc.take_snapshot()
        current, peak = tracemalloc.get_traced_memory()
        tracemalloc.stop()
        print("Top allocation sites (driver-side):")
        for stat in snap.statistics("lineno")[:15]:
            print(f"  {stat}")
        report.update(
            output_rows=n,
            wall_sec=round(wall, 3),
            peak_driver_bytes=peak,
            current_driver_bytes=current,
        )
    elif args.what == "wall":
        times = []
        n = 0
        for _ in range(max(1, args.iterations)):
            t0 = time.perf_counter()
            n = run_once()
            times.append(time.perf_counter() - t0)
        report.update(
            output_rows=n,
            iterations=len(times),
            min_sec=round(min(times), 3),
            mean_sec=round(sum(times) / len(times), 3),
            max_sec=round(max(times), 3),
        )
    else:  # line (argparse admits only the four modes)
        import inspect
        import linecache
        import sys as _sys

        target_file = inspect.getsourcefile(inspect.unwrap(user_run))
        hits: dict[int, list] = {}
        frame_state: dict[int, tuple] = {}

        def local_trace(frame, event, arg):
            now = time.perf_counter()
            st = frame_state.get(id(frame))
            if st is not None:
                rec = hits.setdefault(st[0], [0, 0.0])
                rec[0] += 1
                rec[1] += now - st[1]
            if event == "line":
                frame_state[id(frame)] = (frame.f_lineno, time.perf_counter())
            else:
                frame_state.pop(id(frame), None)
            return local_trace

        def global_trace(frame, event, arg):
            # trace ONLY frames from the user's run.py — Spark/py4j
            # frames return None and run untraced at full speed
            if frame.f_code.co_filename == target_file:
                return local_trace
            return None

        _sys.settrace(global_trace)
        try:
            t0 = time.perf_counter()
            n = run_once()
            wall = time.perf_counter() - t0
        finally:
            _sys.settrace(None)
        lines = sorted(
            hits.items(), key=lambda kv: kv[1][1], reverse=True
        )[:20]
        print(f"Per-line wall time, {os.path.basename(target_file)}:")
        print(f"  {'line':>5} {'hits':>7} {'time_ms':>9}  source")
        for lineno, (cnt, tsec) in lines:
            src = linecache.getline(target_file, lineno).rstrip()
            print(f"  {lineno:>5} {cnt:>7} {tsec * 1e3:>9.2f}  {src}")
        report.update(
            output_rows=n,
            wall_sec=round(wall, 3),
            file=target_file,
            lines=[
                {
                    "line": lineno,
                    "hits": cnt,
                    "time_ms": round(tsec * 1e3, 3),
                }
                for lineno, (cnt, tsec) in lines
            ],
        )
    wall = report.get("wall_sec") or report.get("mean_sec") or 0
    if wall:
        report["elements_per_sec"] = round(len(elements) / wall, 1)
    print(json.dumps(report))
    return 0


_JOB_YAML_TEMPLATE = """\
job_name: {job_name}
project: {project}
pipeline_options:
  spark.sql.shuffle.partitions: "32"
job_config:
  events:
    inputs:
      - type: file
        location: elements.txt
    outputs:
      - type: file
        location: out
  data:
    inputs:
      - type: file
        location: input_data
        file_suffix: {suffix}
    outputs:
      - type: file
        location: output_data
        file_suffix: {suffix}
"""

_RUN_PY_TEMPLATE = '''\
"""Job transforms. `run` receives the post-prologue envelope DataFrame
(element/payload/routing columns) and must return a DataFrame with the
same envelope columns."""

from pyspark.sql import functions as F


def run(df, config):
    # TODO: your transform here. Elements arrive as df.element; heavy
    # bytes belong in data-input files, referenced by element id.
    return df
'''

_TEST_RUN_TEMPLATE = '''\
from pyspark.sql import SparkSession

import run as job


def test_run_passthrough():
    spark = SparkSession.builder.master("local[2]").getOrCreate()
    from klio_spark.envelope import from_elements

    df = from_elements(spark, ["e1"])
    out = job.run(df, config=None)
    assert out.count() == 1
'''


def cmd_job_create(args) -> int:
    """Scaffold a runnable job directory (reference
    cli/src/klio_cli/commands/job/create.py, minus the GCP/Docker
    questionnaire — Spark packaging is spark-submit's problem)."""
    out = os.path.abspath(args.output or args.job_name)
    if os.path.exists(os.path.join(out, "klio-job.yaml")) and not args.force_create:
        raise SystemExit(f"{out}/klio-job.yaml exists (use --force-create)")
    os.makedirs(out, exist_ok=True)
    os.makedirs(os.path.join(out, "input_data"), exist_ok=True)
    yaml = _JOB_YAML_TEMPLATE.format(
        job_name=args.job_name, project=args.project, suffix=args.file_suffix
    )
    for name, text in [("klio-job.yaml", yaml), ("run.py", _RUN_PY_TEMPLATE),
                       ("test_run.py", _TEST_RUN_TEMPLATE), ("elements.txt", "")]:
        with open(os.path.join(out, name), "w") as f:
            f.write(text)
    print(f"created job '{args.job_name}' in {out}")
    print("next: add element ids to elements.txt, edit run.py, then "
          f"`python -m klio_spark.cli job run --config {out}/klio-job.yaml`")
    return 0


def cmd_job_verify(args) -> int:
    """Verify the job's config + I/O are usable before running (reference
    cli job verify checks GCS buckets/topics/subscriptions exist; the
    Spark analogs are locations, suffixes, and reader/writer registry
    entries). --create makes missing local dirs (reference
    --create-resources)."""
    from klio_spark.sinks import writer_for
    from klio_spark.sources import reader_for

    ok = True

    def check(cond: bool, what: str, fatal: bool = True):
        nonlocal ok
        mark = "ok " if cond else ("ERR" if fatal else "WRN")
        print(f"[{mark}] {what}")
        if not cond and fatal:
            ok = False
        return cond

    def lookup_error(lookup, io_cfg) -> str:
        try:
            lookup(io_cfg)
        except ValueError as e:
            return f": {e}"
        return ""

    try:
        config = _config(args.config, args.template, args.override)
    except Exception as e:  # noqa: BLE001
        print(f"[ERR] config parse failed: {e}")
        return 1
    check(bool(config.job_name), f"job_name = {config.job_name!r}")
    check(bool(config.event_inputs), "at least one event input")
    for io_cfg in config.event_inputs:
        err = lookup_error(reader_for, io_cfg)
        check(not err, f"event input type/format {io_cfg.type}/{io_cfg.format} "
                       f"has a reader{err}")
        loc = io_cfg.location
        if loc and "://" not in loc:
            check(os.path.exists(loc), f"event input location exists: {loc}",
                  fatal=False)
    for io_cfg in config.event_outputs:
        err = lookup_error(writer_for, io_cfg)
        check(not err, f"event output type/format {io_cfg.type}/{io_cfg.format} "
                       f"has a writer{err}")
    for io_cfg in config.data_inputs + config.data_outputs:
        loc = io_cfg.location
        if loc and "://" not in loc and not os.path.exists(loc):
            if args.create:
                os.makedirs(loc, exist_ok=True)
                print(f"[ok ] created data location {loc}")
            else:
                check(False, f"data location exists: {loc} (--create to make)",
                      fatal=False)
        else:
            check(True, f"data location exists: {loc}")
        check(io_cfg.file_suffix.startswith(".") or io_cfg.file_suffix == "",
              f"file_suffix {io_cfg.file_suffix!r} starts with '.'", fatal=False)
    run_py = os.path.join(args.job_dir or config.job_dir, "run.py")
    check(os.path.exists(run_py), f"run.py present at {run_py}")
    print("verification " + ("passed" if ok else "FAILED"))
    return 0 if ok else 1


def cmd_job_audit(args) -> int:
    """Run the job's tests with pitfall detectors (klio_spark.audit)."""
    from klio_spark.audit import run_audit

    config = _config(args.config, args.template, args.override)
    results = run_audit(
        args.job_dir or config.job_dir, config, run_pytest=not args.skip_tests
    )
    n_err = n_warn = 0
    for r in results:
        for e in r.errors:
            print(f"[ERR] {r.name}: {e}")
            n_err += 1
        for w in r.warnings:
            print(f"[WRN] {r.name}: {w}")
            n_warn += 1
        if not r.errors and not r.warnings:
            print(f"[ok ] {r.name}")
    print(f"audit: {n_err} errors, {n_warn} warnings")
    return 1 if n_err else 0


def _config_path_get(cfg, path: str):
    """Dotted-path lookup mirroring apply_overrides' addressing (digit
    indices into lists; dict keys elsewhere)."""
    cur = cfg
    for part in path.split("."):
        if isinstance(cur, list):
            if not part.isdigit() or int(part) >= len(cur):
                raise KeyError(path)
            cur = cur[int(part)]
        elif isinstance(cur, dict) and part in cur:
            cur = cur[part]
        else:
            raise KeyError(path)
    return cur


def cmd_job_config(args) -> int:
    """show / get / set / unset — reference job/configuration.py:100-146
    (`klio job config ...`): show dumps the effective config; get prints
    one dotted-path value as JSON; set assigns dotted paths (the same
    addressing as --override, incl. <type><n> I/O names) and writes the
    yaml back after validating; unset deletes a path (missing is a no-op).
    """
    import yaml

    from klio_spark.config import KlioJobConfig, apply_overrides, preprocess

    action = getattr(args, "action", None) or "show"
    targets = list(getattr(args, "targets", []) or [])

    if action == "show":
        import dataclasses

        config = _config(args.config, args.template, args.override)
        print(json.dumps(dataclasses.asdict(config), indent=2, default=str))
        return 0

    raw = open(args.config).read()
    if action == "get":
        cfg = preprocess(raw, args.template, args.override)
        try:
            print(json.dumps(_config_path_get(cfg, targets[0]), indent=2))
        except KeyError:
            raise SystemExit(f"no such config key: {targets[0]}")
        return 0

    cfg = yaml.safe_load(raw) or {}
    if action == "set":
        if not targets or any("=" not in t for t in targets):
            raise SystemExit("usage: job config set path.to.key=value ...")
        apply_overrides(cfg, dict(t.split("=", 1) for t in targets))
        KlioJobConfig.from_dict(cfg)  # validate before writing back
    else:  # unset
        *head, last = targets[0].split(".")
        try:
            cur = _config_path_get(cfg, ".".join(head)) if head else cfg
        except KeyError:
            return 0  # missing path: no-op (glom ignore_missing)
        if isinstance(cur, dict):
            cur.pop(last, None)
        elif isinstance(cur, list) and last.isdigit() and int(last) < len(cur):
            cur.pop(int(last))
    with open(args.config, "w") as f:
        yaml.dump(cfg, f, default_flow_style=False, sort_keys=False)
    return 0


def _checkpoint_dir(config) -> str:
    sink = config.event_outputs[0]
    return sink.options.get("checkpoint", sink.location + "_checkpoint")


def _stop_marker(config) -> str:
    """The file the streaming run loop polls for a stop request."""
    return os.path.join(_checkpoint_dir(config), "_klio_stop")


def _request_stop(config, mode: str) -> str | None:
    """Write `mode` (drain | cancel) into the stop marker; the marker's
    path, or None when the job has no event output or no checkpoint dir
    (nothing of it ever ran)."""
    if not config.event_outputs or not os.path.isdir(_checkpoint_dir(config)):
        return None
    marker = _stop_marker(config)
    with open(marker, "w") as f:
        f.write(mode)
    return marker


def cmd_job_deploy(args) -> int:
    """Cancel any currently running job of the same name, then run —
    reference `job deploy` (cli.py:230-297; "this will first cancel any
    currently running job of the same name & region", draining
    unsupported there, so the pre-stop is a cancel here too)."""
    config = _config(args.config, args.template, args.override)
    marker = _request_stop(config, "cancel")
    if marker:
        # a running job consumes the marker as it exits; if nothing
        # was running, clear it so the fresh run doesn't insta-stop
        for _ in range(60):
            if not os.path.exists(marker):
                break
            time.sleep(0.5)
        if os.path.exists(marker):
            os.remove(marker)
        else:
            print(f"cancelled previous run of {config.job_name}")
    return cmd_job_run(args)


def cmd_job_stop(args) -> int:
    """Signal a running streaming job to stop (reference job/stop.py:
    Dataflow cancel/drain → here a marker file in the job's checkpoint
    dir, polled by the `job run` streaming loop).

    drain (default): the job finishes processing everything already read,
    then exits — no message loss, matches JOB_STATE_DRAINED. cancel:
    immediate stop, unprocessed batches stay pending in the checkpoint
    (redelivered on restart), matches JOB_STATE_CANCELLED."""
    config = _config(args.config, args.template, args.override)
    if not config.event_outputs:
        raise SystemExit("job has no event output — nothing to stop")
    if not _request_stop(config, args.mode):
        # reference stop.py warns and continues when no active job is found
        print(f"no running job found for '{config.job_name}' "
              f"(no checkpoint at {_checkpoint_dir(config)}); nothing to stop")
        return 0
    print(f"requested {args.mode} of job {config.job_name}")
    return 0


def cmd_job_delete(args) -> int:
    """Delete the job's local resources (reference job/delete.py removes
    topics/subscriptions/locations with per-resource confirmation; here
    the resources are the event I/O dirs, the checkpoint, and data
    outputs). A stop marker is written first so a running job drains
    before its dirs disappear. --force skips the confirmation dialog."""
    import shutil

    config = _config(args.config, args.template, args.override)
    resources: list[tuple[str, str]] = []
    for kind, ios in (
        ("event input", config.event_inputs),
        ("event output", config.event_outputs),
        ("data input", config.data_inputs) if args.all else ("data input", []),
        ("data output", config.data_outputs),
    ):
        for io in ios:
            if io.location:
                resources.append((kind, io.location))
    if config.event_outputs:
        resources.append(("checkpoint", _checkpoint_dir(config)))

    # drain a still-running job before pulling its dirs out from under it
    _request_stop(config, "drain")

    deleted = 0
    for kind, loc in resources:
        if not os.path.exists(loc):
            continue
        if not args.force:
            answer = input(f"Delete {kind} {loc}? [y/N] ").strip().lower()
            if answer not in ("y", "yes"):
                print(f"kept {kind} {loc}")
                continue
        try:
            if os.path.isdir(loc):
                shutil.rmtree(loc)
            else:
                os.remove(loc)  # file locations (e.g. elements.txt inputs)
        except OSError as e:
            # never report a failed delete as done — the reference's
            # delete surfaces per-resource errors too
            print(f"FAILED to delete {kind} {loc}: {e}")
            continue
        print(f"deleted {kind} {loc}")
        deleted += 1
    print(f"deleted {deleted} resource(s) for job {config.job_name}")
    return 0


def cmd_message_publish(args) -> int:
    """Write JSON *wire envelopes* into the job's stream-input dir.

    The flags must ride IN the message (reference publish.py encodes them
    in the KlioMessage) — a bare element line would make readers build
    fresh V2 messages with force=ping=false and recipients=anyone, silently
    dropping what the CLI claims it applied. Lines use the envelope
    to_wire/from_wire JSON schema; the job's stream input reads them with
    ``wire: true``.

    Top-down (default): recipients=anyone. Bottom-up (--bottom-up): only
    this job processes it, and trigger_children_of flips the message back
    to anyone once it passes this job (publish.py:54-72)."""
    config = _config(args.config, args.template, args.override)
    inp = config.event_inputs[0] if config.event_inputs else None
    if inp is None or not inp.location:
        raise SystemExit("job has no file event input to publish into")
    me = {"job_name": config.job_name, "project": config.project}
    os.makedirs(inp.location, exist_ok=True)
    fname = os.path.join(inp.location, f"publish-{int(time.time()*1000)}.txt")
    with open(fname, "w") as f:
        for el in args.elements:
            msg = {
                "element": el,
                "payload_b64": None,
                "version": 2,
                "force": bool(args.force),
                "ping": bool(args.ping),
                "recipients_mode": "limited" if args.bottom_up else "anyone",
                "recipients": [me] if args.bottom_up else None,
                "trigger_children_of": me if args.bottom_up else None,
                "job_audit_log": [],
            }
            f.write(json.dumps(msg) + "\n")
    mode = "bottom-up" if args.bottom_up else "top-down"
    print(f"published {len(args.elements)} message(s) ({mode}"
          f"{', force' if args.force else ''}{', ping' if args.ping else ''}) "
          f"to {fname}")
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="klio-spark")
    sub = p.add_subparsers(dest="group", required=True)

    job = sub.add_parser("job").add_subparsers(dest="cmd", required=True)

    def _common(sp):
        # klio job run --template KEY=VAL --override path.to.key=VAL
        # (core _preprocessing.py: templates fill $VARs, overrides assign
        # dotted paths; repeatable)
        sp.add_argument("--config", default="klio-job.yaml")
        sp.add_argument("--job-dir", default=None)
        sp.add_argument("-T", "--template", action="append", default=[])
        sp.add_argument("-O", "--override", action="append", default=[])

    # `job config <show|get|set|unset>` is a sub-group like the
    # reference's job configuration commands (cli.py:95-105, 452-501);
    # bare `job config` defaults to show
    cfg_parent = job.add_parser("config")
    _common(cfg_parent)
    cfg_parent.set_defaults(fn=cmd_job_config, action="show", targets=[])
    cfgp = cfg_parent.add_subparsers(dest="action")
    for action, nargs in [("show", None), ("get", 1), ("set", "+"), ("unset", 1)]:
        asp = cfgp.add_parser(action)
        asp.set_defaults(fn=cmd_job_config, action=action)
        _common(asp)
        if nargs:
            asp.add_argument("targets", nargs=nargs)

    for name, fn in [
        ("run", cmd_job_run),
        ("plan", cmd_job_plan),
        ("test", cmd_job_test),
        ("profile", cmd_job_profile),
        ("verify", cmd_job_verify),
        ("audit", cmd_job_audit),
        ("stop", cmd_job_stop),
        ("delete", cmd_job_delete),
        ("deploy", cmd_job_deploy),
    ]:
        sp = job.add_parser(name)
        sp.set_defaults(fn=fn)
        _common(sp)
        if name == "profile":
            sp.add_argument("--input-file", default=None)
            sp.add_argument(
                "--what",
                default="cpu",
                choices=["cpu", "memory", "wall", "line"],
            )
            sp.add_argument("--iterations", type=int, default=3)
            sp.add_argument("elements", nargs="*")
        if name == "verify":
            sp.add_argument("--create", action="store_true")
        if name == "audit":
            sp.add_argument("--skip-tests", action="store_true")
        if name == "stop":
            sp.add_argument("--mode", default="drain", choices=["drain", "cancel"])
        if name == "delete":
            sp.add_argument("--force", action="store_true")
            sp.add_argument("--all", action="store_true",
                            help="also delete data INPUT locations")

    create = job.add_parser("create")
    create.set_defaults(fn=cmd_job_create)
    create.add_argument("job_name")
    create.add_argument("--project", default="local")
    create.add_argument("--output", default=None)
    create.add_argument("--file-suffix", default=".bin")
    create.add_argument("--force-create", action="store_true")

    msg = sub.add_parser("message").add_subparsers(dest="cmd", required=True)
    pub = msg.add_parser("publish")
    pub.set_defaults(fn=cmd_message_publish)
    pub.add_argument("--config", default="klio-job.yaml")
    pub.add_argument("-T", "--template", action="append", default=[])
    pub.add_argument("-O", "--override", action="append", default=[])
    pub.add_argument("--force", action="store_true")
    pub.add_argument("--ping", action="store_true")
    pub.add_argument("--bottom-up", action="store_true")
    pub.add_argument("elements", nargs="+")

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
