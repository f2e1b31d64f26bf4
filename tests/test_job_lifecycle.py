"""`job create` / `job verify` / `job audit` lifecycle commands
(reference: cli/src/klio_cli/commands/job/create.py, verify.py;
exec/src/klio_exec/commands/audit.py + audit_steps/)."""

import json
import os

import pytest

from klio_spark import cli
from klio_spark.audit import run_audit


@pytest.fixture()
def created_job(tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    rc = cli.main(["job", "create", "scaffjob", "--project", "p1"])
    assert rc == 0
    return tmp_path / "scaffjob"


def test_create_scaffolds_runnable_dir(created_job):
    assert (created_job / "klio-job.yaml").exists()
    assert (created_job / "run.py").exists()
    assert (created_job / "test_run.py").exists()
    assert "job_name: scaffjob" in (created_job / "klio-job.yaml").read_text()


def test_create_refuses_overwrite(created_job, capsys):
    with pytest.raises(SystemExit):
        cli.main(["job", "create", "scaffjob"])
    # --force-create allows it
    assert cli.main(["job", "create", "scaffjob", "--force-create"]) == 0


def test_verify_reports_and_creates(created_job, capsys):
    cfg = str(created_job / "klio-job.yaml")
    rc = cli.main(["job", "verify", "--config", cfg])
    out = capsys.readouterr().out
    assert rc == 0  # warnings (missing output_data) are not fatal
    assert "[WRN]" in out and "output_data" in out
    rc = cli.main(["job", "verify", "--config", cfg, "--create"])
    out = capsys.readouterr().out
    assert rc == 0 and "created data location" in out
    assert (created_job / "output_data").exists()


def test_verify_fails_on_missing_run_py(created_job, capsys):
    os.remove(created_job / "run.py")
    rc = cli.main(["job", "verify", "--config", str(created_job / "klio-job.yaml")])
    assert rc == 1
    assert "run.py" in capsys.readouterr().out


def test_verify_fails_on_unknown_output_format(created_job, capsys):
    """verify asks the sinks' own lookup, so a format `job run` would
    refuse to write fails verification too."""
    cfg = str(created_job / "klio-job.yaml")
    rc = cli.main(["job", "verify", "--config", cfg,
                   "-O", "job_config.events.outputs.0.format=bogus"])
    out = capsys.readouterr().out
    assert rc == 1
    assert "[ERR] event output type/format file/bogus has a writer" in out


def test_audit_flags_driver_collect(created_job, capsys):
    (created_job / "run.py").write_text(
        "def run(df, config):\n    rows = df.collect()\n    return df\n"
    )
    rc = cli.main(
        ["job", "audit", "--config", str(created_job / "klio-job.yaml"),
         "--skip-tests"]
    )
    out = capsys.readouterr().out
    assert rc == 0  # warning, not error
    assert "driver_collect" in out and "collect()" in out


def test_audit_tempfile_step(tmp_path):
    import tempfile

    (tmp_path / "run.py").write_text("def run(df, config):\n    return df\n")
    # simulate user code calling TemporaryFile during the test phase
    from klio_spark.audit import TempfileStep, StepResult

    step = TempfileStep()
    step.before()
    with tempfile.TemporaryFile() as f:
        f.write(b"x")
    res = StepResult(name="tempfile")
    step.after(res)
    assert res.errors and "NamedTemporaryFile" in res.errors[0]
    # hook restored
    assert tempfile.TemporaryFile.__name__ != "tracked"


def test_run_audit_aggregates(tmp_path):
    (tmp_path / "run.py").write_text("def run(df, config):\n    return df\n")
    results = run_audit(str(tmp_path), config=None, run_pytest=False)
    names = [r.name for r in results]
    assert names == ["tempfile", "numpy_blas", "threaded_tf", "driver_collect"]
    assert all(not r.errors for r in results)


# ---------------------------------------------------------------------------
# job stop / job delete (reference job/stop.py, job/delete.py)
# ---------------------------------------------------------------------------

@pytest.fixture()
def streaming_job(tmp_path):
    d = tmp_path / "streamjob"
    d.mkdir()
    (d / "topic").mkdir()
    (d / "topic" / "m.txt").write_text("s1\ns2\n")
    (d / "klio-job.yaml").write_text(
        f"""
job_name: streamjob
project: testproj
job_config:
  events:
    inputs:
      - type: stream
        location: {d}/topic
    outputs:
      - type: file
        location: {d}/out
"""
    )
    (d / "run.py").write_text(
        "def run(df, config):\n    return df\n"
    )
    return d


def test_stop_drains_running_streaming_job(spark, streaming_job):
    """`job run` (no timeout → runs forever) + `job stop` from 'another
    process': the marker drains in-flight work and the run exits 0."""
    import threading
    import time

    cfg = str(streaming_job / "klio-job.yaml")
    rc_box = {}

    def _run():
        rc_box["rc"] = cli.main(["job", "run", "--config", cfg])

    t = threading.Thread(target=_run, daemon=True)
    t.start()
    ckpt = streaming_job / "out_checkpoint"
    deadline = time.time() + 90
    while not ckpt.is_dir() and time.time() < deadline:
        time.sleep(0.5)
    assert ckpt.is_dir(), "streaming job never started"

    assert cli.main(["job", "stop", "--config", cfg]) == 0
    t.join(timeout=90)
    assert not t.is_alive(), "job did not stop on the drain marker"
    assert rc_box["rc"] == 0
    # drain semantics: everything already published made it to the sink
    out = streaming_job / "out"
    lines = sorted(
        line
        for f in out.glob("part-*")
        for line in f.read_text().splitlines()
    )
    assert lines == ["s1", "s2"]
    # marker consumed → a restart would not instantly stop
    assert not (ckpt / "_klio_stop").exists()


def test_stop_without_running_job_warns(streaming_job, capsys):
    cfg = str(streaming_job / "klio-job.yaml")
    assert cli.main(["job", "stop", "--config", cfg]) == 0
    assert "no running job" in capsys.readouterr().out


def test_delete_removes_resources(streaming_job, capsys):
    cfg = str(streaming_job / "klio-job.yaml")
    (streaming_job / "out").mkdir()
    (streaming_job / "out_checkpoint").mkdir()
    rc = cli.main(["job", "delete", "--force", "--config", cfg])
    out = capsys.readouterr().out
    assert rc == 0
    assert not (streaming_job / "topic").exists()
    assert not (streaming_job / "out").exists()
    assert not (streaming_job / "out_checkpoint").exists()
    assert "deleted 3 resource(s)" in out


def test_delete_confirmation_keeps_on_no(streaming_job, capsys, monkeypatch):
    cfg = str(streaming_job / "klio-job.yaml")
    monkeypatch.setattr("builtins.input", lambda _: "n")
    rc = cli.main(["job", "delete", "--config", cfg])
    assert rc == 0
    assert (streaming_job / "topic").exists()
    assert "kept" in capsys.readouterr().out


# ---------------------------------------------------------------------------
# job config get/set/unset (reference job/configuration.py) + job deploy
# ---------------------------------------------------------------------------

def test_config_get_set_unset_roundtrip(created_job, capsys):
    cfg = str(created_job / "klio-job.yaml")
    # get a nested value
    assert cli.main(["job", "config", "get", "--config", cfg, "job_name"]) == 0
    assert json.loads(capsys.readouterr().out) == "scaffjob"
    # set writes back (and validates first)
    assert cli.main([
        "job", "config", "set", "--config", cfg,
        "job_config.my_flag=42", "job_config.events.inputs.0.location=elsewhere",
    ]) == 0
    text = (created_job / "klio-job.yaml").read_text()
    assert "my_flag" in text and "elsewhere" in text
    assert cli.main(["job", "config", "get", "--config", cfg,
                     "job_config.my_flag"]) == 0
    assert json.loads(capsys.readouterr().out) == 42  # coerced to int
    # unset removes; unset of a missing path is a no-op
    assert cli.main(["job", "config", "unset", "--config", cfg,
                     "job_config.my_flag"]) == 0
    assert "my_flag" not in (created_job / "klio-job.yaml").read_text()
    assert cli.main(["job", "config", "unset", "--config", cfg,
                     "job_config.nope.deep"]) == 0


def test_config_get_missing_key_fails(created_job):
    cfg = str(created_job / "klio-job.yaml")
    with pytest.raises(SystemExit):
        cli.main(["job", "config", "get", "--config", cfg, "definitely.not.there"])


def test_deploy_clears_stale_marker_and_runs(spark, streaming_job):
    """deploy with a leftover checkpoint but no live job: the cancel
    marker is written, found unconsumed, cleared, and the new run
    processes the topic (bounded by streaming_timeout_s)."""
    cfg = str(streaming_job / "klio-job.yaml")
    assert cli.main(["job", "config", "set", "--config", cfg,
                     "pipeline_options.streaming_timeout_s=20"]) == 0
    ckpt = streaming_job / "out_checkpoint"
    ckpt.mkdir()
    assert cli.main(["job", "deploy", "--config", cfg]) == 0
    # marker was written and cleared (no running job consumed it)
    assert not (ckpt / "_klio_stop").exists()
    out = streaming_job / "out"
    lines = sorted(
        line for f in out.glob("part-*") for line in f.read_text().splitlines()
    )
    assert lines == ["s1", "s2"]
