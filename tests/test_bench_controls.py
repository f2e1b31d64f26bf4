"""bench.py's host-normalization controls are FROZEN — their names,
pinned reference seconds, and plan shapes.

control_ratio = median(measured/ref over these five queries) is the
HOST factor every round-over-round bench comparison divides by. That
only measures the host if the control code itself never changes: an
optimization to a control would read as the host "speeding up" and
silently skew every normalized number. Nothing structural prevented
that — this test does. Touching a control query (or its plan shape via
a shared helper) fails here loudly; the correct response is to revert,
or to consciously re-pin BOTH the reference seconds and the
fingerprints in the same commit and say so in the bench ledger.
"""

import hashlib
import os
import re

import pytest

from klio_spark import plans
from klio_spark.queries import all_queries

# The five controls and their round-5 reference seconds (BENCH_r05.json,
# the round-6+ normalization base per BASELINE.md). Must match
# bench._CONTROLS exactly.
_FROZEN_CONTROLS = {
    "q01_pricing_summary": 0.738,
    "q07_median_percentile": 1.264,
    "q13_cogroup_counts": 0.376,
    "q23_top_items_global": 0.223,
    "q50_events_hourly": 0.265,
}

# Normalized physical-plan fingerprints at the default test SF
# (sf0.001). Regenerate ONLY on a conscious re-pin:
#   python -c "from tests.test_bench_controls import _regen; _regen()"
_FROZEN_PLAN_FP = {
    "q01_pricing_summary": "0c3124f5ef57937f4e627f97b1de5adf",
    "q07_median_percentile": "affc0ed3010ae559b77f16950dab1349",
    "q13_cogroup_counts": "bb6c6077f330a5e749d774ce8e52b346",
    "q23_top_items_global": "8d9115de5ad70a31bbe58bb87c756479",
    "q50_events_hourly": "3eb40269e6e003fd5377dc695ead3cfe",
}

_DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def _plan_fingerprint(df) -> str:
    """Operator tree with the run-varying noise stripped: expression
    ids, node numbers, plan ids, absolute paths, and size/statistics
    annotations. What survives is the plan SHAPE — operators, join
    strategies, exchange placement, pushed filters."""
    tree = plans.plan_str(df, "formatted").split("\n\n")[0]
    tree = re.sub(r"#\d+L?", "#x", tree)
    tree = re.sub(r"\(\d+\)", "(n)", tree)
    tree = re.sub(r"plan_id=\d+", "plan_id=x", tree)
    tree = re.sub(r"\[plan id: \d+\]", "[plan id: x]", tree)
    tree = re.sub(r"/[^\s,\]\)]*testdata[^\s,\]\)]*", "PATH", tree)
    tree = re.sub(r"Statistics\([^)]*\)", "Statistics(x)", tree)
    return hashlib.md5(tree.encode()).hexdigest()


def test_control_names_and_refs_pinned():
    import bench

    assert bench._CONTROLS == _FROZEN_CONTROLS, (
        "bench._CONTROLS changed — controls are FROZEN; revert, or "
        "consciously re-pin both sides (bench.py and this test) in one "
        "commit and record the re-pin in BASELINE.md"
    )


def test_controls_exist_in_registry():
    names = set(all_queries())
    missing = set(_FROZEN_CONTROLS) - names
    assert not missing, f"control queries missing from registry: {missing}"


def test_control_plan_shapes_pinned(spark, sf_dir):
    if sf_dir != _DEFAULT_SF_DIR:
        pytest.skip("plan fingerprints pinned at the default test SF")
    # persisted plans from earlier tests substitute InMemoryRelation
    # into identical subtrees (see tests/test_plans.py) — clear first
    spark.catalog.clearCache()
    specs = all_queries()
    got = {
        name: _plan_fingerprint(specs[name].fn(spark, sf_dir))
        for name in _FROZEN_CONTROLS
    }
    assert got == _FROZEN_PLAN_FP, (
        "a control query's plan shape changed — controls are FROZEN "
        "(their times normalize every bench comparison); revert the "
        "change or consciously re-pin refs + fingerprints together\n"
        f"got: {got}"
    )


def _regen():  # pragma: no cover — conscious re-pin helper
    from klio_spark.session import get_spark

    spark = get_spark("control-pin-regen")
    spark.sparkContext.setLogLevel("ERROR")
    spark.catalog.clearCache()
    specs = all_queries()
    for name in _FROZEN_CONTROLS:
        fp = _plan_fingerprint(specs[name].fn(spark, _DEFAULT_SF_DIR))
        print(f'    "{name}": "{fp}",')


def test_schema_memo_is_metadata_only_and_cleared_for_controls(spark, sf_dir):
    """Round-11 adds a per-process schema memo to queries.load() (one
    parquet-footer inference per table, ~60-90 ms saved per later
    load). Two invariants: (1) the memo changes neither the schema nor
    the analyzed semantics of a load — a memoized read must equal a
    fresh inference exactly; (2) bench.py must clear the memo before
    every CONTROL rep, because the frozen reference seconds include
    the inference cost and a memo-assisted control would deflate
    control_ratio (a code-made 'host speedup')."""
    from klio_spark.queries import _SCHEMA_MEMO, load

    _SCHEMA_MEMO.clear()
    (a,) = load(spark, sf_dir, "lineitem")   # infers + memoizes
    assert (sf_dir, "lineitem") in _SCHEMA_MEMO
    (b,) = load(spark, sf_dir, "lineitem")   # memoized path
    assert a.schema == b.schema
    assert a.schema == spark.read.parquet(f"{sf_dir}/lineitem.parquet").schema

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src = open(os.path.join(repo, "bench.py")).read()
    assert "_SCHEMA_MEMO.clear()" in src, (
        "bench.py no longer clears the schema memo for control reps — "
        "control_ratio would measure the memo, not the host"
    )


def test_schema_memo_keys_normalized_dir(spark, sf_dir):
    """`dir` and `dir/` name the same tables and share one memo entry."""
    from klio_spark.queries import _SCHEMA_MEMO, load

    _SCHEMA_MEMO.clear()
    load(spark, sf_dir, "nation")
    load(spark, sf_dir.rstrip("/") + "/", "nation")
    assert [k for k in _SCHEMA_MEMO if k[1] == "nation"] == [
        (os.path.normpath(sf_dir), "nation")
    ]


def test_core_sec_dropped_when_best_rep_read_fails():
    """The best rep's layer record is kept, with its task run time as
    core_sec; a new best rep whose read fails drops both, so no older
    rep's record sits beside its wall time."""
    import bench

    rep = {"jobs": 2, "stages": 3, "tasks": 9, "task_run_s": 2.5,
           "task_cpu_s": 1.25, "shuffle_read_bytes": 10,
           "shuffle_write_bytes": 10, "spill_bytes": 0}
    core_sec, layers = {}, {}
    bench._record_layers(core_sec, layers, "q", 0.1, 0.4, rep)
    assert core_sec == {"q": 2.5}
    assert layers == {"q": {"build_s": 0.1, "exec_s": 0.4, **rep}}
    bench._record_layers(core_sec, layers, "q", 0.1, 0.3, None)
    assert core_sec == {} and layers == {}


def test_bench_releases_scoped_caches(spark, sf_dir, tmp_path, monkeypatch):
    """bench.py releases each rep's scoped_persist frames: after an
    in-process run of q160 (which persists its edge build), the
    registry holds no reference to any of them."""
    import sys

    import bench
    from klio_spark import queries

    monkeypatch.chdir(tmp_path)  # BENCH_LOCAL.json lands here
    monkeypatch.setattr(sys, "argv", ["bench.py", "q160_triangle_count"])
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_REPS", "1")
    # main() prepends the repo to PYTHONPATH; restored at teardown
    monkeypatch.setenv("PYTHONPATH", os.environ.get("PYTHONPATH", ""))
    assert bench.main() == 0
    assert queries._SCOPED_CACHES == []
