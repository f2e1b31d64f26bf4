import pytest
from pyspark.sql import functions as F

from klio_spark import plans
from klio_spark.plans.partitioning import salted_join, write_bucketed


def test_salted_join_matches_plain_join(spark):
    # skew: 90% of left rows share key 0
    left = spark.range(1000).select(
        F.when(F.col("id") % 10 != 0, 0).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )
    right = spark.createDataFrame(
        [(0, "hot"), (10, "a"), (20, "b")], "k long, name string"
    )
    plain = left.join(right, "k").select("k", "v", "name")
    salted = salted_join(left, right, "k", salts=8).select("k", "v", "name")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_spreads_hot_key(spark):
    left = spark.range(0, 10000).select(F.lit(7).alias("k"), F.col("id").alias("v"))
    right = spark.createDataFrame([(7, "x")], "k long, name string")
    out = salted_join(left, right, "k", salts=16)
    assert out.count() == 10000
    # the shuffle key includes the salt -> hashpartitioning(k, _salt)
    s = plans.plan_str(out)
    assert "_salt" in s


def test_bucketed_join_has_no_exchange(spark):
    a = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a_val")
    )
    b = spark.range(500).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("b_val")
    )
    try:
        write_bucketed(a, "bk_a", "k", buckets=8)
        write_bucketed(b, "bk_b", "k", buckets=8)
        joined = (
            spark.table("bk_a")
            .hint("merge")  # force SMJ: broadcast would hide the bucketing story
            .join(spark.table("bk_b"), "k")
        )
        assert joined.count() == 500
        assert plans.num_shuffles(joined) == 0, plans.plan_str(joined)[:3000]
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_a")
        spark.sql("DROP TABLE IF EXISTS bk_b")


def test_bench_keeps_foreign_tables_and_leaves_none_of_its_own(tmp_path, sf_dir):
    """bench.py builds q144's bucketed index in a per-session database
    under the warehouse: another session's table dir survives the run,
    and the bench session's own database is gone once its process
    exits. bench.py writes BENCH_LOCAL.json to its working directory,
    so the tracked ledger stays untouched, and the file holds q144's
    layer record, whose task_run_s is the reported core_sec."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tracked = os.path.join(repo, "BENCH_LOCAL.json")
    with open(tracked, "rb") as f:
        tracked_before = f.read()
    foreign = tmp_path / "spark-warehouse" / "q144_inv_index_deadbeef"
    foreign.mkdir(parents=True)
    (foreign / "part-00000.parquet").write_bytes(b"live")
    env = dict(
        os.environ, PYTHONPATH=repo, SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_BENCH_REPS="1", SPARK_GRAFT_CPUS="2",
        SPARK_DRIVER_MEM="1g",
    )
    q = "q144_inverted_index_topk"
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "bench.py"), q],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    with open(tmp_path / "BENCH_LOCAL.json") as f:
        out = json.load(f)
    assert out["queries"][q] > 0
    assert out["layers"][q]["jobs"] >= 1
    assert out["layers"][q]["task_run_s"] == out["core_sec"][q]
    with open(tracked, "rb") as f:
        assert f.read() == tracked_before
    assert (foreign / "part-00000.parquet").read_bytes() == b"live"
    assert os.listdir(tmp_path / "spark-warehouse") == [foreign.name]
