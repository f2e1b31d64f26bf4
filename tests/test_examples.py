"""Golden-output integration tests for the example jobs — the reference's
integration suite pattern (copy job dir → generate inputs → `job run` →
assert outputs)."""

import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from klio_spark import cli
from klio_spark.audio import dsp

EXAMPLES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "examples"
)


def _stage(tmp_path, name):
    dst = tmp_path / name
    shutil.copytree(f"{EXAMPLES}/{name}", dst)
    return dst


def _lines(d):
    return sorted(
        line for f in d.glob("part-*") for line in f.read_text().splitlines()
    )


def test_read_file_write_file_golden(spark, tmp_path):
    job = _stage(tmp_path, "read-file-write-file")
    (job / "input").mkdir()
    ids = [f"track-{i:03d}" for i in range(10)]
    (job / "input" / "elements.txt").write_text("".join(i + "\n" for i in ids))
    assert cli.main(["job", "run", "--config", str(job / "klio-job.yaml")]) == 0
    # golden check: output == input (integration_test.py:27-46)
    assert _lines(job / "output") == ids


def test_audio_features_job(spark, tmp_path):
    job = _stage(tmp_path, "audio-features")
    (job / "input").mkdir()
    (job / "audio").mkdir()
    (job / "input" / "track_ids.txt").write_text("t0\nt1\nt-missing\n")
    wavs = {
        f"t{i}": dsp.synth_wav([330.0 * (i + 1)], 0.3, 8000, noise=0.01, seed=i)
        for i in range(2)
    }
    for el, raw in wavs.items():
        (job / "audio" / f"{el}.wav").write_bytes(raw)
    assert cli.main(["job", "run", "--config", str(job / "klio-job.yaml")]) == 0
    assert _lines(job / "output") == ["t0", "t1"]  # missing id dropped
    feats = spark.read.parquet(str(job / "output_features"))
    rows = {r.element: r for r in feats.collect()}
    assert set(rows) == {"t0", "t1"}
    # the features equal direct numpy on the same bytes (run.py's params)
    for el, raw in wavs.items():
        y, sr = dsp.decode_wav(raw)
        assert rows[el].sr == sr
        for col, want in (
            ("mel_spec", dsp.melspectrogram(y, sr, 512, 256, 32)),
            ("mfcc", dsp.mfcc(y, sr, 8, 512, 256, 32)),
        ):
            got = np.array(rows[el][col], dtype=np.float32)
            want = want.astype(np.float32)
            assert got.shape == want.shape == ((32 if col == "mel_spec" else 8), 10)
            np.testing.assert_allclose(
                got, want, rtol=1e-5, atol=1e-6 * np.abs(want).max(), err_msg=col
            )


def test_docs_dedup_job(spark, tmp_path):
    job = _stage(tmp_path, "docs-dedup")
    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = [
        ("d1", base),
        ("d2", base),  # exact dup -> removed by exact stage
        ("d3", base.replace("today", "tomorrow")),  # near dup -> LSH removes
        ("d4", "an entirely different document about spark shuffle tuning"),
    ]
    spark.createDataFrame(docs, "element string, text string").write.parquet(
        str(job / "input")
    )
    assert cli.main(["job", "run", "--config", str(job / "klio-job.yaml")]) == 0
    survivors = _lines(job / "output")
    assert survivors == ["d1", "d4"]


def test_training_pipeline_job(spark, tmp_path):
    job = _stage(tmp_path, "training-pipeline")
    good = "spark shuffles partition data across executors during wide transformations"
    docs = [
        ("d1", good),
        ("d2", good + " efficiently"),  # near dup of d1 -> clustered away
        ("d3", "spam spam spam spam spam spam spam spam"),  # repetition gate
        ("d4", "catalyst optimizes logical plans into physical plans lazily"),
    ]
    spark.createDataFrame(docs, "element string, text string").write.parquet(
        str(job / "input")
    )
    assert cli.main(["job", "run", "--config", str(job / "klio-job.yaml")]) == 0
    out = dict(
        line.split("\t") for line in _lines(job / "output")
    )
    # d2 collapsed into d1's cluster, d3 failed the quality gate
    assert sorted(out) == ["d1", "d4"]
    assert set(out.values()) <= {"train", "validation", "test"}


def test_blocklist_quarantine_job(spark, tmp_path):
    job = _stage(tmp_path, "blocklist-quarantine")
    (job / "input").mkdir()
    (job / "input" / "elements.txt").write_text("d1\nd2\nd3\nd4\n")
    (job / "blocklist.txt").write_text("d2\nd4\nzz\n")
    assert cli.main(["job", "run", "--config", str(job / "klio-job.yaml")]) == 0
    assert _lines(job / "output") == ["d1", "d3"]
