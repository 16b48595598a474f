"""Kill/resume tests (SURVEY.md §5.2 L3): a killed run resumes without
recomputation and ends byte-identical to an uninterrupted run."""

import os

import pytest

from pyspark.sql import functions as F

from sketch_spark.operators.aggregate import SketchSpec, sketch_aggregate
from sketch_spark.operators.checkpoint import CheckpointedSketchJob, SimulatedFailure
from sketch_spark.sources.pages import load_pages

SPECS = [
    SketchSpec("cm", "cm", "text", mode="tokens", params={"depth": 4, "log2_width": 12, "seed": 7}),
    SketchSpec("hll", "hll", "text", mode="tokens", params={"p": 12, "seed": 7}),
]


def test_kill_resume_equals_uninterrupted(spark, pages_dir, tmp_path):
    df = load_pages(spark, pages_dir)

    # uninterrupted run
    job_a = CheckpointedSketchJob(df, SPECS, str(tmp_path / "a"), key_col="url", n_buckets=8, wave_size=3)
    job_a.run()
    res_a = job_a.result()

    # killed after one wave, then resumed
    job_b = CheckpointedSketchJob(df, SPECS, str(tmp_path / "b"), key_col="url", n_buckets=8, wave_size=3)
    with pytest.raises(SimulatedFailure):
        job_b.run(fail_after_waves=1)
    done_after_kill = job_b.completed_buckets()
    assert 0 < len(done_after_kill) < 8

    # record checkpoint files' mtimes — resume must not rewrite them
    mtimes = {
        b: os.path.getmtime(job_b._bucket_path(b)) for b in done_after_kill
    }
    job_b.run()  # resume
    for b, mt in mtimes.items():
        assert os.path.getmtime(job_b._bucket_path(b)) == mt, (
            f"bucket {b} was recomputed on resume"
        )
    res_b = job_b.result()

    # merged result identical (byte-for-byte state)
    assert res_a.sketch("cm").to_bytes() == res_b.sketch("cm").to_bytes()
    assert res_a.sketch("hll").to_bytes() == res_b.sketch("hll").to_bytes()
    assert res_a.metrics[("cm",)]["n_rows"] == df.count()

    # and equals the non-checkpointed aggregation
    direct = sketch_aggregate(df, SPECS)
    assert direct.sketch("cm").to_bytes() == res_b.sketch("cm").to_bytes()


def test_result_refuses_incomplete(spark, pages_dir, tmp_path):
    df = load_pages(spark, pages_dir)
    job = CheckpointedSketchJob(df, SPECS, str(tmp_path / "c"), key_col="url", n_buckets=8, wave_size=2)
    with pytest.raises(SimulatedFailure):
        job.run(fail_after_waves=2)
    with pytest.raises(RuntimeError, match="incomplete"):
        job.result()


def test_lineage_validation_detects_changed_input(spark, pages_dir, tmp_path):
    df = load_pages(spark, pages_dir)
    job = CheckpointedSketchJob(df, SPECS, str(tmp_path / "d"), key_col="url", n_buckets=4, wave_size=4)
    job.run()
    job.validate_lineage()  # same input: fine

    tampered = CheckpointedSketchJob(
        df.filter(F.col("lang") != "zh"),  # different input, same checkpoint
        SPECS,
        str(tmp_path / "d"),
        key_col="url",
        n_buckets=4,
        wave_size=4,
    )
    with pytest.raises(RuntimeError, match="lineage mismatch"):
        tampered.validate_lineage()
