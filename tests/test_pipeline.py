"""Pipeline: lineage journal, checkpoint resume determinism, the output
as the last checkpoint, leakage guard, skew metrics, salted agg."""

import json
import os
import threading

import numpy as np
import pytest
from pyspark.sql import functions as F

from feature_engineering_tk_spark.operators import window_features as W
from feature_engineering_tk_spark.operators.salted import salted_group_agg
from feature_engineering_tk_spark.plans.pipeline import Pipeline, strict_no_future


def _mkpipe(tmp_path, tag):
    wd = os.path.join(str(tmp_path), tag)
    p = Pipeline(workdir=wd)
    p.add("sessionize", lambda df: W.sessionize(df), {"gap_s": 1800})
    p.add("lag", lambda df: W.with_lag(df, "tokens", 1), {"k": 1}, checkpoint=True)
    p.add(
        "rolling",
        lambda df: W.rolling_agg(df, "tokens", "mean", 5),
        {"w": 5},
    )
    return p


@pytest.fixture()
def with_ds(transcripts):
    return transcripts.withColumn("ds", F.to_date("ts"))


def test_pipeline_run_and_journal(spark, with_ds, tmp_path):
    p = _mkpipe(tmp_path, "run1")
    out = p.run(spark, with_ds)
    assert out.count() == with_ds.count()
    lines = [json.loads(l) for l in open(p.journal_path)]
    stages = [l["stage"] for l in lines if l["event"] == "stage"]
    assert stages == ["sessionize", "lag", "rolling"]
    ckpt = [l for l in lines if l["stage"] == "lag"][0]
    assert ckpt["partitions"], "per-partition lineage missing"
    assert ckpt["bytes"] > 0
    assert ckpt["rows"] == with_ds.count()


def test_pipeline_resume_skips_completed(spark, with_ds, tmp_path):
    p = _mkpipe(tmp_path, "run2")
    first = p.run(spark, with_ds).toPandas()
    # resume: stage fns before the checkpoint must NOT run again
    p2 = _mkpipe(tmp_path, "run2")

    def boom(df):
        raise AssertionError("pre-checkpoint stage re-ran on resume")

    p2.stages[0].fn = boom
    p2.stages[1].fn = boom
    second = p2.run(spark, with_ds).toPandas()
    key = ["conv_id", "turn_idx"]
    a = first.sort_values(key).reset_index(drop=True)
    b = second.sort_values(key).reset_index(drop=True)
    assert np.allclose(
        a["tokens_roll_mean5"], b["tokens_roll_mean5"], equal_nan=True
    )
    resumed = [json.loads(l) for l in open(p2.journal_path) if "resume" in l]
    assert any(r.get("event") == "resume" for r in resumed)


def test_pipeline_output_materializes_last_stage(spark, with_ds, tmp_path, monkeypatch):
    """With ``output`` the last stage, checkpoint or not, is written
    there partitioned by ds; earlier checkpoints stay in the workdir,
    and a re-run resumes from the output without running any stage. A
    bare relative name is a parquet dir, even with a dot in it."""
    monkeypatch.chdir(tmp_path)
    p = _mkpipe(tmp_path, "out")
    out = "out_tbl.v1"
    first = p.run(spark, with_ds, resume=False, output=out).toPandas()
    assert sorted(os.listdir(p.workdir)) == ["lineage.jsonl", "manifest.json", "stage=lag"]
    assert any(d.startswith("ds=") for d in os.listdir(tmp_path / out))

    p2 = _mkpipe(tmp_path, "out")

    def boom(df):
        raise AssertionError("stage re-ran on resume from the output")

    for stage in p2.stages:
        stage.fn = boom
    second = p2.run(spark, with_ds, output=out).toPandas()
    key = ["conv_id", "turn_idx"]
    assert first.sort_values(key).reset_index(drop=True).equals(
        second.sort_values(key).reset_index(drop=True)
    )
    last = json.loads(open(p2.journal_path).readlines()[-1])
    assert (last["event"], last["from_stage"]) == ("resume", "rolling")


def test_strict_no_future_blocks_leaks(transcripts):
    with strict_no_future():
        with pytest.raises(W.FutureLeakError):
            W.with_lead(transcripts, "tokens", 1, allow_future=True)
        with pytest.raises(W.FutureLeakError):
            W.backward_fill(transcripts, ["score"], allow_future=True)
    # restored afterwards
    assert W.with_lead(transcripts, "tokens", 1, allow_future=True) is not None


def test_entity_skew_detects_hot_keys(spark, tmp_path):
    """A hot conversation shows up as per-task shuffle-read skew in the
    checkpoint's journal record, read from the tasks that ran."""
    import pandas as pd

    pdf = pd.DataFrame(
        {"conv_id": ["hot"] * 900 + [f"c{i}" for i in range(100)], "x": range(1000)}
    )
    df = spark.createDataFrame(pdf)
    pipe = Pipeline(str(tmp_path / "hot"))
    pipe.add("lag", lambda d: W.with_lag(d, "x", 1, order="x"), checkpoint=True)
    # AQE would coalesce the tiny shuffle into one task, hiding the skew
    conf = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        pipe.run(spark, df, resume=False)
    finally:
        spark.conf.set(conf, prev)
    rec = next(json.loads(l) for l in open(pipe.journal_path))
    assert rec["rows"] == 1000
    assert rec["skew"] > 5


def test_journal_isolated_from_concurrent_jobs(spark, transcripts, tmp_path):
    """Another thread running jobs in the same session must not leak
    into a stage's journal record: it reads only the stage's own tag."""

    def checkpoint_exec(tag):
        pipe = Pipeline(str(tmp_path / tag))
        pipe.add(
            "feat",
            lambda df: W.sessionize(df, 1800.0).withColumn("ds", F.to_date("ts")),
            checkpoint=True,
        )
        pipe.run(spark, transcripts, resume=False)
        return next(json.loads(l) for l in open(pipe.journal_path))["exec"]

    alone = checkpoint_exec("alone")
    started, stop = threading.Event(), threading.Event()

    def noise():
        while not stop.is_set():
            spark.range(0, 20000).groupBy((F.col("id") % 13).alias("k")).count().collect()
            started.set()

    thread = threading.Thread(target=noise, daemon=True)
    thread.start()
    try:
        assert started.wait(120)
        busy = checkpoint_exec("busy")
    finally:
        stop.set()
        thread.join(120)
    assert not thread.is_alive()
    assert busy == alone
    assert alone["spark_jobs"] > 0


_EVICTION_SCRIPT = """
import json
from pyspark.sql import functions as F
from feature_engineering_tk_spark.operators import window_features as W
from feature_engineering_tk_spark.plans.pipeline import Pipeline
from feature_engineering_tk_spark.session import get_spark

spark = get_spark(master="local[2]", shuffle_partitions=2, extra_conf={"spark.ui.retainedStages": "2"})
df = spark.range(300).select((F.col("id") % 7).alias("conv_id"), F.col("id").alias("x"))
pipe = Pipeline("work")
pipe.add("lag", lambda d: W.with_lag(d, "x", 1, order="x"), checkpoint=True)
for _ in range(3):
    pipe.run(spark, df, resume=False)
print(json.dumps([json.loads(line)["rows"] for line in open(pipe.journal_path)]))
"""


def test_journal_survives_stage_eviction(tmp_path):
    """The status store evicts old stages (skipped ones first) once a
    long session passes spark.ui.retainedStages; a stage's jobs may list
    such a stage, and the journal must still be written."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _EVICTION_SCRIPT],
        capture_output=True, text=True, env=os.environ | {"PYTHONPATH": repo},
        cwd=tmp_path, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert json.loads(proc.stdout.strip().splitlines()[-1]) == [300, 300, 300]


def test_salted_group_agg_matches_plain(transcripts, transcripts_pdf):
    got = (
        salted_group_agg(
            transcripts, "conv_id", "tokens", ["mean", "sum", "count", "std", "min", "max"]
        )
        .toPandas()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    exp = (
        transcripts_pdf.groupby("conv_id")["tokens"]
        .agg(["mean", "sum", "count", "std", "min", "max"])
        .reset_index()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    assert np.allclose(got["tokens_mean"], exp["mean"])
    assert np.allclose(got["tokens_sum"], exp["sum"])
    assert np.allclose(got["tokens_count"], exp["count"])
    assert np.allclose(got["tokens_std"], exp["std"], equal_nan=True)
    assert np.allclose(got["tokens_min"], exp["min"])
    assert np.allclose(got["tokens_max"], exp["max"])


def test_journal_records_shuffle_bytes(spark, transcripts, tmp_path):
    """Lineage journal carries per-stage execution metrics (shuffle
    read/write bytes, tasks) from the JVM AppStatusStore — the
    'shuffle bytes' leg of the north-rule lineage triple."""
    import json

    from pyspark.sql import functions as F

    from feature_engineering_tk_spark.operators import window_features as W
    from feature_engineering_tk_spark.plans.pipeline import Pipeline

    pipe = Pipeline(str(tmp_path / "wd"))
    pipe.add("feat", lambda df: W.sessionize(df, 1800.0).withColumn("ds", F.to_date("ts")), checkpoint=True)
    pipe.run(spark, transcripts, resume=False)

    records = [json.loads(l) for l in open(pipe.journal_path)]
    stage_rec = next(r for r in records if r.get("stage") == "feat")
    assert "exec" in stage_rec
    # sessionize shuffles on conv_id; the checkpoint write reads input
    assert stage_rec["exec"]["shuffle_write_bytes"] > 0
    assert stage_rec["exec"]["tasks"] > 0
