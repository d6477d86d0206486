"""Pipeline: lineage journal, checkpoint resume determinism, the output
as the last checkpoint, the leak audit, skew metrics, salted agg."""

import json
import os
import threading

import numpy as np
import pytest
from pyspark.sql import functions as F

from feature_engineering_tk_spark.operators import window_features as W
from feature_engineering_tk_spark.operators.asof import asof_join, asof_join_packed
from feature_engineering_tk_spark.operators.salted import salted_group_agg
from feature_engineering_tk_spark.plans.pipeline import Pipeline


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


def _assert_rejected(spark, df, tmp_path, fn):
    """``run`` raises FutureLeakError naming the stage ``fn`` runs in,
    a checkpoint before the output, and writes neither."""
    pipe = Pipeline(str(tmp_path / "work"))
    pipe.add("leak", fn, checkpoint=True)
    pipe.add("tail", lambda d: d)
    out = tmp_path / "out"
    with pytest.raises(W.FutureLeakError, match="stage 'leak'"):
        pipe.run(spark, df, resume=False, output=str(out))
    assert os.listdir(pipe.workdir) == []
    assert not out.exists()


def test_strict_no_future_blocks_leaks(spark, transcripts, tmp_path):
    """Pipeline.run's leak audit rejects future-reading stages even when
    the caller opted in with allow_future=True."""
    _assert_rejected(
        spark, transcripts, tmp_path / "lead", lambda d: W.with_lead(d, "tokens", 1, allow_future=True)
    )
    _assert_rejected(
        spark, transcripts, tmp_path / "bfill", lambda d: W.backward_fill(d, ["score"], allow_future=True)
    )


def _tool_calls(df):
    return df.filter(F.col("tool").isNotNull()).select("conv_id", "ts", "tool")


FUTURE_READS = {
    "interpolate_linear": lambda d: W.interpolate_linear(d, ["score"]),
    "asof_forward": lambda d: asof_join(
        d, _tool_calls(d), value_cols=["tool"], direction="forward", allow_future=True
    ),
    "asof_nearest": lambda d: asof_join(
        d, _tool_calls(d), value_cols=["tool"], direction="nearest", allow_future=True
    ),
    "rolling_rows_0_1": lambda d: d.withColumn(
        "x", F.avg("tokens").over(W.entity_window().rowsBetween(0, 1))
    ),
    # turn_idx is an int: the analyzed plan casts the RANGE bounds to it
    "range_turn_idx_0_3": lambda d: d.withColumn(
        "x", F.sum("tokens").over(W.entity_window().rangeBetween(0, 3))
    ),
    "group_transform": lambda d: W.group_transform(d, ["conv_id"], "tokens", ["mean"]),
    "raw_lead": lambda d: d.withColumn("x", F.lead("tokens").over(W.entity_window())),
}


@pytest.mark.parametrize("name", FUTURE_READS)
def test_leak_audit_rejects_future_reads(spark, transcripts, tmp_path, name):
    """A frame that ends after the current row, or a descending order
    key (forward and nearest as-of), fails the audit."""
    _assert_rejected(spark, transcripts, tmp_path, FUTURE_READS[name])


PAST_ONLY = {
    "asof_backward": lambda d: asof_join(d, _tool_calls(d), value_cols=["tool"]),
    "asof_packed": lambda d: asof_join_packed(
        W.with_lag(d, "tokens"), _tool_calls(d), value_cols=["tool"]
    ),
    "rolling_zscore": lambda d: W.rolling_zscore(d, "tokens"),
    "context_window": lambda d: W.context_window(d, "text"),
    "rows_since_event": lambda d: W.rows_since_event(d, F.col("tool").isNotNull()),
    "rolling_time_agg": lambda d: W.rolling_time_agg(d, "tokens"),
    "range_turn_idx_3_0": lambda d: d.withColumn(
        "x", F.sum("tokens").over(W.entity_window().rangeBetween(-3, 0))
    ),
    "with_ewma": lambda d: W.with_ewma(d, "tokens", 0.3),
    "expanding_impute": lambda d: W.expanding_impute(d, ["score"]),
}


@pytest.mark.parametrize("name", ["build_pipeline", *PAST_ONLY])
def test_leak_audit_passes_past_only_stages(spark, spark_jobs, transcripts, tmp_path, name):
    """The shipped job's four stages and every past-only operator pass
    the audit, which runs no Spark job; the audited stage's journal
    record counts the frames it checked. (The packed and broadcast
    as-of joins have no window of their own: they run here at the end
    of a window stack, as in a feature job.)"""
    if name == "build_pipeline":
        import sys

        sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "jobs"))
        from jobs.feature_job import build_pipeline

        pipe = build_pipeline(str(tmp_path / "work"), gap_seconds=1800.0)
        pipe.stages[-1].checkpoint = False  # stay lazy: nothing runs
    else:
        pipe = Pipeline(str(tmp_path / "work")).add(name, PAST_ONLY[name])
    _, jobs = spark_jobs(lambda: pipe.run(spark, transcripts, resume=False))
    assert jobs == 0
    records = [json.loads(line) for line in open(pipe.journal_path)]
    assert not any("leak_audit" in r for r in records[:-1])
    assert records[-1]["leak_audit"] >= 1, records[-1]


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
