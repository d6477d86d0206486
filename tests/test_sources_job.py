"""Sources layer (§2.1) + spark-submit job entry point: storage-agnostic
load/write with schema enforcement, and the end-to-end feature job with
checkpoint resume."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T


def test_load_table_parquet_with_schema(spark, transcripts, tmp_path):
    from feature_engineering_tk_spark.datagen import TRANSCRIPT_SCHEMA
    from feature_engineering_tk_spark.sources import load_table, write_table

    path = str(tmp_path / "tbl")
    write_table(transcripts.withColumn("ds", F.to_date("ts")), path, partition_by=("ds",))
    back = load_table(spark, path, schema=TRANSCRIPT_SCHEMA)
    assert [f.name for f in back.schema.fields] == [f.name for f in TRANSCRIPT_SCHEMA.fields]
    assert back.count() == transcripts.count()
    # partition dirs are Hive-style → partition pruning visible in plan
    assert any(p.startswith("ds=") for p in os.listdir(path) if not p.startswith("_"))


def test_ensure_schema_missing_column_raises(spark):
    from feature_engineering_tk_spark.sources import ensure_schema

    df = spark.range(3).toDF("a")
    schema = T.StructType([T.StructField("missing", T.LongType())])
    with pytest.raises(ValueError, match="missing"):
        ensure_schema(df, schema)


def test_ensure_schema_casts_and_orders(spark):
    from feature_engineering_tk_spark.sources import ensure_schema

    df = spark.createDataFrame([(1, "2.5")], "b int, a string")
    schema = T.StructType(
        [T.StructField("a", T.DoubleType()), T.StructField("b", T.LongType())]
    )
    out = ensure_schema(df, schema)
    assert out.columns == ["a", "b"]
    assert out.first()["a"] == 2.5


def test_feature_job_end_to_end_and_resume(spark, tmp_path):
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "jobs"))
    from feature_engineering_tk_spark.datagen import generate_transcripts
    from jobs.feature_job import build_pipeline

    df = generate_transcripts(spark, n_convs=40, seed=7)
    workdir = str(tmp_path / "ckpt")

    pipe = build_pipeline(workdir, gap_seconds=1800.0)
    out = pipe.run(spark, df, resume=True)
    rows = out.count()
    assert rows == df.count()
    for col in [
        "session_id",
        "text_len_lag1",
        "turn_gap_s",
        "tokens_roll_mean5",
        "tokens_cum_sum",
        "score_ffill",
        "last_tool",
        "ds",
    ]:
        assert col in out.columns

    # resume: second run skips to the checkpoint (journal records it)
    pipe2 = build_pipeline(workdir, gap_seconds=1800.0)
    out2 = pipe2.run(spark, df, resume=True)
    assert out2.count() == rows
    journal = open(pipe2.journal_path).read()
    assert '"event": "resume"' in journal

    # zero-leakage invariant: last_tool at each anchor only reflects
    # tool calls with ts <= anchor ts (spot-check via recompute)
    anchors = out.filter(F.col("last_tool").isNotNull()).limit(20).collect()
    tool_rows = df.filter(F.col("tool").isNotNull()).select("conv_id", "ts", "tool").collect()
    for a in anchors:
        past = [t for t in tool_rows if t.conv_id == a.conv_id and t.ts <= a.ts]
        assert past, f"no past tool call for {a.conv_id}"
        latest = max(past, key=lambda t: t.ts)
        assert a.last_tool == latest.tool


def test_feature_job_resume_recomputes_changed_params(spark, tmp_path):
    """A checkpoint built with other stage params is not reused: resuming
    with a new --gap-seconds recomputes and matches a fresh run."""
    import json
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "jobs"))
    from feature_engineering_tk_spark.datagen import generate_transcripts
    from jobs.feature_job import build_pipeline

    df = generate_transcripts(spark, n_convs=40, seed=7)
    workdir = str(tmp_path / "ckpt")
    build_pipeline(workdir, gap_seconds=1800.0).run(spark, df, resume=True)

    pipe = build_pipeline(workdir, gap_seconds=60.0)
    resumed = pipe.run(spark, df, resume=True)
    fresh = build_pipeline(str(tmp_path / "fresh"), gap_seconds=60.0).run(spark, df, resume=False)
    key = ["conv_id", "turn_idx"]
    got = resumed.select(*key, "session_id").toPandas().sort_values(key).reset_index(drop=True)
    want = fresh.select(*key, "session_id").toPandas().sort_values(key).reset_index(drop=True)
    assert got.equals(want)
    events = [json.loads(line)["event"] for line in open(pipe.journal_path)]
    assert events.count("resume") == 0

    # unchanged params still resume
    again = build_pipeline(workdir, gap_seconds=60.0)
    again.run(spark, df, resume=True)
    events = [json.loads(line)["event"] for line in open(again.journal_path)]
    assert events.count("resume") == 1


_JOB_SCRIPT = """
import json
import os
import sys

from jobs.feature_job import main


def mtimes(path):
    return {
        os.path.join(root, f): os.stat(os.path.join(root, f)).st_mtime_ns
        for root, _dirs, files in os.walk(path)
        for f in files
    }


inp, out, out2, work = sys.argv[1:]
args = ["--input", inp, "--workdir", work, "--master", "local[2]"]
main(args + ["--output", out, "--no-resume"])
first = mtimes(out)
main(args + ["--output", out])  # same args: resume
second = mtimes(out)
main(args + ["--output", out2])  # same workdir, new output: recompute
print(json.dumps({"first": first, "second": second}))
"""


def test_feature_job_writes_output_once_and_resumes_from_it(spark, tmp_path):
    """The job's final checkpoint is its --output: one ds-partitioned
    write equal to the pipeline's result written by ``write_table``, a
    workdir without parquet, a journal naming the output, a resume that
    rewrites nothing, and a recompute when --output changes."""
    import json
    import subprocess
    import sys

    from feature_engineering_tk_spark.datagen import TRANSCRIPT_SCHEMA, generate_transcripts
    from feature_engineering_tk_spark.sources import load_table, write_table
    from jobs.feature_job import build_pipeline

    inp, out, out2, work = (str(tmp_path / d) for d in ("turns", "out", "out2", "work"))
    generate_transcripts(spark, n_convs=30, seed=7).write.parquet(inp)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _JOB_SCRIPT, inp, out, out2, work],
        capture_output=True, text=True, env=os.environ | {"PYTHONPATH": repo},
        cwd=tmp_path, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    mtimes = json.loads(proc.stdout.strip().splitlines()[-1])

    # the output equals the pipeline's result written by write_table
    df = load_table(spark, inp, schema=TRANSCRIPT_SCHEMA)
    ref = str(tmp_path / "ref")
    feat = build_pipeline(str(tmp_path / "ref_work"), gap_seconds=1800.0).run(spark, df, resume=False)
    write_table(feat, ref, partition_by=("ds",))
    key = ["conv_id", "turn_idx"]
    want = spark.read.parquet(ref).toPandas().sort_values(key).reset_index(drop=True)
    for path in (out, out2):
        got = spark.read.parquet(path).toPandas().sort_values(key).reset_index(drop=True)
        pd.testing.assert_frame_equal(got, want, check_exact=True)

    # the workdir holds only the manifest and the journal
    assert sorted(os.listdir(work)) == ["lineage.jsonl", "manifest.json"]

    events = [json.loads(line) for line in open(os.path.join(work, "lineage.jsonl"))]
    assert [e["event"] for e in events] == ["stage"] * 4 + ["resume"] + ["stage"] * 4
    n_rows = df.count()
    days = sorted(str(r.ds) for r in df.select(F.to_date("ts").alias("ds")).distinct().collect())
    for rec, path in ((events[3], out), (events[8], out2)):
        assert rec["stage"] == "attach_last_tool"
        assert rec["checkpoint_path"] == path
        assert rec["rows"] == n_rows
        assert [p["partition"] for p in rec["partitions"]] == days
        assert all(p["files"] > 0 for p in rec["partitions"])
    assert events[4]["from_stage"] == "attach_last_tool"
    # the resumed run wrote nothing
    assert mtimes["second"] == mtimes["first"] and mtimes["first"]


def _job_stages(workdir):
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "jobs"))
    from jobs.feature_job import build_pipeline

    return [s.fn for s in build_pipeline(workdir, gap_seconds=1800.0).stages]


def _helper_chain(df, gap_seconds):
    """The job's features through the public DataFrame helpers, one
    ``withColumn`` each, with a temp column and a copy-then-fill."""
    from pyspark.sql import Window

    from feature_engineering_tk_spark.operators import window_features as W

    kw = {"entity": "conv_id", "order": ["ts", "turn_idx"]}
    df = W.sessionize(df, gap_seconds, ts="ts", **kw)
    df = df.withColumn("text_len", F.length("text"))
    df = W.with_lag(df, "text_len", 1, out="text_len_lag1", **kw)
    df = W.with_turn_gap(df, ts="ts", out="turn_gap_s", **kw).drop("text_len")
    df = W.rolling_agg(df, "tokens", "mean", 5, out="tokens_roll_mean5", **kw)
    df = W.cumulative_agg(df, "tokens", "sum", out="tokens_cum_sum", **kw)
    df = W.forward_fill(df.withColumn("score_ffill", F.col("score")), ["score_ffill"], **kw)
    call = F.when(F.col("tool").isNotNull(), F.struct("ts", "tool"))
    carry = F.max(call).over(Window.partitionBy("conv_id").orderBy("ts"))
    found = F.col("ts").isNotNull() & carry["ts"].isNotNull()
    return df.withColumn("last_tool", F.when(found, carry["tool"])).withColumn("ds", F.to_date("ts"))


def test_job_stages_equal_the_helper_chain(spark, transcripts, tmp_path):
    """The declared columns of the four stages equal the helper chain
    exactly, over every column: on the transcripts plus equal-ts ties,
    NULL score runs, NULL tools and a gap of exactly gap_seconds (no
    new session) next to one 1 µs longer (a new session)."""
    from datetime import datetime, timedelta

    from feature_engineering_tk_spark.datagen import TRANSCRIPT_SCHEMA

    t0 = datetime(2024, 3, 1, 12)
    edge = [
        # conv_id, turn_idx, ts offset, tool, score
        ("tie", 0, timedelta(0), None, None),
        ("tie", 1, timedelta(0), "calc", None),
        ("tie", 2, timedelta(0), "code", 0.5),
        ("tie", 3, timedelta(seconds=1), None, None),
        ("tie", 4, timedelta(seconds=1), None, None),
        ("gap", 0, timedelta(0), None, None),
        ("gap", 1, timedelta(seconds=1800), None, None),
        ("gap", 2, timedelta(seconds=3600, microseconds=1), "search", 1.5),
        ("gap", 3, timedelta(seconds=5400, microseconds=1), None, None),
        ("gap", 4, timedelta(seconds=9000, microseconds=2), None, 2.5),
    ]
    rows = [
        (c, i, "user", "x" * (i + 1), tool, t0 + dt, 10.0, 7 * i, score, 0)
        for c, i, dt, tool, score in edge
    ]
    df = transcripts.unionByName(spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA))

    got = df
    for fn in _job_stages(str(tmp_path / "unused")):
        got = fn(got)
    want = _helper_chain(df, 1800.0)
    assert got.columns == want.columns
    key = ["conv_id", "turn_idx"]
    got_pdf = got.toPandas().sort_values(key).reset_index(drop=True)
    want_pdf = want.toPandas().sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got_pdf, want_pdf, check_exact=True)
    sessions = got_pdf[got_pdf["conv_id"] == "gap"]["session_id"].tolist()
    assert sessions == [0, 0, 1, 1, 2]


def test_attach_last_tool_matches_asof_join_on_ties_and_edges(spark, tmp_path):
    """The window carry picks what a backward ``asof_join`` of the table
    to its own tool calls picks: equal-ts calls are seen from an earlier
    turn_idx, the greatest tool wins a ts tie, anchors before the first
    call and conversations without calls get NULL."""
    from datetime import datetime

    from feature_engineering_tk_spark.operators.asof import asof_join

    def t(s):
        return None if s is None else datetime(2024, 1, 1, 0, 0, s)

    rows = [
        # a: anchor at the tie's ts before both calls, then two calls
        # sharing (a, ts=20); the earlier tie row must see the later,
        # greater tool
        ("a", 0, t(10), "zeta"),
        ("a", 1, t(20), None),
        ("a", 2, t(20), "alpha"),
        ("a", 3, t(20), "beta"),
        ("a", 4, t(30), None),
        # e: the same tie with the greater tool at the earlier turn_idx:
        # the tool decides, not the turn order
        ("e", 0, t(20), "beta"),
        ("e", 1, t(20), "alpha"),
        ("e", 2, t(21), None),
        # b: anchors before the first tool call
        ("b", 0, t(5), None),
        ("b", 1, t(6), None),
        ("b", 2, t(7), "x"),
        ("b", 3, t(8), None),
        # c: no tool calls at all
        ("c", 0, t(1), None),
        ("c", 1, t(2), None),
        # d: a call without ts matches nothing; an anchor without ts
        # sees nothing
        ("d", 0, None, "y"),
        ("d", 1, t(3), None),
        ("d", 2, None, None),
        # NULL entity matches NULL entity
        (None, 0, t(1), "n"),
        (None, 1, t(2), None),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, ts timestamp, tool string")
    got = _job_stages(str(tmp_path / "unused"))[3](df)

    tool_calls = df.filter(F.col("tool").isNotNull()).select(
        "conv_id", "ts", F.col("tool").alias("last_tool")
    )
    want = asof_join(df, tool_calls, entity="conv_id", value_cols=["last_tool"], suffix="")
    want = want.withColumn("ds", F.to_date("ts"))

    key = ["conv_id", "turn_idx"]
    got_pdf = got.toPandas().sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got_pdf, want.toPandas().sort_values(key).reset_index(drop=True))
    last = {(r.conv_id, r.turn_idx): r.last_tool for r in got_pdf.itertuples()}
    assert [last[("a", i)] for i in range(5)] == ["zeta", "beta", "beta", "beta", "beta"]
    assert [last[("e", i)] for i in range(3)] == ["beta", "beta", "beta"]
    assert [last[("b", i)] for i in range(4)] == [None, None, "x", "x"]
    assert [last[("c", i)] for i in range(2)] == [None, None]
    assert [last[("d", i)] for i in range(3)] == [None, None, None]
    assert [last[(None, i)] for i in range(2)] == ["n", "n"]


def _backfill_over_parquet(spark, tmp_path):
    from feature_engineering_tk_spark.datagen import TRANSCRIPT_SCHEMA, generate_transcripts
    from feature_engineering_tk_spark.sources import load_table

    path = str(tmp_path / "turns")
    generate_transcripts(spark, n_convs=20, seed=3).write.parquet(path)
    cur = load_table(spark, path, schema=TRANSCRIPT_SCHEMA)
    for fn in _job_stages(str(tmp_path / "unused")):
        cur = fn(cur)
    return cur


def test_backfill_plan_has_one_exchange_and_one_scan(spark, tmp_path):
    """The four stages over a parquet scan plan ONE conv_id exchange and
    ONE scan: last_tool rides the window stack's partitioning instead of
    a self-join that re-scans and re-shuffles the feature table."""
    from feature_engineering_tk_spark.plans.inspect import Shuffle, inspect

    plan = inspect(_backfill_over_parquet(spark, tmp_path))
    assert plan.shuffles == (Shuffle("HashPartitioning", ("conv_id",)),), plan
    assert plan.broadcasts == 0 and plan.joins == (), plan
    assert len(plan.scans) == 1, plan
    assert "Union" not in plan.nodes, plan
    # sessionize's lag, its running sum, every other (ts, turn_idx)
    # feature in one, and last_tool's ts-ordered running max
    assert plan.nodes.count("Window") == 4, plan


def test_backfill_plan_reads_no_future_rows(spark, spark_jobs, tmp_path):
    """Point-in-time on the shipped job's plan, by the rule
    ``Pipeline.run`` audits: no window frame reads a later turn, and a
    lag's offset frame ends at -1 or before. Reading the frames runs no
    Spark job."""
    from feature_engineering_tk_spark.plans.inspect import Frame, window_frames
    from feature_engineering_tk_spark.plans.pipeline import reads_future

    cur = _backfill_over_parquet(spark, tmp_path)
    frames, jobs = spark_jobs(lambda: window_frames(cur))
    assert jobs == 0
    assert frames and not [f for f in frames if reads_future(f)], frames
    assert all(f.upper <= -1 for f in frames if f.function == "lag"), frames
    # tokens_roll_mean5: the five rows ending at the current one
    assert Frame("avg", "RowFrame", -4, 0, (True, True)) in frames, frames


def test_load_table_scan_pushes_filter_and_prunes_columns(spark, transcripts, tmp_path):
    """A filter and a 2-column select over a parquet ``load_table`` are
    pushed into the scan: the filter reaches the reader and the scan
    reads only the two columns."""
    from feature_engineering_tk_spark.datagen import TRANSCRIPT_SCHEMA
    from feature_engineering_tk_spark.plans.inspect import inspect
    from feature_engineering_tk_spark.sources import load_table

    path = str(tmp_path / "tbl")
    transcripts.write.parquet(path)
    df = load_table(spark, path, schema=TRANSCRIPT_SCHEMA)
    (scan,) = inspect(df.filter(F.col("tokens") > 10).select("conv_id", "tokens")).scans
    assert "GreaterThan(tokens,10)" in scan.pushed_filters, scan
    assert scan.read_schema == "struct<conv_id:string,tokens:bigint>", scan


def test_dataset_fingerprint_order_invariant(spark):
    from feature_engineering_tk_spark.sources.tables import dataset_fingerprint

    rows = [(i, f"s{i % 3}") for i in range(50)]
    a = spark.createDataFrame(rows, "id bigint, s string")
    b = spark.createDataFrame(list(reversed(rows)), "id bigint, s string").repartition(7)
    for mode in ("xxhash64", "md5"):
        fa = dataset_fingerprint(a, hash_mode=mode).collect()[0]
        fb = dataset_fingerprint(b, hash_mode=mode).collect()[0]
        assert fa.n_rows == 50 and (fa.n_rows, fa.fingerprint) == (fb.n_rows, fb.fingerprint)
    # any single-value change moves the checksum
    c = spark.createDataFrame(rows[:-1] + [(49, "CHANGED")], "id bigint, s string")
    assert (
        dataset_fingerprint(c, hash_mode="md5").collect()[0].fingerprint
        != dataset_fingerprint(a, hash_mode="md5").collect()[0].fingerprint
    )


def test_dataset_fingerprint_null_and_empty(spark):
    from feature_engineering_tk_spark.sources.tables import dataset_fingerprint

    df = spark.createDataFrame([(1, None), (None, "x")], "id bigint, s string")
    r = dataset_fingerprint(df, hash_mode="md5").collect()[0]
    assert r.n_rows == 2 and r.fingerprint >= 0
    empty = df.filter("id = 999")
    r0 = dataset_fingerprint(empty, hash_mode="md5").collect()[0]
    assert r0.n_rows == 0 and r0.fingerprint == 0
    with pytest.raises(ValueError):
        dataset_fingerprint(df, hash_mode="sha9000")


def test_read_delimited_schema_and_corrupt_capture(spark, tmp_path):
    from feature_engineering_tk_spark.sources import read_delimited

    p = tmp_path / "m.csv"
    p.write_text("id,score,name\n1,2.5,a\n2,notanumber,b\nbad-row\n3,4.0,c\n")
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("name", T.StringType()),
    ])
    df = read_delimited(spark, str(p), schema).cache()
    try:
        assert "_corrupt_record" in df.columns
        good = df.where(F.col("_corrupt_record").isNull())
        bad = df.where(F.col("_corrupt_record").isNotNull())
        assert good.count() == 2 and bad.count() == 2
        assert {r.id for r in good.collect()} == {1, 3}
        # the raw malformed lines are preserved for triage
        assert {r._corrupt_record for r in bad.collect()} == {
            "2,notanumber,b", "bad-row",
        }
    finally:
        df.unpersist()


def test_read_delimited_tsv_dropmalformed(spark, tmp_path):
    from feature_engineering_tk_spark.sources import read_delimited

    p = tmp_path / "m.tsv"
    p.write_text("id\tv\n1\t2\nx\ty\tz\n3\t4\n")
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("v", T.LongType()),
    ])
    df = read_delimited(spark, str(p), schema, delimiter="\t", mode="DROPMALFORMED")
    assert sorted((r.id, r.v) for r in df.collect()) == [(1, 2), (3, 4)]


def test_read_delimited_bad_mode(spark):
    from feature_engineering_tk_spark.sources import read_delimited

    with pytest.raises(ValueError):
        read_delimited(spark, "/tmp/x.csv", T.StructType([]), mode="LENIENT")
