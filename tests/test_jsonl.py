"""Chat-JSONL ingest (sources/jsonl.py): the exact inverse of
sft_export — export → re-ingest must be lossless per turn (per-turn
text equality under stable turn ordering, the north-rule invariant)."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _turns(spark, rows):
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("role", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


NASTY = [
    ("c1", 0, "user", 'say "hi" \\ twice'),
    ("c1", 1, "assistant", "line1\nline2\ttabbed\r"),
    ("c1", 2, "user", "unicode: café — 中文"),
    ("c2", 0, "user", ""),
    ("c2", 1, "assistant", "{}[]:,"),
]


def test_roundtrip_exact_per_turn(spark):
    from feature_engineering_tk_spark.operators.transcripts import sft_export
    from feature_engineering_tk_spark.sources import parse_chat_jsonl

    src = _turns(spark, NASTY)
    lines = sft_export(src)
    back = parse_chat_jsonl(lines, col="json_line")
    got = sorted(
        back.select("conv_id", "turn_idx", "role", "text").collect(),
        key=lambda r: (r.conv_id, r.turn_idx),
    )
    want = sorted(NASTY)
    assert [(r.conv_id, r.turn_idx, r.role, r.text) for r in got] == want
    # round trip carries no tool/ts (sft messages are role/content only)
    assert back.where(F.col("tool").isNotNull()).count() == 0


def test_file_roundtrip(spark, tmp_path):
    from feature_engineering_tk_spark.sources import (
        read_transcripts_jsonl,
        write_transcripts_jsonl,
    )

    src = _turns(spark, NASTY)
    path = str(tmp_path / "chat_jsonl")
    write_transcripts_jsonl(src, path)
    back = read_transcripts_jsonl(spark, path)
    got = sorted(
        ((r.conv_id, r.turn_idx, r.role, r.text) for r in back.collect())
    )
    assert got == sorted(NASTY)


def test_rich_message_fields_parse(spark):
    from feature_engineering_tk_spark.sources import parse_chat_jsonl

    line = (
        '{"conv_id":"c9","messages":['
        '{"role":"user","content":"run it","turn_idx":5},'
        '{"role":"tool","content":"ok","tool":"bash",'
        '"ts":"2026-01-02 03:04:05"}]}'
    )
    df = spark.createDataFrame([Row(value=line)])
    got = parse_chat_jsonl(df).orderBy("turn_idx").collect()
    # explicit turn_idx wins; absent one falls back to array position
    assert [r.turn_idx for r in got] == [1, 5]
    tool_turn = [r for r in got if r.role == "tool"][0]
    assert tool_turn.tool == "bash"
    assert tool_turn.ts is not None and tool_turn.ts.year == 2026
    assert [r for r in got if r.role == "user"][0].ts is None


def test_on_error_skip_and_rejects(spark):
    from feature_engineering_tk_spark.sources import parse_chat_jsonl, parse_rejects

    lines = [
        Row(value='{"conv_id":"ok","messages":[{"role":"user","content":"x"}]}'),
        Row(value="not json at all"),
        Row(value='{"conv_id":"nomsgs"}'),
    ]
    df = spark.createDataFrame(lines)
    good = parse_chat_jsonl(df, on_error="skip")
    assert [r.conv_id for r in good.collect()] == ["ok"]
    rej = parse_rejects(df).collect()
    assert len(rej) == 2 and all("ok" not in r.line for r in rej)


def test_on_error_fail_raises(spark):
    from feature_engineering_tk_spark.sources import parse_chat_jsonl

    df = spark.createDataFrame([Row(value="broken {")])
    with pytest.raises(Exception, match="unparseable chat JSONL"):
        parse_chat_jsonl(df, on_error="fail").collect()
    with pytest.raises(ValueError, match="on_error"):
        parse_chat_jsonl(df, on_error="explode")


def test_parse_plan_is_scan_local(spark):
    """No exchange anywhere in the parse plan: from_json + posexplode
    are row-local — a 100 TB JSONL drop parses at scan speed."""
    from feature_engineering_tk_spark.plans.inspect import inspect
    from feature_engineering_tk_spark.sources import parse_chat_jsonl

    df = spark.createDataFrame([Row(value="{}")])
    plan = inspect(parse_chat_jsonl(df))
    assert (plan.shuffles, plan.broadcasts) == ((), 0), plan


def test_streaming_ingest_matches_batch(spark, tmp_path):
    """availableNow drain of the streaming reader == batch reader."""
    from feature_engineering_tk_spark.sources import (
        read_transcripts_jsonl,
        read_transcripts_jsonl_stream,
        write_transcripts_jsonl,
    )

    src = _turns(spark, NASTY)
    path = str(tmp_path / "stream_src")
    write_transcripts_jsonl(src, path)
    stream = read_transcripts_jsonl_stream(spark, path, max_files_per_trigger=1)
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("jsonl_stream_test")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(60)
    got = sorted(
        (r.conv_id, r.turn_idx, r.role, r.text)
        for r in spark.sql("SELECT * FROM jsonl_stream_test").collect()
    )
    batch = read_transcripts_jsonl(spark, path)
    want = sorted((r.conv_id, r.turn_idx, r.role, r.text) for r in batch.collect())
    assert got == want == sorted(NASTY)
