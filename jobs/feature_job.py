"""spark-submit entry point: the end-to-end point-in-time feature job.

Ships to a cluster as::

    python -m zipfile -c /tmp/fe.zip feature_engineering_tk_spark
    spark-submit --py-files /tmp/fe.zip jobs/feature_job.py \
        --input iceberg:prod.transcripts --output iceberg:prod.turn_features \
        --workdir /checkpoints/featurejob --gap-seconds 1800

Locally (no cluster, no Iceberg catalog) the same script runs on a
parquet dir or a deterministic synthetic transcript table::

    python jobs/feature_job.py --synthesize 500 --output /tmp/feat \
        --workdir /tmp/fe_ckpt

The pipeline is checkpoint-resumable (plans/pipeline.py) and its
final checkpoint IS the --output table: the features are written once,
``ds``-partitioned, and --workdir holds only the atomic manifest and
``lineage.jsonl``. Each stage's lineage record is read from the Spark
jobs tagged with that stage: ``exec`` (shuffle/IO bytes, tasks, jobs,
stages), per-task shuffle-read ``skew`` and the checkpoint's written
``rows``. A re-run with the same --workdir, --output and stage params
(e.g. --gap-seconds) resumes from the output without writing it again;
changing any of them recomputes.

Features per (conv_id, turn_idx, ts) anchor, one ``withColumns`` per
stage (``feature_columns``): every window frame ends at the current row
and sorts ascending, so no feature reads a turn with ts greater than the
anchor (zero temporal leakage; Pipeline.run audits the frames before
the write and journals ``leak_audit``):

- session_id        gap-based session index (cumulative-sum pattern)
- turn_gap_s        ts - lag(ts), exact in integer microseconds
- text_len_lag1     lag of the previous turn's text length
- tokens_roll_mean5 rolling mean over the last 5 turns
- tokens_cum_sum    expanding sum
- score_ffill       last-observation-carried-forward score
- last_tool         latest tool call with ts <= the anchor's ts
                    (merge_asof backward; the greatest tool wins a ts
                    tie): a running max of struct(ts, tool) ordered
                    by ts alone, a RANGE frame on the stack's sort
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Column, Window
from pyspark.sql import functions as F


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", help="iceberg:<tbl> | <catalog.db.tbl> | parquet path")
    p.add_argument("--synthesize", type=int, default=0, help="generate N synthetic conversations instead of reading --input")
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--output", required=True, help="iceberg:<tbl> | parquet path; the final checkpoint")
    p.add_argument("--workdir", required=True, help="manifest and lineage journal dir")
    p.add_argument("--gap-seconds", type=float, default=1800.0)
    p.add_argument("--no-resume", action="store_true")
    p.add_argument("--master", default=None)
    return p


def feature_columns(gap_seconds: float) -> dict[str, dict[str, Column]]:
    """Each stage's features as ``{name: Column}``, over one window in turn order."""
    from feature_engineering_tk_spark.operators import window_features as W

    w = W.entity_window("conv_id", ["ts", "turn_idx"])
    gap = W.gap_us("ts", w)
    upto = w.rowsBetween(Window.unboundedPreceding, 0)
    call = F.when(F.col("tool").isNotNull(), F.struct("ts", "tool"))
    carry = F.max(call).over(Window.partitionBy("conv_id").orderBy("ts"))
    return {
        "sessionize": {"session_id": W.session_index(gap, gap_seconds, w)},
        "lag_features": {
            "text_len_lag1": F.lag(F.length("text"), 1).over(w),
            "turn_gap_s": W.turn_gap(gap),
        },
        "rolling_features": {
            "tokens_roll_mean5": F.avg("tokens").over(w.rowsBetween(-4, 0)),
            "tokens_cum_sum": F.sum("tokens").over(upto),
            "score_ffill": F.last("score", ignorenulls=True).over(upto),
        },
        "attach_last_tool": {
            "last_tool": F.when(carry["ts"].isNotNull(), carry["tool"]),
            "ds": F.to_date("ts"),
        },
    }


def build_pipeline(workdir: str, gap_seconds: float):
    """Four stages, each one ``withColumns``; needs an active SparkContext."""
    from feature_engineering_tk_spark.plans.pipeline import Pipeline

    stage = {n: lambda df, c=c: df.withColumns(c) for n, c in feature_columns(gap_seconds).items()}
    pipe = Pipeline(workdir)
    pipe.add("sessionize", stage["sessionize"], {"gap_seconds": gap_seconds})
    pipe.add("lag_features", stage["lag_features"])
    pipe.add("rolling_features", stage["rolling_features"])
    pipe.add("attach_last_tool", stage["attach_last_tool"], checkpoint=True)
    return pipe


def main(argv=None) -> None:
    args = build_parser().parse_args(argv)
    from feature_engineering_tk_spark.datagen import TRANSCRIPT_SCHEMA, generate_transcripts
    from feature_engineering_tk_spark.session import get_spark
    from feature_engineering_tk_spark.sources import load_table

    spark = get_spark(master=args.master, app_name="fe-tk-feature-job")
    spark.sparkContext.setLogLevel("WARN")

    if args.synthesize:
        df = generate_transcripts(spark, n_convs=args.synthesize, seed=args.seed)
    elif args.input:
        df = load_table(spark, args.input, schema=TRANSCRIPT_SCHEMA)
    else:
        raise SystemExit("need --input or --synthesize N")

    pipe = build_pipeline(args.workdir, args.gap_seconds)
    feat = pipe.run(spark, df, resume=not args.no_resume, output=args.output)
    print(f"features at {args.output}; lineage at {pipe.journal_path}")
    spark.stop()


if __name__ == "__main__":
    main()
