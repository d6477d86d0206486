"""Checkpoint-resumable feature pipeline with per-stage lineage.

The distributed analog of the reference's mutable-DataFrame-plus-
operation-history model (``preprocessing.py:61-93``): a ``Pipeline``
accumulates named stages (pure ``DataFrame -> DataFrame`` functions);
``run`` executes them lazily, materializing checkpoint stages as
``ds``-partitioned parquet under the workdir, and journals each stage
to ``lineage.jsonl`` with params and wall time. Each stage runs under its own Spark job tag
(thread-local), and its metrics are read from that tag's jobs only
(``metrics.job_metrics``; other stages' and other threads' jobs are not
counted, and no extra job runs): ``exec`` (shuffle read/write, input
and output bytes, tasks, Spark jobs and stages; only when the stage ran
a job, so lazy stages have none) and ``skew`` (max/median shuffle
records read per task: AQE coalescing can hide a hot key that shares a
partition). A checkpoint adds ``rows`` (the write's own output-record
count), its bytes and per-partition files (the north rule's
per-Iceberg-partition lineage+metrics). Given an ``output`` table,
``run`` materializes the last stage there instead (``sources.write_table``):
the output is the final checkpoint, so a job writes its result once
and the workdir keeps only the manifest and the journal.

Resume semantics (determinism hard-part #4): a completed checkpoint is
an artifact — on re-run, completed stages are NOT recomputed; the
pipeline reloads the materialized table from the location the manifest
recorded and continues, and fitted transform state must be persisted by
the stage itself (see ``transforms.state``) so nothing is ever refit
mid-run. A checkpoint is reused only if the names and params of it and
every stage before it, and its location, match this run; otherwise it
is recomputed.

Leak audit (zero temporal leakage): before ``run`` writes a stage, and
on the lazy frame it returns, it reads the window frames of the plan
since the last write (no Spark job) and raises ``FutureLeakError`` on
one that reads a later row: an upper bound past CURRENT ROW, or a
descending order key (forward and nearest as-of). The record gets
``leak_audit``, the number of frames checked. Not seen: a future read
outside the frames, by a grouped pandas UDF (``rolling_median``), an
aggregate joined back (``group_transform_join``) or a size-based rank
(``ntile``).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from feature_engineering_tk_spark.operators.window_features import FutureLeakError
from feature_engineering_tk_spark.plans import metrics as M
from feature_engineering_tk_spark.plans.inspect import Frame, window_frames
from feature_engineering_tk_spark.sources import load_table, write_table

PARTITION_COL = "ds"


def reads_future(frame: Frame) -> bool:
    """The frame reads a row after the current one: its upper bound is
    past CURRENT ROW, or an order key sorts descending."""
    return frame.upper > 0 or not all(frame.ascending)


def _leak_audit(stage: str, df: DataFrame) -> int:
    """Raise ``FutureLeakError`` if a window frame of ``df`` reads the
    future; else the number of frames checked."""
    frames = window_frames(df)
    leaks = [f for f in frames if reads_future(f)]
    if leaks:
        raise FutureLeakError(f"stage {stage!r} reads rows after the current one: {leaks}")
    return len(frames)


@dataclass
class Stage:
    name: str
    fn: Callable[[DataFrame], DataFrame]
    params: dict = field(default_factory=dict)
    checkpoint: bool = False


class Pipeline:
    def __init__(self, workdir: str):
        self.workdir = workdir
        self.stages: list[Stage] = []
        os.makedirs(workdir, exist_ok=True)

    # -- building ---------------------------------------------------------
    def add(
        self,
        name: str,
        fn: Callable[[DataFrame], DataFrame],
        params: dict | None = None,
        checkpoint: bool = False,
    ) -> "Pipeline":
        self.stages.append(Stage(name, fn, params or {}, checkpoint))
        return self

    # -- manifest ---------------------------------------------------------
    @property
    def manifest_path(self) -> str:
        return os.path.join(self.workdir, "manifest.json")

    def _load_manifest(self) -> dict:
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                return json.load(f)
        return {"stages": {}}

    def _save_manifest(self, manifest: dict) -> None:
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2)
        os.replace(tmp, self.manifest_path)  # atomic: resume never sees half a manifest

    # -- journal ----------------------------------------------------------
    @property
    def journal_path(self) -> str:
        return os.path.join(self.workdir, "lineage.jsonl")

    def _journal(self, record: dict) -> None:
        with open(self.journal_path, "a") as f:
            f.write(json.dumps(record) + "\n")

    # -- execution --------------------------------------------------------
    def _stage_dir(self, name: str) -> str:
        return os.path.join(self.workdir, f"stage={name}")

    def _materialize(self, df: DataFrame, path: str, output: bool) -> DataFrame:
        """Write a checkpoint, partitioned by ``ds`` when the frame has
        it, and read it back. The run's output goes through
        ``write_table`` (Iceberg ``overwritePartitions`` or dynamic
        partition overwrite); a workdir checkpoint is replaced whole."""
        parts = (PARTITION_COL,) if PARTITION_COL in df.columns else ()
        if parts:
            df = df.repartition(PARTITION_COL)
        if output:
            write_table(df, path, partition_by=parts)
        else:
            df.write.mode("overwrite").partitionBy(*parts).parquet(path)
        return load_table(df.sparkSession, path)

    def run(
        self,
        spark: SparkSession,
        df: DataFrame,
        resume: bool = True,
        output: str | None = None,
    ) -> DataFrame:
        """Run the stages over ``df``. With ``output`` (an ``iceberg:``
        table ref or a parquet path) the last stage is materialized
        there instead of under the workdir: the output is the final
        checkpoint, written once, and the returned frame reads it.
        Raises ``FutureLeakError`` (the leak audit) before a write."""
        if output is not None and "/" not in output and not output.startswith("iceberg:"):
            # write_table writes a bare name as a parquet dir, but
            # load_table reads a bare "a.b" as a catalog table
            output = os.path.abspath(output)
        manifest = self._load_manifest() if resume else {"stages": {}}
        # stage names and params as the manifest stores them (JSON round
        # trip: tuples compare equal to lists)
        lineage = json.loads(json.dumps([[s.name, s.params] for s in self.stages]))
        last = len(self.stages) - 1
        # where each materialized stage lives in this run
        paths = [
            output if output is not None and i == last
            else self._stage_dir(s.name) if s.checkpoint
            else None
            for i, s in enumerate(self.stages)
        ]

        # find the last completed checkpoint built by the same stages and
        # params at the same location → skip everything before it
        start_idx = 0
        cur = df
        for i, stage in enumerate(self.stages):
            done = manifest["stages"].get(stage.name) or {}
            if paths[i] and (done.get("path"), done.get("lineage")) == (paths[i], lineage[: i + 1]):
                start_idx = i + 1
        if start_idx > 0:
            cur = load_table(spark, paths[start_idx - 1])
            self._journal(
                {"event": "resume", "from_stage": self.stages[start_idx - 1].name, "ts": time.time()}
            )

        sc = spark.sparkContext
        for i, stage in enumerate(self.stages[start_idx:], start_idx):
            path = paths[i]
            t0 = time.perf_counter()
            record: dict = {
                "event": "stage",
                "stage": stage.name,
                "params": stage.params,
                "ts": time.time(),
            }
            tag = f"fe-pipeline-{stage.name}-{uuid.uuid4().hex}"
            sc.addJobTag(tag)
            try:
                cur = stage.fn(cur)
                if path or i == last:
                    record["leak_audit"] = _leak_audit(stage.name, cur)
                if path:
                    cur = self._materialize(cur, path, output=path == output)
            finally:
                sc.removeJobTag(tag)
            m = M.job_metrics(spark, tag)
            if m["exec"]["spark_jobs"]:
                record["exec"] = m["exec"]
                if m["skew"] is not None:
                    record["skew"] = m["skew"]
            if path:
                record |= {
                    "rows": m["rows"],
                    "checkpoint_path": path,
                    "partitions": M.partition_stats(path, PARTITION_COL),
                    "bytes": M.dir_bytes(path),
                }
                manifest["stages"][stage.name] = {
                    "completed": True,
                    "path": path,
                    "completed_at": time.time(),
                    "lineage": lineage[: i + 1],
                }
                self._save_manifest(manifest)
            record["wall_s"] = round(time.perf_counter() - t0, 3)
            self._journal(record)
        return cur
