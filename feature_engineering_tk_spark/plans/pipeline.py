"""Checkpoint-resumable feature pipeline with per-stage lineage.

The distributed analog of the reference's mutable-DataFrame-plus-
operation-history model (``preprocessing.py:61-93``): a ``Pipeline``
accumulates named stages (pure ``DataFrame -> DataFrame`` functions);
``run`` executes them lazily, materializing checkpoint stages as
date-partitioned parquet, and journals each stage to ``lineage.jsonl``
with params and wall time. Each stage runs under its own Spark job tag
(thread-local), and its metrics are read from that tag's jobs only
(``metrics.job_metrics``; other stages' and other threads' jobs are not
counted, and no extra job runs): ``exec`` (shuffle read/write, input
and output bytes, tasks, Spark jobs and stages; only when the stage ran
a job, so lazy stages have none) and ``skew`` (max/median shuffle
records read per task: AQE coalescing can hide a hot key that shares a
partition). A checkpoint adds ``rows`` (the write's own output-record
count), its bytes and per-partition files (the north rule's
per-Iceberg-partition lineage+metrics).

Resume semantics (determinism hard-part #4): a completed checkpoint is
an artifact — on re-run, completed stages are NOT recomputed; the
pipeline reloads the materialized parquet and continues, and fitted
transform state must be persisted by the stage itself (see
``transforms.state``) so nothing is ever refit mid-run. A checkpoint is
reused only if the names and params of it and every stage before it,
stored in the manifest, match the pipeline; otherwise it is recomputed.

Leakage guard: inside ``strict_no_future()`` every future-reading
window helper raises even when the caller passes ``allow_future=True``
— wrap the whole feature job in it for the zero-temporal-leakage
contract.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from feature_engineering_tk_spark.operators import window_features as W
from feature_engineering_tk_spark.plans import metrics as M


@contextmanager
def strict_no_future():
    """While active, with_lead/backward_fill raise FutureLeakError even
    with allow_future=True (pipeline-level zero-leakage invariant)."""
    orig_lead, orig_bfill = W.with_lead, W.backward_fill

    def deny(*_a, **_k):
        raise W.FutureLeakError("future-reading operator inside strict_no_future pipeline")

    W.with_lead, W.backward_fill = deny, deny
    try:
        yield
    finally:
        W.with_lead, W.backward_fill = orig_lead, orig_bfill


@dataclass
class Stage:
    name: str
    fn: Callable[[DataFrame], DataFrame]
    params: dict = field(default_factory=dict)
    checkpoint: bool = False


class Pipeline:
    def __init__(self, workdir: str, partition_col: str = "ds"):
        self.workdir = workdir
        self.partition_col = partition_col
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

    def _materialize(self, df: DataFrame, stage: Stage) -> DataFrame:
        path = self._stage_dir(stage.name)
        if self.partition_col in df.columns:
            (
                df.repartition(self.partition_col)
                .write.mode("overwrite")
                .partitionBy(self.partition_col)
                .parquet(path)
            )
        else:
            df.write.mode("overwrite").parquet(path)
        return df.sparkSession.read.parquet(path)

    def run(self, spark: SparkSession, df: DataFrame, resume: bool = True) -> DataFrame:
        manifest = self._load_manifest() if resume else {"stages": {}}
        # stage names and params as the manifest stores them (JSON round
        # trip: tuples compare equal to lists)
        lineage = json.loads(json.dumps([[s.name, s.params] for s in self.stages]))

        # find the last completed checkpoint built by the same stages and
        # params → skip everything before it
        start_idx = 0
        cur = df
        for i, stage in enumerate(self.stages):
            done = manifest["stages"].get(stage.name) or {}
            if stage.checkpoint and done.get("lineage") == lineage[: i + 1]:
                start_idx = i + 1
        if start_idx > 0:
            resumed_from = self.stages[start_idx - 1]
            cur = spark.read.parquet(self._stage_dir(resumed_from.name))
            self._journal({"event": "resume", "from_stage": resumed_from.name, "ts": time.time()})

        sc = spark.sparkContext
        for i, stage in enumerate(self.stages[start_idx:], start_idx):
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
                if stage.checkpoint:
                    cur = self._materialize(cur, stage)
            finally:
                sc.removeJobTag(tag)
            m = M.job_metrics(spark, tag)
            if m["exec"]["spark_jobs"]:
                record["exec"] = m["exec"]
                if m["skew"] is not None:
                    record["skew"] = m["skew"]
            if stage.checkpoint:
                path = self._stage_dir(stage.name)
                record |= {
                    "rows": m["rows"],
                    "checkpoint_path": path,
                    "partitions": M.partition_stats(path, self.partition_col),
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

    # -- partition-level resume (incremental backfill) --------------------
    def remaining_partitions(
        self, spark: SparkSession, input_df: DataFrame, stage_name: str
    ) -> DataFrame:
        """Anti-join the input against a completed stage's written
        partitions — the incremental/backfill path: only partitions not
        yet materialized flow through (SURVEY §2.10 semi/anti join)."""
        path = self._stage_dir(stage_name)
        done = [p["partition"] for p in M.partition_stats(path, self.partition_col)]
        if not done:
            return input_df
        done_df = spark.createDataFrame(
            [(d,) for d in done], f"{self.partition_col} string"
        ).select(F.col(self.partition_col).cast("date").alias(self.partition_col))
        return input_df.join(F.broadcast(done_df), self.partition_col, "left_anti")
