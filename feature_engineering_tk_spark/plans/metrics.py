"""Per-stage metrics for the lineage journal.

The north rule requires per-partition lineage and metrics (rows, skew
ratio, shuffle bytes) persisted per stage. ``job_metrics`` reads them
for the Spark jobs that ran under one job tag, from the JVM status
tracker and ``AppStatusStore`` (no UI, REST endpoint or listener JAR;
the same on ``local[*]`` and a cluster master). Jobs of other tags and
other threads are not counted, and nothing is recomputed: ``rows`` is
the write's own output-record count and ``skew`` is read from the
tasks that ran. ``dir_bytes`` / ``partition_stats`` record the
filesystem lineage of materialized stages.
"""

from __future__ import annotations

import os
import time

SETTLE_S = 10.0
# journal ``exec`` field -> AppStatusStore StageData getter
EXEC_FIELDS = {
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "input_bytes": "inputBytes",
    "output_bytes": "outputBytes",
    "tasks": "numCompleteTasks",
}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def partition_stats(path: str, partition_col: str = "ds") -> list[dict]:
    """Per-Iceberg-partition lineage record for a materialized stage:
    partition value, file count, bytes."""
    out = []
    if not os.path.isdir(path):
        return out
    for name in sorted(os.listdir(path)):
        full = os.path.join(path, name)
        if os.path.isdir(full) and name.startswith(f"{partition_col}="):
            files = [f for f in os.listdir(full) if f.endswith(".parquet")]
            out.append(
                {
                    "partition": name.split("=", 1)[1],
                    "files": len(files),
                    "bytes": dir_bytes(full),
                }
            )
    return out


def job_metrics(spark, tag: str) -> dict:
    """Metrics of the Spark jobs that ran under job tag ``tag``: ``rows``
    (output records written), ``skew`` (over the stages that read
    shuffle data, the largest max/median of shuffle records read per
    task, median floored at one record; ``None`` if no stage read any —
    per task, so AQE coalescing can hide a hot key that shares a
    partition) and ``exec`` (``EXEC_FIELDS`` summed over the stages that
    ran, plus ``spark_jobs`` and ``spark_stages``).

    The store is filled asynchronously, so first wait (at most
    ``SETTLE_S``) until it shows each of the tag's jobs as finished,
    which it does only after recording their stages and tasks.
    """
    jsc = spark.sparkContext._jsc.sc()
    tracker, store = jsc.statusTracker(), jsc.statusStore()
    deadline = time.monotonic() + SETTLE_S
    while True:
        jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForTag(tag)]
        jobs = [j.get() for j in jobs if j.isDefined()]
        if time.monotonic() > deadline or all(str(j.status()) != "RUNNING" for j in jobs):
            break
        time.sleep(0.01)

    gw = spark.sparkContext._gateway
    quantiles = gw.new_array(gw.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    exec_ = dict.fromkeys(EXEC_FIELDS, 0)
    rows, stages, skew = 0, 0, None
    for sid in sorted({s for j in jobs for s in j.stageIds()}):
        # a skipped stage never ran; the store evicts those first
        # (spark.ui.retainedStages), so it may already be gone
        if not tracker.getStageInfo(sid).isDefined():
            continue
        st = store.lastStageAttempt(sid)
        if str(st.status()) == "SKIPPED":
            continue
        stages += 1
        rows += int(st.outputRecords())
        for field, getter in EXEC_FIELDS.items():
            exec_[field] += int(getattr(st, getter)())
        if st.shuffleReadRecords() > 0:
            summary = store.taskSummary(sid, st.attemptId(), quantiles)
            if summary.isDefined():
                read = summary.get().shuffleReadMetrics().readRecords()
                ratio = float(read.apply(1)) / max(float(read.apply(0)), 1.0)
                skew = round(max(skew or 0.0, ratio), 3)
    exec_["spark_jobs"] = len(jobs)
    exec_["spark_stages"] = stages
    return {"rows": rows, "skew": skew, "exec": exec_}
