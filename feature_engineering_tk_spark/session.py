"""SparkSession factory with scale-oriented defaults.

Single place where the engine's execution knobs live so that local
tests, the ``perfbench/run.py`` benchmark and a real ``spark-submit
--py-files`` deployment all get the same plan-shaping configuration:

- AQE on (runtime coalescing, skew-join splitting) — the backstop for
  skewed ``conv_id`` partitions that static planning can't see.
- Arrow on — every pandas UDF / ``applyInPandas`` crosses the
  JVM<->Python boundary in columnar Arrow batches.
- UTC session timezone — timestamp parity with the pandas reference
  (naive timestamps) and with the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    master: str | None = None,
    app_name: str = "feature_engineering_tk_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` resolution order: explicit arg > SPARK_GRAFT_MASTER env >
    ``local[$SPARK_GRAFT_CPUS]`` (driver contract) > ``local[*]``.
    """
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER")
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # generous per-batch Arrow size: conversations are small, batches
        # should amortize the Python round-trip
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
