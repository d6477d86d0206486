import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from feature_engineering_tk_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        master="local[4]",
        app_name="fe-tk-spark-tests",
        shuffle_partitions=4,
        extra_conf={"spark.sql.execution.arrow.maxRecordsPerBatch": "2048"},
    )
    yield s


@pytest.fixture(scope="session")
def transcripts_pdf():
    from feature_engineering_tk_spark.datagen import generate_transcripts_pandas

    return generate_transcripts_pandas(n_convs=60, seed=42)


@pytest.fixture(scope="session")
def transcripts(spark, transcripts_pdf):
    from feature_engineering_tk_spark.datagen import TRANSCRIPT_SCHEMA

    df = spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPT_SCHEMA)
    df = df.repartition(4, "conv_id").cache()
    df.count()
    return df


@pytest.fixture
def spark_jobs(spark):
    """``spark_jobs(fn)`` -> ``(fn(), number of Spark jobs fn ran)``,
    counted under a job group of its own (``setJobGroup``)."""
    sc = spark.sparkContext

    def run(fn):
        group = f"spark-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # the status store is filled asynchronously: drain the bus first
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
