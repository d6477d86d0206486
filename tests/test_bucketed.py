"""Bucketed-table co-location: joins and groupBys on the bucket key
must plan with zero Exchange nodes (sources/tables.py write_bucketed)."""

import pytest

from feature_engineering_tk_spark.plans.inspect import inspect
from feature_engineering_tk_spark.sources.tables import write_bucketed


def _exchanges(df) -> int:
    plan = inspect(df)
    return len(plan.shuffles) + plan.broadcasts


@pytest.fixture()
def bucketed_pair(spark, tmp_path):
    rows = [(i, i % 17, float(i)) for i in range(2000)]
    df = spark.createDataFrame(rows, "row_id bigint, conv_id bigint, v double")
    dim = spark.createDataFrame(
        [(i, f"c{i}") for i in range(17)], "conv_id bigint, tag string"
    )
    write_bucketed(df, "tb_facts", "conv_id", n_buckets=4, path=str(tmp_path / "f"))
    write_bucketed(dim, "tb_dim", "conv_id", n_buckets=4, path=str(tmp_path / "d"))
    yield spark.table("tb_facts"), spark.table("tb_dim")
    spark.sql("DROP TABLE IF EXISTS tb_facts")
    spark.sql("DROP TABLE IF EXISTS tb_dim")


def test_bucketed_join_no_exchange(bucketed_pair):
    facts, dim = bucketed_pair
    j = facts.hint("merge").join(dim, "conv_id")
    assert _exchanges(j) == 0
    assert j.count() == 2000


def test_bucketed_groupby_no_exchange(bucketed_pair):
    from pyspark.sql import functions as F

    facts, _ = bucketed_pair
    g = facts.groupBy("conv_id").agg(F.sum("v").alias("s"))
    assert _exchanges(g) == 0
    got = {r["conv_id"]: r["s"] for r in g.collect()}
    assert got[0] == sum(float(i) for i in range(0, 2000, 17))


def test_bucketed_sorted_and_validated(spark, tmp_path):
    df = spark.createDataFrame([(1, 1.0)], "k bigint, v double")
    with pytest.raises(ValueError):
        write_bucketed(df, "tb_bad", [], path=str(tmp_path / "x"))
    with pytest.raises(ValueError):
        write_bucketed(df, "tb_bad", "k", n_buckets=0, path=str(tmp_path / "y"))
