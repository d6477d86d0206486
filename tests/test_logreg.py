"""Distributed IRLS logistic regression: partition-layout invariance
(the decimal-sum determinism contract), convergence quality, scoring
parity, and guards."""

import math
import random

import pytest
from pyspark.sql import functions as F

from feature_engineering_tk_spark.exceptions import (
    ColumnNotFoundError,
    InsufficientDataError,
    ValidationError,
)
from feature_engineering_tk_spark.functions.logreg import logreg_score, logreg_train
from feature_engineering_tk_spark.plans.inspect import inspect


def _toy(spark, n=400, seed=5, partitions=None):
    rng = random.Random(seed)
    rows = []
    for _ in range(n):
        x1, x2 = rng.uniform(-2, 2), rng.uniform(-2, 2)
        eta = 0.7 + 1.5 * x1 - 2.0 * x2
        y = 1.0 if rng.random() < 1.0 / (1.0 + math.exp(-eta)) else 0.0
        rows.append((x1, x2, y))
    df = spark.createDataFrame(rows, "x1 double, x2 double, y double")
    return df.repartition(partitions) if partitions else df


def test_logreg_partition_layout_invariant(spark):
    """The decimal-sum accumulation makes the fit bit-identical under
    any partitioning — the property that lets the same job run on 4
    or 1000 executors and produce the same model."""
    m2 = logreg_train(_toy(spark, partitions=2), ["x1", "x2"], "y", n_iter=4)
    m7 = logreg_train(_toy(spark, partitions=7), ["x1", "x2"], "y", n_iter=4)
    assert m2["intercept"] == m7["intercept"]
    assert m2["beta"] == m7["beta"]
    assert m2["log_loss"] == m7["log_loss"]


def test_logreg_checkpoint_does_not_change_model(spark):
    """The lazy localCheckpoint of the (y, x) projection is a pure
    lineage-truncation optimization — β, intercept, and loss must be
    bit-identical with and without it."""
    with_cp = logreg_train(_toy(spark), ["x1", "x2"], "y", n_iter=4)
    without = logreg_train(
        _toy(spark), ["x1", "x2"], "y", n_iter=4, checkpoint=False
    )
    assert with_cp["intercept"] == without["intercept"]
    assert with_cp["beta"] == without["beta"]
    assert with_cp["log_loss"] == without["log_loss"]


def test_logreg_recovers_signs_and_separates(spark):
    df = _toy(spark, n=800)
    m = logreg_train(df, ["x1", "x2"], "y", n_iter=8)
    assert m["beta"][0] > 0.5 and m["beta"][1] < -0.8
    assert 0.0 < m["log_loss"] < 0.6
    scored = logreg_score(df, ["x1", "x2"], m)
    acc = scored.select(
        F.avg(((F.col("p") > 0.5).cast("double") == F.col("y")).cast("double"))
    ).first()[0]
    assert acc > 0.8


def test_logreg_score_is_row_local_expression(spark):
    df = _toy(spark, n=50)
    scored = logreg_score(df, ["x1", "x2"], {"intercept": 0.0, "beta": [1.0, 0.0]})
    row = scored.where(F.col("x1").isNotNull()).first()
    assert row.p == pytest.approx(1.0 / (1.0 + math.exp(-row.x1)), abs=1e-12)
    plan = inspect(scored)
    assert (plan.shuffles, plan.broadcasts) == ((), 0), plan


def test_logreg_null_rows_excluded_and_guards(spark):
    df = spark.createDataFrame(
        [(1.0, 1.0), (None, 0.0), (2.0, None)], "x1 double, y double"
    )
    with pytest.raises(InsufficientDataError):  # one row survives filtering
        logreg_train(df, ["x1"], "y", n_iter=1)
    with pytest.raises(ColumnNotFoundError):
        logreg_train(df, ["nope"], "y")
    with pytest.raises(ValueError):
        logreg_train(df, [], "y")
    # single class with PLENTY of rows is a label problem, not a data-
    # volume problem — it gets its own diagnosis (ValidationError)
    ones = spark.createDataFrame(
        [(float(i), 1.0) for i in range(50)], "x1 double, y double"
    )
    with pytest.raises(ValidationError, match="single class"):
        logreg_train(ones, ["x1"], "y", n_iter=1)


def test_logreg_feature_width_guard(spark):
    df = _toy(spark, n=10)
    with pytest.raises(ValueError):
        logreg_train(df, ["x1"] * 65, "y")
