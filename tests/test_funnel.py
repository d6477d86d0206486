"""Funnel state machine and cohort retention vs hand-computed
expectations."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from feature_engineering_tk_spark.operators.funnel import (
    cohort_retention,
    funnel,
    funnel_summary,
)
from feature_engineering_tk_spark.plans.inspect import inspect

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ev(spark, rows):
    return spark.createDataFrame(
        [(u, T0 + dt.timedelta(seconds=s), e) for u, s, e in rows],
        "user_id long, ts timestamp, event_type string",
    )


class TestFunnel:
    def test_strict_order_and_earliest_completion(self, spark):
        df = _ev(spark, [
            (1, 0, "view"), (1, 10, "click"), (1, 20, "purchase"),   # full
            (2, 0, "click"), (2, 10, "view"),                        # wrong order → view only
            (3, 0, "view"), (3, 5, "purchase"),                      # skips click
            (4, 0, "purchase"),                                      # nothing
        ])
        out = {r["user_id"]: r for r in funnel(df, ["view", "click", "purchase"]).collect()}
        assert out[1]["steps_completed"] == 3 and out[1]["completed"]
        assert out[1]["funnel_seconds"] == 20.0
        assert out[2]["steps_completed"] == 1
        assert out[3]["steps_completed"] == 1
        assert out[4]["steps_completed"] == 0
        assert out[4]["funnel_seconds"] is None

    def test_within_budget_counts_from_step_one(self, spark):
        df = _ev(spark, [
            (1, 0, "view"), (1, 50, "click"), (1, 200, "purchase"),
            # a later view would restart cheaper, but semantics pin the
            # EARLIEST step-1 — the budget is measured from it
        ])
        full = funnel(df, ["view", "click", "purchase"], within_seconds=300).first()
        assert full["completed"]
        tight = funnel(df, ["view", "click", "purchase"], within_seconds=100).first()
        assert tight["steps_completed"] == 2 and not tight["completed"]

    def test_same_timestamp_does_not_chain(self, spark):
        df = _ev(spark, [(1, 0, "view"), (1, 0, "click")])
        r = funnel(df, ["view", "click"]).first()
        assert r["steps_completed"] == 1  # strict t > prev

    def test_earliest_not_latest_view_used(self, spark):
        df = _ev(spark, [(1, 0, "view"), (1, 100, "view"), (1, 150, "click")])
        r = funnel(df, ["view", "click"]).first()
        assert r["completed"] and r["funnel_seconds"] == 150.0

    def test_duplicate_steps_rejected(self, spark):
        df = _ev(spark, [(1, 0, "view")])
        with pytest.raises(ValueError):
            funnel(df, ["view", "view"])

    def test_summary_counts_prefixes(self, spark):
        df = _ev(spark, [
            (1, 0, "view"), (1, 1, "click"), (1, 2, "purchase"),
            (2, 0, "view"), (2, 1, "click"),
            (3, 0, "view"),
            (4, 0, "error"),
        ])
        per = funnel(df, ["view", "click", "purchase"])
        s = {r["step"]: r["n_entities"] for r in funnel_summary(per, 3).collect()}
        assert s == {1: 3, 2: 2, 3: 1}

    def test_single_entity_shuffle(self, spark):
        df = _ev(spark, [(1, 0, "view"), (1, 1, "click")])
        plan = inspect(funnel(df, ["view", "click"]))
        assert len(plan.shuffles) + plan.broadcasts == 1, plan


class TestCohortRetention:
    def test_triangle(self, spark):
        rows = [
            (1, T0, "view"),                                 # cohort W0
            (1, T0 + dt.timedelta(days=7), "view"),          # W0 offset 1
            (2, T0, "view"),                                 # W0
            (3, T0 + dt.timedelta(days=7), "view"),          # cohort W1
            (3, T0 + dt.timedelta(days=21), "view"),         # W1 offset 2
        ]
        df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
        got = {
            (str(r["cohort_week"]), r["week_offset"]): r["n_users"]
            for r in cohort_retention(df).collect()
        }
        assert got == {
            ("2024-01-01", 0): 2,
            ("2024-01-01", 1): 1,
            ("2024-01-08", 0): 1,
            ("2024-01-08", 2): 1,
        }
