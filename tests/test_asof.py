"""As-of join parity vs pandas merge_asof, including tie (equal-ts)
semantics and tolerance."""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from feature_engineering_tk_spark.operators.asof import asof_join, asof_join_packed
from feature_engineering_tk_spark.plans.inspect import inspect


@pytest.fixture(scope="module")
def asof_frames(spark, transcripts_pdf):
    # anchors: user turns; features: assistant/tool turns carrying score
    pdf = transcripts_pdf
    left_pdf = (
        pdf[pdf.role == "user"][["conv_id", "turn_idx", "ts"]].reset_index(drop=True)
    )
    right_pdf = (
        pdf[pdf.role != "user"][["conv_id", "ts", "tokens"]]
        .drop_duplicates(subset=["conv_id", "ts"], keep="last")
        .reset_index(drop=True)
    )
    left = spark.createDataFrame(left_pdf)
    right = spark.createDataFrame(right_pdf)
    return left, right, left_pdf, right_pdf


def _oracle(left_pdf, right_pdf, tolerance=None):
    kw = {}
    if tolerance is not None:
        kw["tolerance"] = pd.Timedelta(seconds=tolerance)
    exp = pd.merge_asof(
        left_pdf.sort_values("ts", kind="mergesort"),
        right_pdf.sort_values("ts", kind="mergesort").rename(columns={"tokens": "tokens_asof"}),
        on="ts",
        by="conv_id",
        direction="backward",
        allow_exact_matches=True,
        **kw,
    )
    return exp.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


def _collect(df):
    return (
        df.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )


def test_asof_union_window(asof_frames):
    left, right, left_pdf, right_pdf = asof_frames
    got = _collect(asof_join(left, right, entity="conv_id", value_cols=["tokens"]))
    exp = _oracle(left_pdf, right_pdf)
    assert np.allclose(
        got["tokens_asof"].astype(float), exp["tokens_asof"].astype(float), equal_nan=True
    )


def test_asof_packed_small_right_side_broadcasts(asof_frames):
    """Spark picks the join by size: a small packed side is broadcast."""
    left, right, _, _ = asof_frames
    plan = inspect(asof_join_packed(left, right, entity="conv_id", value_cols=["tokens"]))
    assert plan.broadcasts >= 1 and plan.joins == ("BroadcastHashJoinExec",), plan


def test_asof_tolerance(asof_frames):
    left, right, left_pdf, right_pdf = asof_frames
    got = _collect(
        asof_join(left, right, entity="conv_id", value_cols=["tokens"], tolerance_seconds=120)
    )
    exp = _oracle(left_pdf, right_pdf, tolerance=120)
    assert np.allclose(
        got["tokens_asof"].astype(float), exp["tokens_asof"].astype(float), equal_nan=True
    )


def test_asof_exact_ts_tie_included(spark):
    """feature.ts == anchor.ts must match (<= semantics)."""
    left = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["a", "a"],
                "turn_idx": [0, 1],
                "ts": pd.to_datetime(["2024-01-01 00:00:00", "2024-01-01 00:10:00"]),
            }
        )
    )
    right = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["a", "a"],
                "ts": pd.to_datetime(["2024-01-01 00:00:00", "2024-01-01 00:10:00"]),
                "v": [1.0, 2.0],
            }
        )
    )
    for join in (asof_join, asof_join_packed):
        got = join(left, right, value_cols=["v"]).toPandas().sort_values("turn_idx")["v_asof"]
        assert got.tolist() == [1.0, 2.0], join


def test_range_join_agg_matches_bruteforce(spark, transcripts):
    """Bucketed range join == brute-force pandas range merge."""
    from feature_engineering_tk_spark.operators.asof import range_join_agg

    anchors = transcripts.filter(F.col("role") == "user").select(
        "conv_id", "turn_idx", "ts"
    )
    feats = transcripts.filter(F.col("role") == "assistant").select(
        "conv_id", "ts", F.col("tokens").cast("double").alias("tok")
    )
    got = (
        range_join_agg(
            anchors, feats, entity="conv_id", window_seconds=120.0,
            value_col="tok", funcs=("count", "sum", "max"),
        )
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )

    ap = anchors.toPandas()
    fp = feats.toPandas()
    m = ap.merge(fp, on="conv_id", suffixes=("", "_f"))
    m = m[(m.ts_f <= m.ts) & (m.ts_f >= m.ts - pd.Timedelta(seconds=120))]
    g = m.groupby(["conv_id", "turn_idx"])["tok"].agg(["count", "sum", "max"])
    exp = (
        ap.set_index(["conv_id", "turn_idx"])
        .join(g)
        .fillna({"count": 0})
        .reset_index()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert (got["tok_range_count"] == exp["count"]).all()
    assert np.allclose(
        got["tok_range_sum"].fillna(-1), exp["sum"].fillna(-1)
    )
    assert np.allclose(
        got["tok_range_max"].fillna(-1), exp["max"].fillna(-1)
    )


def test_range_join_agg_leakage_free(spark, transcripts):
    """Deleting future rows must not change any anchor's range aggregate."""
    from feature_engineering_tk_spark.operators.asof import range_join_agg

    anchors = transcripts.filter(F.col("role") == "user").select(
        "conv_id", "turn_idx", "ts"
    )
    feats = transcripts.select("conv_id", "ts", F.col("tokens").cast("double").alias("tok"))
    full = range_join_agg(anchors, feats, entity="conv_id", window_seconds=300.0,
                          value_col="tok", funcs=("sum",)).toPandas()
    cut = full["ts"].quantile(0.5)
    trunc = range_join_agg(
        anchors.filter(F.col("ts") <= F.lit(cut)),
        feats.filter(F.col("ts") <= F.lit(cut)),
        entity="conv_id", window_seconds=300.0, value_col="tok", funcs=("sum",),
    ).toPandas()
    merged = full[full.ts <= cut].merge(
        trunc, on=["conv_id", "turn_idx"], suffixes=("_full", "_trunc")
    )
    assert len(merged) == len(trunc)
    assert np.allclose(
        merged["tok_range_sum_full"].fillna(-1), merged["tok_range_sum_trunc"].fillna(-1)
    )


def test_asof_packed_matches_merge_asof(asof_frames):
    left, right, left_pdf, right_pdf = asof_frames
    got = _collect(asof_join_packed(left, right, entity="conv_id", value_cols=["tokens"]))
    exp = _oracle(left_pdf, right_pdf)
    assert np.allclose(
        got["tokens_asof"].astype(float), exp["tokens_asof"].astype(float), equal_nan=True
    )


def test_asof_packed_tolerance_and_ties(spark, asof_frames):
    left, right, left_pdf, right_pdf = asof_frames
    got = _collect(
        asof_join_packed(
            left, right, entity="conv_id", value_cols=["tokens"], tolerance_seconds=120
        )
    )
    exp = _oracle(left_pdf, right_pdf, tolerance=120)
    assert np.allclose(
        got["tokens_asof"].astype(float), exp["tokens_asof"].astype(float), equal_nan=True
    )
    # equal-ts feature matches (<= semantics)
    l2 = spark.createDataFrame(
        pd.DataFrame({"conv_id": ["a"], "turn_idx": [0],
                      "ts": pd.to_datetime(["2024-01-01 00:00:00"])})
    )
    r2 = spark.createDataFrame(
        pd.DataFrame({"conv_id": ["a"], "ts": pd.to_datetime(["2024-01-01 00:00:00"]),
                      "v": [7.0]})
    )
    assert asof_join_packed(l2, r2, value_cols=["v"]).first()["v_asof"] == 7.0


def test_asof_packed_missing_entity_is_null(spark):
    left = spark.createDataFrame(
        pd.DataFrame({"conv_id": ["a", "b"], "turn_idx": [0, 0],
                      "ts": pd.to_datetime(["2024-01-01", "2024-01-01"])})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"conv_id": ["a"], "ts": pd.to_datetime(["2023-12-31"]),
                      "v": [1.0]})
    )
    out = asof_join_packed(left, right, value_cols=["v"]).toPandas().set_index("conv_id")
    assert out.loc["a", "v_asof"] == 1.0 and np.isnan(out.loc["b", "v_asof"])


def test_asof_packed_reuses_left_partitioning(spark, transcripts_pdf):
    """Pre-partitioned left side: dropped onto a window-feature stack the
    packed as-of must add NO shuffle to what the stack alone plans (the
    union-tag path re-shuffles everything instead), under either join
    Spark picks: a broadcast hash join by default, a sort-merge join on
    the entity alone with broadcasting off. The entity is nullable, as
    a parquet read gives it, and neither join plans a nested-loop join
    or a null-safe (coalesce / IS NULL keyed) shuffle for NULL
    entities."""
    from pyspark.sql import types as T

    from feature_engineering_tk_spark.datagen import TRANSCRIPT_SCHEMA
    from feature_engineering_tk_spark.operators import window_features as W

    schema = T.StructType([T.StructField(f.name, f.dataType, True) for f in TRANSCRIPT_SCHEMA])
    transcripts = spark.createDataFrame(transcripts_pdf, schema).repartition(4, "conv_id").cache()
    transcripts.count()  # a cache keeps its partitioning once built
    feat = W.rolling_agg(transcripts, "tokens", "mean", 3)
    tools = transcripts.filter(F.col("tool").isNotNull()).select("conv_id", "ts", "tool")

    stack = inspect(feat)
    union = inspect(asof_join(feat, tools, value_cols=["tool"]))
    key = "spark.sql.autoBroadcastJoinThreshold"
    default, joins = spark.conf.get(key), {}
    for threshold in (default, "-1"):
        spark.conf.set(key, threshold)
        try:
            packed = inspect(asof_join_packed(feat, tools, value_cols=["tool"]))
        finally:
            spark.conf.set(key, default)
        assert packed.shuffles == stack.shuffles, packed
        assert len(packed.shuffles) < len(union.shuffles), union
        assert "Window" in packed.nodes, packed
        assert not any(
            "coalesce" in k or "IS NULL" in k for s in packed.shuffles for k in s.keys
        ), packed
        assert "BroadcastNestedLoopJoinExec" not in packed.joins, packed
        joins[threshold] = packed.joins
    assert joins == {default: ("BroadcastHashJoinExec",), "-1": ("SortMergeJoinExec",)}, joins


def _oracle_directed(left_pdf, right_pdf, direction, tolerance=None):
    kw = {}
    if tolerance is not None:
        kw["tolerance"] = pd.Timedelta(seconds=tolerance)
    exp = pd.merge_asof(
        left_pdf.sort_values("ts", kind="mergesort"),
        right_pdf.sort_values("ts", kind="mergesort").rename(
            columns={"tokens": "tokens_asof"}
        ),
        on="ts",
        by="conv_id",
        direction=direction,
        allow_exact_matches=True,
        **kw,
    )
    return exp.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


@pytest.mark.parametrize("direction", ["forward", "nearest"])
@pytest.mark.parametrize("tolerance", [None, 120.0])
def test_directed_matches_pandas(asof_frames, direction, tolerance):
    left, right, left_pdf, right_pdf = asof_frames
    got = _collect(
        asof_join(
            left,
            right,
            value_cols=["tokens"],
            direction=direction,
            tolerance_seconds=tolerance,
            allow_future=True,
        )
    )
    exp = _oracle_directed(left_pdf, right_pdf, direction, tolerance)
    assert np.array_equal(
        got["tokens_asof"].to_numpy(dtype=float),
        exp["tokens_asof"].to_numpy(dtype=float),
        equal_nan=True,
    )


def test_directed_nearest_tie_prefers_backward(spark):
    left = spark.createDataFrame(
        [("c1", 0, pd.Timestamp("2026-01-01 00:00:10").to_pydatetime())],
        "conv_id string, turn_idx int, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            ("c1", pd.Timestamp("2026-01-01 00:00:05").to_pydatetime(), 1.0),
            ("c1", pd.Timestamp("2026-01-01 00:00:15").to_pydatetime(), 2.0),
        ],
        "conv_id string, ts timestamp, v double",
    )
    got = asof_join(
        left, right, value_cols=["v"], direction="nearest", allow_future=True
    ).collect()
    assert got[0]["v_asof"] == 1.0  # equidistant -> backward wins


def test_directed_requires_future_opt_in(asof_frames):
    from feature_engineering_tk_spark.operators.window_features import FutureLeakError

    left, right, _, _ = asof_frames
    for d in ("forward", "nearest"):
        with pytest.raises(FutureLeakError, match="allow_future"):
            asof_join(left, right, direction=d)
    with pytest.raises(ValueError, match="direction"):
        asof_join(left, right, direction="sideways", allow_future=True)


def test_directed_single_exchange(asof_frames):
    """Every direction of the union-tag as-of is ONE shuffle and no join
    node (nearest runs two sorts over its one exchange)."""
    left, right, _, _ = asof_frames
    for direction in ("backward", "forward", "nearest"):
        plan = inspect(
            asof_join(
                left, right, value_cols=["tokens"], direction=direction,
                allow_future=True,
            )
        )
        assert len(plan.shuffles) == 1, (direction, plan)
        assert (plan.joins, plan.broadcasts) == ((), 0), (direction, plan)
