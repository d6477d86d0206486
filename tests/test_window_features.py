"""Golden-parity tests: engine window operators vs pandas oracles on
the deterministic transcript table (stable (conv_id, turn_idx) order)."""

import numpy as np
import pandas as pd
import pytest

from feature_engineering_tk_spark.operators import window_features as W

KEY = ["conv_id", "turn_idx"]


def collect_sorted(df):
    return df.toPandas().sort_values(KEY).reset_index(drop=True)


def oracle_sorted(pdf):
    return pdf.sort_values(KEY).reset_index(drop=True)


def test_lag_matches_pandas(transcripts, transcripts_pdf):
    got = collect_sorted(W.with_lag(transcripts, "tokens", 1))
    exp = transcripts_pdf.copy()
    exp["tokens_lag1"] = exp.sort_values(KEY).groupby("conv_id")["tokens"].shift(1)
    exp = oracle_sorted(exp)
    assert np.allclose(
        got["tokens_lag1"].astype(float), exp["tokens_lag1"].astype(float), equal_nan=True
    )


def test_lead_requires_opt_in(transcripts):
    with pytest.raises(W.FutureLeakError):
        W.with_lead(transcripts, "tokens", 1)
    out = W.with_lead(transcripts, "tokens", 1, allow_future=True)
    assert "tokens_lead1" in out.columns


def test_turn_gap(transcripts, transcripts_pdf):
    got = collect_sorted(W.with_turn_gap(transcripts))
    exp = transcripts_pdf.sort_values(KEY).copy()
    exp["turn_gap_s"] = exp.groupby("conv_id")["ts"].diff().dt.total_seconds()
    exp = oracle_sorted(exp)
    assert np.allclose(got["turn_gap_s"], exp["turn_gap_s"], equal_nan=True, atol=1e-6)


def test_rolling_mean(transcripts, transcripts_pdf):
    got = collect_sorted(W.rolling_agg(transcripts, "tokens", "mean", window_rows=5))
    exp = transcripts_pdf.sort_values(KEY).copy()
    exp["tokens_roll_mean5"] = (
        exp.groupby("conv_id")["tokens"].rolling(5, min_periods=1).mean().reset_index(0, drop=True)
    )
    exp = oracle_sorted(exp)
    assert np.allclose(got["tokens_roll_mean5"], exp["tokens_roll_mean5"], equal_nan=True)


def test_rolling_std_ddof1(transcripts, transcripts_pdf):
    got = collect_sorted(W.rolling_agg(transcripts, "score", "std", window_rows=4))
    exp = transcripts_pdf.sort_values(KEY).copy()
    exp["score_roll_std4"] = (
        exp.groupby("conv_id")["score"].rolling(4, min_periods=1).std().reset_index(0, drop=True)
    )
    exp = oracle_sorted(exp)
    assert np.allclose(
        got["score_roll_std4"], exp["score_roll_std4"], equal_nan=True, atol=1e-9
    )


def test_rolling_time_agg(transcripts, transcripts_pdf):
    got = collect_sorted(W.rolling_time_agg(transcripts, "tokens", "sum", window_seconds=600))
    exp = transcripts_pdf.sort_values(["conv_id", "ts"]).set_index("ts")
    r = (
        exp.groupby("conv_id")["tokens"]
        .rolling("600s", closed="both")
        .sum()
        .reset_index()
        .rename(columns={"tokens": "oracle"})
    )
    exp = exp.reset_index().merge(r, on=["conv_id", "ts"])
    exp = oracle_sorted(exp)
    assert np.allclose(got["tokens_troll_sum"], exp["oracle"], equal_nan=True)


def test_cumulative_sum(transcripts, transcripts_pdf):
    got = collect_sorted(W.cumulative_agg(transcripts, "tokens", "sum"))
    exp = transcripts_pdf.sort_values(KEY).copy()
    exp["tokens_cum_sum"] = exp.groupby("conv_id")["tokens"].cumsum()
    exp = oracle_sorted(exp)
    assert np.allclose(got["tokens_cum_sum"], exp["tokens_cum_sum"])


def test_forward_fill(transcripts, transcripts_pdf):
    got = collect_sorted(W.forward_fill(transcripts, ["score"]))
    exp = transcripts_pdf.sort_values(KEY).copy()
    exp["score"] = exp.groupby("conv_id")["score"].ffill()
    exp = oracle_sorted(exp)
    assert np.allclose(got["score"], exp["score"], equal_nan=True)


def test_backward_fill(transcripts, transcripts_pdf):
    with pytest.raises(W.FutureLeakError):
        W.backward_fill(transcripts, ["score"])
    got = collect_sorted(W.backward_fill(transcripts, ["score"], allow_future=True))
    exp = transcripts_pdf.sort_values(KEY).copy()
    exp["score"] = exp.groupby("conv_id")["score"].bfill()
    exp = oracle_sorted(exp)
    assert np.allclose(got["score"], exp["score"], equal_nan=True)


def test_interpolate_linear(transcripts, transcripts_pdf):
    got = collect_sorted(W.interpolate_linear(transcripts, ["score"]))
    exp = transcripts_pdf.sort_values(KEY).copy()
    exp["score"] = (
        exp.groupby("conv_id")["score"]
        .apply(lambda s: s.interpolate(method="linear"))
        .reset_index(0, drop=True)
    )
    exp = oracle_sorted(exp)
    assert np.allclose(got["score"], exp["score"], equal_nan=True, atol=1e-12)


def test_sessionize_counts(transcripts, transcripts_pdf):
    got = collect_sorted(W.sessionize(transcripts, gap_seconds=1800.0))
    exp = transcripts_pdf.sort_values(KEY).copy()
    gap = exp.groupby("conv_id")["ts"].diff().dt.total_seconds()
    is_new = gap.isna() | (gap > 1800.0)
    exp["session_id"] = is_new.groupby(exp["conv_id"]).cumsum() - 1
    exp = oracle_sorted(exp)
    assert (got["session_id"].to_numpy() == exp["session_id"].to_numpy()).all()
    # sanity: sessions exist (generator injects >30min jumps)
    assert got["session_id"].max() >= 1


def test_group_transform_std_ddof1(transcripts, transcripts_pdf):
    got = collect_sorted(
        W.group_transform(transcripts, ["role"], "tokens", funcs=["mean", "std"])
    )
    exp = transcripts_pdf.copy()
    exp["tokens_role_mean"] = exp.groupby("role")["tokens"].transform("mean")
    exp["tokens_role_std"] = exp.groupby("role")["tokens"].transform("std")
    exp = oracle_sorted(exp)
    assert np.allclose(got["tokens_role_mean"], exp["tokens_role_mean"])
    assert np.allclose(got["tokens_role_std"], exp["tokens_role_std"])


def test_leakage_truncate_future_invariance(spark, transcripts, transcripts_pdf):
    """North-rule leakage test: features at anchor t are unchanged when
    all rows with ts > t are deleted."""
    from pyspark.sql import functions as F

    feat = W.rolling_agg(
        W.with_lag(W.sessionize(transcripts), "tokens", 1), "tokens", "mean", 5
    )
    cutoff = transcripts_pdf["ts"].quantile(0.5)
    full = collect_sorted(feat.filter(F.col("ts") <= F.lit(cutoff)))
    truncated_in = transcripts.filter(F.col("ts") <= F.lit(cutoff))
    trunc = collect_sorted(
        W.rolling_agg(
            W.with_lag(W.sessionize(truncated_in), "tokens", 1), "tokens", "mean", 5
        )
    )
    for c in ["session_id", "tokens_lag1", "tokens_roll_mean5"]:
        assert np.allclose(
            full[c].astype(float), trunc[c].astype(float), equal_nan=True
        ), c


def test_tumbling_agg_epoch_aligned(spark, transcripts):
    """Tumbling buckets align to the epoch and partition counts exactly."""
    from pyspark.sql import functions as F

    from feature_engineering_tk_spark.operators.window_features import tumbling_agg

    got = (
        tumbling_agg(
            transcripts, 3600, keys=["role"],
            aggs={"n": F.count(F.lit(1)), "tok": F.sum("tokens")},
        )
        .toPandas()
        .sort_values(["role", "window_start"])
        .reset_index(drop=True)
    )
    pdf = transcripts.select("role", "ts", "tokens").toPandas()
    pdf["window_start"] = pdf["ts"].dt.floor("1h")
    exp = (
        pdf.groupby(["role", "window_start"])
        .agg(n=("tokens", "size"), tok=("tokens", "sum"))
        .reset_index()
        .sort_values(["role", "window_start"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exp)
    assert (got["n"].values == exp["n"].values).all()
    assert (got["tok"].values == exp["tok"].values).all()
    # every turn lands in exactly one bucket
    assert got["n"].sum() == len(pdf)


def test_group_transform_join_matches_window_form(spark, transcripts):
    """Skew-safe join-back variant produces identical columns/values to
    the whole-partition window form."""
    import pandas as pd

    from feature_engineering_tk_spark.operators.window_features import (
        group_transform,
        group_transform_join,
    )

    a = (
        group_transform(transcripts, ["conv_id"], "tokens", ["mean", "sum", "max"])
        .select("conv_id", "turn_idx", "tokens_conv_id_mean", "tokens_conv_id_sum", "tokens_conv_id_max")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    b = (
        group_transform_join(transcripts, ["conv_id"], "tokens", ["mean", "sum", "max"])
        .select("conv_id", "turn_idx", "tokens_conv_id_mean", "tokens_conv_id_sum", "tokens_conv_id_max")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    pd.testing.assert_frame_equal(a, b, check_exact=False, rtol=1e-12)


def test_rolling_median_pandas_parity_and_guard(spark, transcripts, transcripts_pdf):
    import numpy as np
    import pytest as _pytest

    from feature_engineering_tk_spark.operators.window_features import rolling_median

    out = (
        rolling_median(transcripts, "tokens", window_rows=3)
        .select("conv_id", "turn_idx", "tokens_roll_median3")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    exp = (
        transcripts_pdf.sort_values(["conv_id", "turn_idx"])
        .groupby("conv_id")["tokens"]
        .apply(lambda s: s.rolling(3, min_periods=1).median())
        .reset_index(drop=True)
    )
    assert np.allclose(out["tokens_roll_median3"].to_numpy(), exp.to_numpy())

    with _pytest.raises(ValueError, match="max_group_rows"):
        rolling_median(transcripts, "tokens", max_group_rows=2)


def test_flagship_feature_vector_allclose(spark, transcripts, transcripts_pdf):
    """THE north-star check, end to end: the full flagship pipeline
    (sessionize + lag + turn gap + rolling mean + cumulative sum +
    LOCF + as-of last-tool join) against a complete pandas oracle —
    every feature at every (conv_id, turn_idx) anchor numpy-allclose,
    text/tool values exactly equal, under stable ordering."""
    import numpy as np

    from jobs.feature_job import build_pipeline

    # run the stages without checkpointing machinery
    pipe = build_pipeline(workdir="/tmp/_unused_fv", gap_seconds=1800.0)
    cur = transcripts
    for stage in pipe.stages:
        cur = stage.fn(cur)
    got = (
        cur.select(
            "conv_id", "turn_idx", "session_id", "text_len_lag1", "turn_gap_s",
            "tokens_roll_mean5", "tokens_cum_sum", "score_ffill", "last_tool",
        )
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )

    # pandas oracle
    pdf = transcripts_pdf.sort_values(["conv_id", "ts", "turn_idx"]).copy()
    g = pdf.groupby("conv_id", sort=False)
    gap = (pdf["ts"] - g["ts"].shift(1)).dt.total_seconds()
    pdf["turn_gap_s"] = gap
    pdf["session_id"] = (gap > 1800.0).fillna(False).astype(int).groupby(pdf["conv_id"]).cumsum()
    pdf["text_len_lag1"] = g["text"].shift(1).str.len()
    pdf["tokens_roll_mean5"] = g["tokens"].transform(
        lambda s: s.rolling(5, min_periods=1).mean()
    )
    pdf["tokens_cum_sum"] = g["tokens"].cumsum()
    pdf["score_ffill"] = g["score"].ffill()
    # as-of: latest tool value with tool_ts <= anchor ts per conv
    pdf["last_tool"] = g["tool"].ffill()
    exp = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    got = got.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)

    assert len(got) == len(exp)
    for col in ["session_id", "tokens_cum_sum"]:
        assert (got[col].to_numpy() == exp[col].to_numpy()).all(), col
    for col in ["text_len_lag1", "turn_gap_s", "tokens_roll_mean5", "score_ffill"]:
        a, b = got[col].to_numpy(dtype=float), exp[col].to_numpy(dtype=float)
        both_nan = np.isnan(a) & np.isnan(b)
        assert (both_nan | np.isclose(a, b, rtol=1e-9, equal_nan=False)).all(), col
    # exact equality for the text-typed feature (per-turn text contract)
    assert (
        got["last_tool"].fillna("<NA>").tolist()
        == exp["last_tool"].fillna("<NA>").tolist()
    )


def test_expanding_impute_past_only(spark):
    """Fill equals the mean of STRICTLY EARLIER non-null values —
    never the anchor row or anything after it."""
    import pandas as pd

    from feature_engineering_tk_spark.operators.window_features import expanding_impute

    pdf = pd.DataFrame(
        {
            "conv_id": ["c"] * 6,
            "turn_idx": range(6),
            "v": [2.0, None, 4.0, None, 100.0, None],
        }
    )
    df = spark.createDataFrame(pdf)
    out = (
        expanding_impute(df, ["v"], func="mean")
        .orderBy("turn_idx")
        .toPandas()["v"]
        .tolist()
    )
    # idx1: mean(2)=2; idx3: mean(2,4)=3; idx5: mean(2,4,100)
    assert out == [2.0, 2.0, 4.0, 3.0, 100.0, pytest.approx((2 + 4 + 100) / 3)]
    # leading null stays null (no past)
    pdf2 = pd.DataFrame({"conv_id": ["c"], "turn_idx": [0], "v": [None]})
    df2 = spark.createDataFrame(pdf2, "conv_id string, turn_idx int, v double")
    assert expanding_impute(df2, ["v"]).first()["v"] is None


class TestContextWindow:
    def test_history_is_past_only_and_positional(self, spark):
        from feature_engineering_tk_spark.operators.window_features import context_window

        df = spark.createDataFrame(
            [("c1", 0, "a"), ("c1", 1, None), ("c1", 2, "c"), ("c1", 3, "d"), ("c2", 0, "z")],
            "conv_id string, turn_idx int, text string",
        )
        out = {
            (r["conv_id"], r["turn_idx"]): (r["context"], r["context_n"])
            for r in context_window(df, "text", n_prev=2, sep="|").collect()
        }
        assert out[("c1", 0)] == ("", 0)
        assert out[("c1", 1)] == ("a", 1)
        # NULL turn pads as '' so history stays positional
        assert out[("c1", 2)] == ("a|", 2)
        assert out[("c1", 3)] == ("|c", 2)
        assert out[("c2", 0)] == ("", 0)

    def test_shares_entity_shuffle_with_other_windows(self, transcripts):
        from feature_engineering_tk_spark.operators.window_features import (
            context_window,
            with_lag,
        )
        from feature_engineering_tk_spark.plans.inspect import inspect

        base = with_lag(transcripts, "text")
        out = context_window(base, "text", n_prev=3)
        base_plan, plan = inspect(base), inspect(out)
        # the context window reuses with_lag's conv_id exchange
        assert (plan.shuffles, plan.broadcasts) == (base_plan.shuffles, base_plan.broadcasts)


class TestResample:
    def test_daily_buckets_per_entity(self, spark):
        import datetime as dt

        from feature_engineering_tk_spark.operators.window_features import resample

        rows = [
            ("a", dt.datetime(2024, 1, 1, 5), 1.0),
            ("a", dt.datetime(2024, 1, 1, 23), 2.0),
            ("a", dt.datetime(2024, 1, 2, 0), 4.0),
            ("b", dt.datetime(2024, 1, 1, 12), 8.0),
        ]
        df = spark.createDataFrame(rows, "k string, ts timestamp, value double")
        out = {(r["k"], str(r["bucket"])): r
               for r in resample(df, entity="k",
                                 aggs={"*": "count", "value": "sum"}).collect()}
        d1, d2 = "2024-01-01 00:00:00", "2024-01-02 00:00:00"
        assert out[("a", d1)]["n_rows"] == 2 and out[("a", d1)]["value_sum"] == 3.0
        assert out[("a", d2)]["n_rows"] == 1 and out[("a", d2)]["value_sum"] == 4.0
        assert out[("b", d1)]["value_sum"] == 8.0

    def test_hourly_no_entity_and_agg_names(self, spark):
        import datetime as dt

        from feature_engineering_tk_spark.operators.window_features import resample

        rows = [(dt.datetime(2024, 1, 1, 5, 10), 1.0),
                (dt.datetime(2024, 1, 1, 5, 50), 3.0)]
        df = spark.createDataFrame(rows, "ts timestamp, value double")
        r = resample(df, every="hour",
                     aggs={"value": "avg"}).first()
        assert r["value_avg"] == 2.0

    def test_bad_agg_rejected(self, spark):
        import datetime as dt

        from feature_engineering_tk_spark.operators.window_features import resample

        df = spark.createDataFrame(
            [(dt.datetime(2024, 1, 1), 1.0)], "ts timestamp, value double"
        )
        import pytest as _pt
        with _pt.raises(ValueError):
            resample(df, aggs={"value": "median"})


def test_rows_since_event_prior_frame(spark):
    from pyspark.sql import functions as F

    from feature_engineering_tk_spark.operators.window_features import (
        rows_since_event,
    )

    df = spark.createDataFrame(
        [("c", 0, "err"), ("c", 1, "ok"), ("c", 2, "err"), ("c", 3, "ok"),
         ("d", 0, "ok")],
        "conv_id string, turn_idx int, text string",
    )
    out = rows_since_event(df, F.col("text") == "err")
    got = {(r.conv_id, r.turn_idx): r.rows_since_event for r in out.collect()}
    assert got[("c", 0)] is None  # no prior row qualifies
    assert got[("c", 1)] == 1
    # the frame ends at the PREVIOUS row: turn 2 sees turn 0's err, not
    # its own flag
    assert got[("c", 2)] == 2
    assert got[("c", 3)] == 1
    assert got[("d", 0)] is None  # never crosses conversations


@pytest.mark.parametrize("name", ["_rn", "_ip_pos", "_n"])
def test_window_helpers_keep_a_callers_column(spark, name):
    """rows_since_event and interpolate_linear add no temp column, and
    remove_duplicates names its own after none of the input's, so a
    caller's own column of any name passes through all of them
    unchanged."""
    from pyspark.sql import functions as F

    from feature_engineering_tk_spark.operators.rows import remove_duplicates

    df = spark.createDataFrame(
        [("c", i, v, 100 + i) for i, v in enumerate([1.0, None, 3.0, None])],
        "conv_id string, turn_idx int, v double, mine long",
    ).withColumn(name, F.col("mine"))
    key = ["conv_id", "turn_idx"]
    for out in (
        W.rows_since_event(df, F.col("v").isNotNull()),
        W.interpolate_linear(df, ["v"]),
        *[remove_duplicates(df, subset=key, keep=k) for k in ("first", "last", False)],
    ):
        assert out.columns[: len(df.columns)] == df.columns
        got = [r[name] for r in out.orderBy("turn_idx").collect()]
        assert got == [100, 101, 102, 103]
