"""Reference-shaped facade (api.py): a feature_engineering_tk user's
call sites run unchanged against the Spark engine, with op history and
transformer persistence."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def mixed_df(spark):
    pdf = pd.DataFrame(
        {
            "conv_id": ["a"] * 5 + ["b"] * 5,
            "turn_idx": list(range(5)) * 2,
            "numeric1": [1.0, 2.0, None, 4.0, 5.0, 2.0, 3.0, 4.0, None, 6.0],
            "numeric2": [10.0, 20.0, 30.0, 40.0, 50.0, 15.0, 25.0, 35.0, 45.0, 55.0],
            "categorical": ["A", "B", "A", "C", "B", "A", "B", "C", "A", "B"],
            "text": ["  Hello  World ", "FOO bar", "x", "Y  z", "ab"] * 2,
            "const": [7.0] * 10,
            "date": pd.date_range("2024-01-01", periods=10, freq="D"),
        }
    )
    return pdf, spark.createDataFrame(pdf)


def test_preprocessor_reference_call_sites(mixed_df):
    from feature_engineering_tk_spark import DataPreprocessor

    pdf, df = mixed_df
    prep = DataPreprocessor(df)
    prep.handle_missing_values(
        strategy="mean", columns=["numeric1"]
    ).remove_constant_columns().clean_string_columns(
        ["text"], ["strip", "lower", "remove_extra_spaces"]
    ).extract_string_length(["text"])

    out = prep.df.orderBy("conv_id", "turn_idx").toPandas()
    assert "const" not in out.columns
    assert out["numeric1"].notna().all()
    expected_mean = pdf["numeric1"].mean()
    assert np.isclose(out["numeric1"].iloc[2], expected_mean)
    assert out["text"].iloc[0] == "hello world"
    assert out["text_length"].iloc[0] == len("hello world")
    assert len(prep.operation_history) == 4
    summary = prep.get_preprocessing_summary()
    assert "handle_missing_values" in summary and "1." in summary


@pytest.mark.parametrize("strategy", ["forward_fill", "backward_fill", "interpolate"])
def test_preprocessor_sequence_imputation_matches_window_operators(mixed_df, strategy):
    """The facade's sequence strategies are the window operators, with
    the caller's entity and order (non-defaults here) passed through."""
    from feature_engineering_tk_spark import DataPreprocessor
    from feature_engineering_tk_spark.operators import window_features as W

    _, df = mixed_df
    cols, entity, order = ["numeric1"], "categorical", "numeric2"
    got = DataPreprocessor(df).handle_missing_values(
        strategy=strategy, columns=cols, entity=entity, order=order
    ).df
    want = {
        "forward_fill": lambda: W.forward_fill(df, cols, entity, order),
        "backward_fill": lambda: W.backward_fill(df, cols, entity, order, allow_future=True),
        "interpolate": lambda: W.interpolate_linear(df, cols, entity, order),
    }[strategy]()
    key = ["conv_id", "turn_idx"]
    pd.testing.assert_frame_equal(
        got.toPandas().sort_values(key).reset_index(drop=True),
        want.toPandas().sort_values(key).reset_index(drop=True),
    )


def test_preprocessor_outliers_and_quality(spark):
    from feature_engineering_tk_spark import DataPreprocessor

    pdf = pd.DataFrame({"v": [1.0, 2.0, 3.0, 4.0, 100.0], "k": list("abcde")})
    prep = DataPreprocessor(spark.createDataFrame(pdf))
    prep.handle_outliers(["v"], method="iqr", action="cap")
    capped = prep.df.orderBy("k").toPandas()["v"]
    q1, q3 = pdf["v"].quantile([0.25, 0.75])
    hi = q3 + 1.5 * (q3 - q1)
    assert np.isclose(capped.max(), hi)

    quality = prep.validate_data_quality()
    assert isinstance(quality, dict)


def test_feature_engineer_chain_and_persistence(mixed_df, tmp_path):
    from feature_engineering_tk_spark import FeatureEngineer

    pdf, df = mixed_df
    fe = FeatureEngineer(df)
    fe.encode_categorical_label(["categorical"]).scale_features(
        ["numeric2"], method="standard"
    ).create_polynomial_features(["numeric2"], degree=2).create_datetime_features(
        "date", ["year", "dayofweek"]
    )
    out = fe.df.orderBy("conv_id", "turn_idx").toPandas()
    assert out["categorical"].tolist()[:5] == [0, 1, 0, 2, 1]
    assert np.isclose(out["numeric2"].std(ddof=0), 1.0)
    assert "numeric2_squared" in out.columns
    assert out["date_dayofweek"].tolist() == pdf.sort_values(["conv_id", "turn_idx"])[
        "date"
    ].dt.dayofweek.tolist()
    assert "standard_scaler" in fe.scalers  # reference attribute contract

    # persistence round trip: reload and re-apply to fresh data
    path = fe.save_transformers(str(tmp_path / "t.json"))
    fe2 = FeatureEngineer(df).load_transformers(path)
    assert set(fe2.transformers) == set(fe.transformers)
    reapplied = fe2.transformers["label_encode_categorical"].transform(df).toPandas()
    assert sorted(reapplied["categorical"].unique()) == [0, 1, 2]


def test_data_analyzer_surface(mixed_df):
    from feature_engineering_tk_spark import DataAnalyzer

    pdf, df = mixed_df
    an = DataAnalyzer(df)
    info = an.get_basic_info()
    assert info["rows"] == 10
    names, mat = an.get_correlation_matrix(["numeric1", "numeric2"])
    assert names == ["numeric1", "numeric2"]
    # pairwise-complete parity with pandas
    assert np.isclose(mat[0][1], pdf["numeric1"].corr(pdf["numeric2"]))

    flags = an.detect_outliers_iqr("numeric2").toPandas()
    assert "numeric2_is_outlier" in flags.columns

    misclass = an.detect_misclassified_categorical(max_unique=20, max_ratio=1.1)
    # turn_idx: 5 distinct ints over 10 rows → flagged with lenient ratio
    assert any(d["column"] == "turn_idx" for d in misclass)


def test_facade_exports():
    import feature_engineering_tk_spark as fe

    for name in ("DataPreprocessor", "FeatureEngineer", "DataAnalyzer",
                 "TargetAnalyzer", "FeatureSelector"):
        assert getattr(fe, name) is not None


def test_transcript_analyzer_facade(spark):
    import datetime as dt

    import feature_engineering_tk_spark as fe

    df = spark.createDataFrame(
        [
            ("a", 0, "user", "hi", None, dt.datetime(2024, 1, 1, 0, 0, 0)),
            ("a", 1, "assistant", "hello", None, dt.datetime(2024, 1, 1, 0, 0, 5)),
        ],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    ta = fe.TranscriptAnalyzer(df)
    v = ta.validate().first()
    assert v["is_valid"]
    s = ta.stats().first()
    assert s["n_turns"] == 2
    lat = {r["turn_idx"]: r["latency_s"] for r in ta.response_latency().collect()}
    assert lat[1] == 5.0
    masked = ta.loss_mask().collect()
    assert {r["loss_weight"] for r in masked} == {0.0, 1.0}
    assert ta.dedup().count() == 1
    import json
    assert json.loads(ta.sft_export().first()["json_line"])["conv_id"] == "a"


def test_transcript_analyzer_round4_methods(spark):
    import datetime as dt

    import feature_engineering_tk_spark as fe
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            ("a", 0, "user", "hi", None, dt.datetime(2024, 1, 1, 0, 0, 0)),
            ("a", 1, "tool", "run", "search", dt.datetime(2024, 1, 1, 0, 0, 2)),
            ("a", 2, "tool", "run", "fetch", dt.datetime(2024, 1, 1, 0, 0, 4)),
            ("b", 0, "user", "hi", None, dt.datetime(2024, 1, 2, 0, 0, 0)),
        ],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    ta = fe.TranscriptAnalyzer(df.withColumn("reward", F.length("text").cast("double")))
    dr = {(r.conv_id, r.turn_idx): r.discounted_return for r in ta.discounted_return().collect()}
    assert dr[("a", 0)] == 2.0  # len('hi')
    ps = ta.prefix_sharing(k=1).collect()
    assert max(r.n_convs for r in ps) == 2  # 'hi' head shared by a and b
    tt = {(r.src_tool, r.dst_tool) for r in ta.tool_transitions().collect()}
    assert ("search", "fetch") in tt and ("<start>", "search") in tt
    assert ta.branch_points().count() >= 0  # runs and returns the fork schema


def test_eval_suite_facade(spark):
    import feature_engineering_tk_spark as fe

    battles = spark.createDataFrame(
        [("m1", "m2", "m1"), ("m1", "m2", "m2"), ("m1", "m2", "m1")],
        "model_a string, model_b string, winner string",
    )
    es = fe.EvalSuite(battles)
    wr = {r.model: r.winrate for r in es.winrates().collect()}
    assert wr["m1"] == 2 / 3 and wr["m2"] == 1 / 3
    pb = es.position_bias().first()
    assert pb.n_a_wins == 2 and pb.n_b_wins == 1

    pairs = spark.createDataFrame(
        [("a b c", "a b c"), ("x", "y")], "pred string, ref string"
    )
    gen = fe.EvalSuite(pairs)
    b = gen.bleu(max_n=2).collect()
    assert {r.bleu for r in b} == {1.0, 0.0}
    ro = gen.rouge(max_n=1).collect()
    assert {r.rouge1_f for r in ro} == {1.0, 0.0}
    assert gen.qa_metrics().filter("exact_match = 1").count() == 1
    nov = fe.EvalSuite(
        spark.createDataFrame([(1, "a b q")], "doc_id int, text string")
    ).ngram_novelty(spark.createDataFrame([("a b",)], "text string"), n=2)
    r = nov.first()
    assert (r.novel_grams, r.total_grams) == (1, 2)


def test_classifier_metrics_facade(spark):
    import feature_engineering_tk_spark as fe

    scored = spark.createDataFrame(
        [(0.9, 1), (0.8, 1), (0.3, 0), (0.2, 0), (0.6, 0), (0.4, 1)],
        "score double, label int",
    )
    es = fe.EvalSuite(scored)
    auc = es.roc_auc("score", "label").first()
    assert auc["n_pos"] == 3 and auc["n_neg"] == 3
    # pairs: (.9,.8,.4) vs (.3,.2,.6): concordant 8/9 (.4 loses to .6)
    assert auc["auc"] == pytest.approx(8 / 9)
    cm = es.confusion("score", "label", 0.5).first()
    assert (cm["tp"], cm["fp"], cm["fn"], cm["tn"]) == (2, 1, 1, 2)
    assert es.roc_curve("score", "label").count() == 6
    assert es.average_precision("score", "label").first()["n_pos"] == 3
    assert es.log_loss("score", "label").first()["n"] == 6
    an = fe.DataAnalyzer(
        spark.createDataFrame([("a",), ("a",), ("b",)], "v string")
    )
    hh = an.heavy_hitters("v", k=1).first()
    assert (hh["value"], hh["n_rows"]) == ("a", 2)
    spec = {r["frequency"]: r["n_values"] for r in an.frequency_spectrum("v").collect()}
    assert spec == {2: 1, 1: 1}


def test_transcript_fingerprint_facade(spark):
    import feature_engineering_tk_spark as fe

    df = spark.createDataFrame(
        [("a", 0, "user"), ("a", 1, "assistant")],
        "conv_id string, turn_idx int, role string",
    )
    ta = fe.TranscriptAnalyzer(df)
    f1 = ta.fingerprint(hash_mode="md5").first()
    f2 = fe.TranscriptAnalyzer(df.repartition(5)).fingerprint(hash_mode="md5").first()
    assert f1.n_rows == 2 and (f1.fingerprint, f1.n_rows) == (f2.fingerprint, f2.n_rows)


def test_feature_engineer_suggested_encoders(mixed_df):
    """The facade exposes the encoders the reference's suggestion engine
    recommends (suggestions.py:58,173): count/target encoding, rare
    grouping, crosses, cyclical parts, power/rank transforms."""
    from feature_engineering_tk_spark import FeatureEngineer

    pdf, df = mixed_df
    fe = FeatureEngineer(df)
    fe.encode_categorical_count(["categorical"], normalize=True)
    fe.encode_categorical_target(["categorical"], target="numeric2", smoothing=2.0)
    fe.group_rare_categories(["categorical"], min_count=4)
    fe.create_feature_cross(["categorical", "conv_id"], out="cx")
    fe.create_cyclical_features("date", ["dayofweek"])
    fe.apply_rank_transform(["numeric2"])
    out = fe.df.orderBy("conv_id", "turn_idx").toPandas()

    vc = pdf["categorical"].value_counts()
    exp_freq = pdf.sort_values(["conv_id", "turn_idx"])["categorical"].map(vc / len(pdf))
    assert np.allclose(out["categorical_count"], exp_freq.to_numpy())

    prior = pdf["numeric2"].mean()
    g = pdf.groupby("categorical")["numeric2"]
    tmap = (g.sum() + 2.0 * prior) / (g.count() + 2.0)
    exp_t = pdf.sort_values(["conv_id", "turn_idx"])["categorical"].map(tmap)
    assert np.allclose(out["categorical_target_enc"], exp_t.to_numpy())

    # C has 2 occurrences < 4 → lumped; crosses use the LUMPED value
    assert set(out["categorical"]) == {"A", "B", "__other__"}
    assert (out["cx"] == out["categorical"] + "\x1f" + out["conv_id"]).all()

    assert "date_dayofweek_sin" in out.columns and "date_dayofweek_cos" in out.columns
    u = out["numeric2_rank_uniform"]
    assert u.min() == 0.0 and u.max() == 1.0

    # transformers registry holds the fitted state (reference contract)
    assert "count_encode_categorical" in fe.encoders
    assert "target_encode_categorical" in fe.encoders

    fe.apply_power_transform(["numeric2_rank_uniform"])
    assert "numeric2_rank_uniform_yj" in fe.df.columns
    assert "yeojohnson_scaler" in fe.scalers


def test_round4_new_facades(spark):
    import feature_engineering_tk_spark as fe
    from pyspark.sql import functions as F

    # regression + agreement on EvalSuite
    scored = spark.createDataFrame(
        [(3.0, 2.0), (1.0, 2.0), (8.0, 6.0), (4.0, 4.0)], "pred double, y double"
    )
    es = fe.EvalSuite(scored)
    assert es.regression_metrics("pred", "y").first()["mae"] == pytest.approx(1.0)
    assert es.residual_quantiles("pred", "y").count() == 5
    ann = spark.createDataFrame(
        [(0, "a", "x"), (0, "b", "x"), (1, "a", "y"), (1, "b", "y")],
        "item_id int, rater_id string, label string",
    )
    ea = fe.EvalSuite(ann)
    assert ea.krippendorff_alpha().first()["alpha"] == pytest.approx(1.0)
    assert ea.cohen_kappa(rater_a="a", rater_b="b").first()["kappa"] == pytest.approx(1.0)
    assert ea.fleiss_kappa().first()["kappa"] == pytest.approx(1.0)

    # MAD + approx distinct on DataAnalyzer
    df = spark.range(0, 500).select(
        (F.col("id") % 97).cast("double").alias("v"),
        (F.col("id") % 5).cast("string").alias("g"),
    )
    an = fe.DataAnalyzer(df)
    assert "v_is_outlier" in an.detect_outliers_mad("v").columns
    rows = an.approx_distinct("v", by="g", check_rel_error=0.05).collect()
    assert len(rows) == 5 and all(r["within_tol"] for r in rows)

    # temporal_split chains on DataPreprocessor and records history
    ts_df = spark.createDataFrame(
        [(f"2024-01-{d:02d}",) for d in range(1, 31)], "ts string"
    ).select(F.col("ts").cast("timestamp").alias("ts"))
    pp = fe.DataPreprocessor(ts_df).temporal_split("ts", "2024-01-15", "2024-01-25")
    assert pp.df.where("split = 'val'").count() == 10
    assert pp.operation_history[-1]["operation"] == "temporal_split"


def test_ranking_and_reshape_facades(spark):
    import feature_engineering_tk_spark as fe
    from pyspark.sql import functions as F

    ranked = spark.createDataFrame(
        [(1, 1, 2.0), (1, 2, 0.0), (1, 3, 1.0), (2, 1, 0.0), (2, 2, 1.0)],
        "query_id int, rank int, relevance double",
    )
    es = fe.EvalSuite(ranked)
    per_q = es.ranking_metrics(k=3)
    assert per_q.count() == 2
    row = es.ranking_summary(k=3).first()
    assert row.n_queries == 2 and 0.0 < row.mrr <= 1.0

    wide = spark.createDataFrame(
        [(1, "a", 1.0), (1, "b", 2.0), (2, "a", 3.0)],
        "id int, cat string, v double",
    )
    eng = fe.FeatureEngineer(wide).pivot_agg(["id"], "cat", "v", fill=0.0)
    assert eng.df.columns == ["id", "v_sum_a", "v_sum_b"]
    back = fe.FeatureEngineer(eng.df).melt(["id"], ["v_sum_a", "v_sum_b"])
    assert back.df.count() == 4

    ts = spark.createDataFrame(
        [("c", i, float(i % 5), float(i % 3)) for i in range(12)],
        "conv_id string, turn_idx int, x double, y double",
    )
    out = fe.FeatureEngineer(ts).create_rolling_corr(
        "x", "y", window_rows=6, min_periods=3, out="rc"
    )
    assert "rc" in out.df.columns
    # op history records the call for export_summary parity
    assert any(h["operation"] == "create_rolling_corr" for h in out.operation_history)


def test_round5_new_facades(spark):
    import feature_engineering_tk_spark as fe

    tr = spark.createDataFrame(
        [
            ("c", 0, "assistant", "I apologize, let me retry option A"),
            ("c", 1, "assistant", "I apologize, let me retry option B"),
            ("c", 2, "assistant", "I apologize, let me retry option C"),
        ],
        "conv_id string, turn_idx int, role string, text string",
    )
    nl = fe.TranscriptAnalyzer(tr).near_loops(similarity=0.8, min_repeats=3)
    assert nl.first()["has_near_loop"] is True

    battles = spark.createDataFrame(
        [("m1", "m2", "m1")] * 6 + [("m1", "m2", "m2")] * 2,
        "model_a string, model_b string, winner string",
    )
    wr = fe.EvalSuite(battles).winrates(with_ci=True)
    row = {r["model"]: r for r in wr.collect()}
    assert 0.0 <= row["m1"]["ci_lower"] <= row["m1"]["ci_upper"] <= 1.0

    paired = spark.createDataFrame(
        [(i, True, False) for i in range(9)] + [(100, False, True)],
        "item_id int, a_correct boolean, b_correct boolean",
    )
    mc = fe.EvalSuite(paired).mcnemar().first()
    assert mc["n_only_a"] == 9 and mc["n_only_b"] == 1
