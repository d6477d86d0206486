"""Golden-parity tests: transforms vs pandas/reference semantics
(SURVEY §2.3-2.7 parity traps: ddof conventions, exact quantiles,
sorted-vocab encoding, qcut/cut edge math, mode tie-breaking)."""

import json

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from feature_engineering_tk_spark.transforms.binning import (
    EdgeBinner,
    QuantileBinner,
    UniformBinner,
)
from feature_engineering_tk_spark.transforms.encode import (
    LabelEncoder,
    OneHotEncoder,
    OrdinalEncoder,
    TargetEncoder,
)
from feature_engineering_tk_spark.transforms.impute import Imputer
from feature_engineering_tk_spark.transforms.outliers import OutlierDetector
from feature_engineering_tk_spark.transforms.scale import Scaler

KEY = ["conv_id", "turn_idx"]


def _sorted(df):
    return df.toPandas().sort_values(KEY).reset_index(drop=True)


# ---------------------------------------------------------------- scaling
def test_standard_scale_ddof0(transcripts, transcripts_pdf):
    out = _sorted(Scaler("standard").fit_transform(transcripts, ["tokens"]))
    x = transcripts_pdf.sort_values(KEY)["tokens"].astype(float)
    exp = (x - x.mean()) / x.std(ddof=0)  # sklearn StandardScaler convention
    assert np.allclose(out["tokens"], exp.to_numpy())
    # the reference's own test contract: scaled std(ddof=0) == 1
    assert np.isclose(out["tokens"].std(ddof=0), 1.0)


def test_minmax_scale(transcripts, transcripts_pdf):
    out = _sorted(Scaler("minmax").fit_transform(transcripts, ["tokens"]))
    x = transcripts_pdf.sort_values(KEY)["tokens"].astype(float)
    exp = (x - x.min()) / (x.max() - x.min())
    assert np.allclose(out["tokens"], exp.to_numpy())


def test_robust_scale_exact_quantiles(transcripts, transcripts_pdf):
    out = _sorted(Scaler("robust").fit_transform(transcripts, ["tokens"]))
    x = transcripts_pdf.sort_values(KEY)["tokens"].astype(float)
    med = x.quantile(0.5)
    iqr = x.quantile(0.75) - x.quantile(0.25)
    assert np.allclose(out["tokens"], ((x - med) / iqr).to_numpy())


def test_scaler_state_roundtrip(transcripts):
    s = Scaler("standard").fit(transcripts, ["tokens", "score"])
    s2 = Scaler.from_json(s.to_json())
    assert s2.state_ == s.state_
    a = _sorted(s.transform(transcripts))
    b = _sorted(s2.transform(transcripts))
    assert np.allclose(a["tokens"], b["tokens"])


# ---------------------------------------------------------------- impute
def test_mean_impute(transcripts, transcripts_pdf):
    out = _sorted(Imputer("mean").fit_transform(transcripts, ["score"]))
    exp = transcripts_pdf.sort_values(KEY)["score"]
    exp = exp.fillna(exp.mean())
    assert np.allclose(out["score"], exp.to_numpy())


def test_median_impute_exact(transcripts, transcripts_pdf):
    out = _sorted(Imputer("median").fit_transform(transcripts, ["score"]))
    exp = transcripts_pdf.sort_values(KEY)["score"]
    exp = exp.fillna(exp.median())
    assert np.allclose(out["score"], exp.to_numpy())


def test_mode_impute_pandas_tiebreak(spark):
    # two modes: pandas mode()[0] picks the smallest
    pdf = pd.DataFrame({"c": ["b", "b", "a", "a", None, "z"]})
    df = spark.createDataFrame(pdf)
    imp = Imputer("mode").fit(df, ["c"])
    assert imp.state_["fills"]["c"] == "a" == pdf["c"].mode()[0]


def test_interpolate_impute(transcripts, transcripts_pdf):
    out = _sorted(Imputer("interpolate").fit_transform(transcripts, ["score"]))
    exp = transcripts_pdf.sort_values(KEY).copy()
    exp["score"] = (
        exp.groupby("conv_id")["score"]
        .apply(lambda s: s.interpolate("linear"))
        .reset_index(0, drop=True)
    )
    assert np.allclose(out["score"], exp["score"].to_numpy(), equal_nan=True)


# ---------------------------------------------------------------- encode
def test_label_encode_sorted_vocab(spark):
    pdf = pd.DataFrame({"c": ["b", "a", "c", "a", None]})
    df = spark.createDataFrame(pdf)
    enc = LabelEncoder().fit(df, "c")
    out = enc.transform(df, out="code").toPandas()
    # sklearn LabelEncoder: codes = rank in sorted uniques; NaN preserved
    m = dict(zip(out["c"], out["code"]))
    assert m["a"] == 0 and m["b"] == 1 and m["c"] == 2
    assert out["code"].isna().sum() == 1
    assert out["code"].dtype == np.float64  # NaN upcast parity


def test_label_encode_no_null_is_int(spark):
    df = spark.createDataFrame(pd.DataFrame({"c": ["y", "x"]}))
    out = LabelEncoder().fit(df, "c").transform(df, out="code").toPandas()
    assert out["code"].dtype == np.int64


def test_onehot_matches_get_dummies(spark):
    pdf = pd.DataFrame({"c": ["b", "a", None, "b", "c"]})
    df = spark.createDataFrame(pdf)
    out = OneHotEncoder(prefix="c").fit(df, "c").transform(df).toPandas()
    exp = pd.get_dummies(pdf["c"], prefix="c", dtype=int)
    for col in exp.columns:
        assert sorted(out[col]) == sorted(exp[col].tolist())
    # NaN row → all zeros (pandas parity)
    assert set(out.columns) == {"c_a", "c_b", "c_c"}
    assert (out[["c_a", "c_b", "c_c"]].sum(axis=1) == [1, 1, 0, 1, 1]).all()


def test_onehot_drop_first_dummy_na(spark):
    pdf = pd.DataFrame({"c": ["b", "a", None]})
    df = spark.createDataFrame(pdf)
    out = (
        OneHotEncoder(prefix="c", drop_first=True, dummy_na=True)
        .fit(df, "c")
        .transform(df)
        .toPandas()
    )
    assert set(out.columns) == {"c_b", "c_nan"}
    assert out["c_nan"].tolist() == [0, 0, 1]


def test_ordinal_encode_unknown_minus1(spark):
    df = spark.createDataFrame(pd.DataFrame({"c": ["low", "high", "weird", None]}))
    out = (
        OrdinalEncoder(categories=["low", "medium", "high"])
        .fit(df, "c")
        .transform(df, out="code")
        .toPandas()
    )
    assert out["code"].tolist() == [0.0, 2.0, -1.0, -1.0]
    assert out["code"].dtype == np.float64


# ---------------------------------------------------------------- binning
def test_quantile_bin_matches_qcut(transcripts, transcripts_pdf):
    out = _sorted(QuantileBinner(bins=4).fit(transcripts, "tokens").transform(transcripts, "b"))
    exp = transcripts_pdf.sort_values(KEY)
    codes = pd.qcut(exp["tokens"], 4, labels=False, duplicates="drop")
    assert (out["b"].to_numpy() == codes.to_numpy()).all()


def test_uniform_bin_matches_cut(transcripts, transcripts_pdf):
    out = _sorted(UniformBinner(bins=5).fit(transcripts, "score").transform(transcripts, "b"))
    exp = transcripts_pdf.sort_values(KEY)
    codes = pd.cut(exp["score"], 5, labels=False)
    got = out["b"].to_numpy(dtype="float64", na_value=np.nan)
    want = codes.to_numpy(dtype="float64", na_value=np.nan)
    assert np.allclose(got, want, equal_nan=True)


def test_edge_bin_matches_cut_edges(spark):
    pdf = pd.DataFrame({"x": [0.5, 1.0, 2.5, 7.0, 11.0]})
    df = spark.createDataFrame(pdf)
    out = EdgeBinner(edges=[1.0, 3.0, 10.0]).fit(df, "x").transform(df, "b").toPandas()
    codes = pd.cut(pdf["x"], [1.0, 3.0, 10.0], labels=False)
    got = out["b"].to_numpy(dtype="float64", na_value=np.nan)
    assert np.allclose(got, codes.to_numpy(), equal_nan=True)


def test_quantile_bin_constant_raises(spark):
    df = spark.createDataFrame(pd.DataFrame({"x": [5.0] * 10}))
    with pytest.raises(ValueError):
        QuantileBinner(bins=4).fit(df, "x")


# ---------------------------------------------------------------- outliers
def test_iqr_outlier_flags_match_pandas(transcripts, transcripts_pdf):
    det = OutlierDetector("iqr", factor=1.5).fit(transcripts, ["tokens"])
    out = _sorted(det.flag(transcripts))
    x = transcripts_pdf.sort_values(KEY)["tokens"].astype(float)
    q1, q3 = x.quantile(0.25), x.quantile(0.75)
    iqr = q3 - q1
    exp = ((x < q1 - 1.5 * iqr) | (x > q3 + 1.5 * iqr)).astype(int)
    assert (out["tokens_is_outlier"].to_numpy() == exp.to_numpy()).all()


def test_iqr_outliers_skip_all_null_column(spark):
    df = spark.createDataFrame([(1.0, None), (2.0, None)], "a double, z double")
    det = OutlierDetector("iqr", factor=1.5).fit(df, ["a", "z"])
    assert det.state_["bounds"]["z"] is None
    assert det.state_["bounds"]["a"] == OutlierDetector("iqr", factor=1.5).fit(df, ["a"]).state_["bounds"]["a"]
    assert det.state_["bounds"]["a"] == {"lo": 0.5, "hi": 2.5}
    assert [r.z_is_outlier for r in det.flag(df).collect()] == [0, 0]


def test_zscore_outliers_ddof1_and_zero_std_skip(spark):
    pdf = pd.DataFrame({"x": [1.0, 2.0, 3.0, 100.0], "const": [5.0] * 4})
    df = spark.createDataFrame(pdf)
    det = OutlierDetector("zscore", threshold=1.4).fit(df, ["x", "const"])
    out = det.flag(df).toPandas()
    z = (pdf["x"] - pdf["x"].mean()).abs() / pdf["x"].std(ddof=1)
    assert (out["x_is_outlier"].to_numpy() == (z > 1.4).astype(int).to_numpy()).all()
    assert out["const_is_outlier"].sum() == 0  # zero-std skip


def test_outlier_remove_single_pass(spark):
    pdf = pd.DataFrame({"a": [1, 2, 3, 100, 5], "b": [1, 200, 3, 4, 5]})
    df = spark.createDataFrame(pdf)
    det = OutlierDetector("iqr", factor=1.5).fit(df, ["a", "b"])
    kept = det.remove(df).toPandas()
    assert len(kept) == 3  # rows with 100 or 200 removed, others kept


def test_outlier_cap(spark):
    pdf = pd.DataFrame({"a": [1.0, 2.0, 3.0, 4.0, 100.0]})
    df = spark.createDataFrame(pdf)
    det = OutlierDetector("iqr", factor=1.5).fit(df, ["a"])
    capped = det.cap(df).toPandas()["a"]
    hi = det.state_["bounds"]["a"]["hi"]
    assert capped.max() == pytest.approx(hi)


def test_save_load_transformers_bundle(spark, tmp_path):
    """save_transformers/load_transformers (feature_engineering.py:705-747):
    one JSON artifact, reload produces bit-identical transforms."""
    import pandas as pd

    from feature_engineering_tk_spark.transforms.impute import Imputer
    from feature_engineering_tk_spark.transforms.scale import Scaler
    from feature_engineering_tk_spark.transforms.state import (
        load_transformers,
        save_transformers,
    )

    df = spark.createDataFrame(
        pd.DataFrame({"v": [1.0, 2.0, None, 4.0], "w": [10.0, 20.0, 30.0, 40.0]})
    )
    imp = Imputer(strategy="mean").fit(df, ["v"])
    sc = Scaler(method="standard").fit(df, ["w"])

    path = str(tmp_path / "transformers.json")
    save_transformers({"imputer": imp, "scaler": sc}, path)
    back = load_transformers(path)

    a = sc.transform(imp.transform(df)).orderBy("w").toPandas()
    b = back["scaler"].transform(back["imputer"].transform(df)).orderBy("w").toPandas()
    pd.testing.assert_frame_equal(a, b)


# ------------------------------------------------------- Spark jobs per fit
@pytest.mark.parametrize(
    "fit, max_jobs",
    [
        (lambda df: LabelEncoder().fit(df, "role"), 2),
        (lambda df: OneHotEncoder().fit(df, "tool"), 2),
        (lambda df: Scaler("standard").fit(df, ["score", "turn_idx"]), 2),
        (lambda df: TargetEncoder(smoothing=10.0).fit(df, "tool", "label"), 2),
        (lambda df: QuantileBinner(bins=10).fit(df, "tokens"), 6),
        (lambda df: Imputer("median").fit(df, ["latency_ms", "score"]), 6),
    ],
    ids=["label", "onehot", "standard_scale", "target", "quantile_bin", "median_impute"],
)
def test_fit_spark_jobs(transcripts, spark_jobs, fit, max_jobs):
    """Each vocabulary and moment fit is one action (one aggregate
    exchange, at most two jobs under AQE); exact quantiles are one
    range sort, read back from its cache."""
    _, jobs = spark_jobs(lambda: fit(transcripts))
    assert jobs <= max_jobs


def test_vocab_is_spark_string_order_and_sees_null(spark, spark_jobs):
    """The driver-side sort of the vocabulary equals Spark's
    ``orderBy`` (UTF-8 byte order == code-point order) on non-ASCII
    values, and ``has_null`` comes from the same single action. The
    emoji (U+1F600) sorts after U+FF01 by code point, but before it in
    UTF-16 (Java ``String``) order."""
    vals = ["é", "Z", "a", "中", "\U0001F600", "\uff01", "ab", "Éa", None, "a"]
    df = spark.createDataFrame([(v,) for v in vals], "c string").cache()
    df.count()
    enc, jobs = spark_jobs(lambda: LabelEncoder().fit(df, "c"))
    want = [r["c"] for r in df.filter("c IS NOT NULL").distinct().orderBy("c").collect()]
    assert enc.state_["vocab"] == want
    assert enc.state_["has_null"] is True
    assert jobs <= 2
    assert OneHotEncoder().fit(df, "c").state_["vocab"] == want
    df.unpersist()
