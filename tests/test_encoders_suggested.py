"""Parity tests for the 'suggested-but-missing' encoder family — the
operators the reference's suggestion engine tells users to apply
(target_analyzer/suggestions.py:58,173 'Target encode or group rare
categories', 'interaction') but never implements: count/frequency
encoding, smoothed target encoding (+ the leakage-free expanding
point-in-time variant), rare-category lumping, feature crosses,
cyclical datetime encoding, rank-to-uniform, EWMA/pct_change window
features, and the Yeo-Johnson power transform. Every operator is
checked against a pandas/numpy brute-force simulator."""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from feature_engineering_tk_spark.transforms.encode import (
    CountEncoder,
    RareCategoryGrouper,
    TargetEncoder,
    expanding_target_encode,
    feature_cross,
)
from feature_engineering_tk_spark.transforms.scale import (
    YeoJohnsonTransformer,
    rank_uniform,
    yeo_johnson_transform,
)


@pytest.fixture(scope="module")
def cats_pdf():
    rng = np.random.RandomState(7)
    n = 400
    return pd.DataFrame(
        {
            "rid": np.arange(n),
            "cat": rng.choice(["a", "b", "c", "d", "e"], n, p=[0.4, 0.3, 0.2, 0.08, 0.02]),
            "y": np.round(rng.gamma(2.0, 10.0, n), 3),
            "ts": pd.Timestamp("2024-01-01")
            + pd.to_timedelta(rng.randint(0, 90 * 86400, n), unit="s"),
        }
    )


@pytest.fixture(scope="module")
def cats(spark, cats_pdf):
    df = spark.createDataFrame(cats_pdf)
    df = df.repartition(4).cache()
    df.count()
    return df


# ------------------------------------------------------------- count encode
def test_count_encoder_raw_and_normalized(cats, cats_pdf):
    enc = CountEncoder().fit(cats, "cat")
    out = enc.transform(cats).toPandas().sort_values("rid")
    exp = cats_pdf["cat"].map(cats_pdf["cat"].value_counts())
    assert (out["cat_count"].to_numpy() == exp.to_numpy()).all()

    freq = CountEncoder(normalize=True).fit(cats, "cat").transform(cats, out="f")
    fo = freq.toPandas().sort_values("rid")["f"].to_numpy()
    assert np.allclose(fo, exp.to_numpy() / len(cats_pdf))


def test_count_encoder_unseen_zero_null_stays_null(spark, cats):
    enc = CountEncoder().fit(cats, "cat")
    new = spark.createDataFrame(
        pd.DataFrame({"rid": [0, 1], "cat": ["zzz", None]})
    )
    out = {r["rid"]: r["cat_count"] for r in enc.transform(new).collect()}
    assert out[0] == 0  # unseen → seen zero times at fit
    assert out[1] is None  # null stays null


# ------------------------------------------------------------ target encode
def test_target_encoder_m_estimate(cats, cats_pdf):
    m = 10.0
    enc = TargetEncoder(smoothing=m).fit(cats, "cat", "y")
    out = enc.transform(cats, out="e").toPandas().sort_values("rid")["e"].to_numpy()
    prior = cats_pdf["y"].mean()
    g = cats_pdf.groupby("cat")["y"]
    exp_map = (g.sum() + m * prior) / (g.count() + m)
    assert np.allclose(out, cats_pdf["cat"].map(exp_map).to_numpy())


def test_target_encoder_unseen_gets_prior(spark, cats, cats_pdf):
    enc = TargetEncoder(smoothing=5.0).fit(cats, "cat", "y")
    new = spark.createDataFrame(pd.DataFrame({"cat": ["nope"]}))
    got = enc.transform(new, out="e").first()["e"]
    assert math.isclose(got, cats_pdf["y"].mean(), rel_tol=1e-12)


def test_expanding_target_encode_is_leakage_free(cats, cats_pdf):
    """Each row's code == mean of y over STRICTLY earlier (ts, rid)
    rows of its category — brute-force pandas expanding simulator."""
    out = expanding_target_encode(
        cats, "cat", "y", order=["ts", "rid"], out="pit"
    ).toPandas().sort_values("rid")
    p = cats_pdf.sort_values(["ts", "rid"]).copy()
    p["pit"] = p.groupby("cat")["y"].transform(
        lambda s: s.expanding().mean().shift(1)
    )
    exp = p.sort_values("rid")["pit"].to_numpy()
    got = out["pit"].to_numpy()
    mask = ~np.isnan(exp)
    assert np.isnan(got[~mask]).all()  # no history → null, never current row
    assert np.allclose(got[mask], exp[mask])


def test_expanding_target_encode_decimal_matches_double(cats):
    a = expanding_target_encode(cats, "cat", "y", order=["ts", "rid"], out="p")
    b = expanding_target_encode(
        cats, "cat", "y", order=["ts", "rid"], out="p", decimal_scale=3
    )
    pa = a.toPandas().sort_values("rid")["p"].to_numpy()
    pb = b.toPandas().sort_values("rid")["p"].to_numpy()
    assert np.allclose(pa, pb, equal_nan=True)


# ------------------------------------------------------------ rare grouping
def test_rare_category_grouper_min_count(spark, cats, cats_pdf):
    floor = 30
    g = RareCategoryGrouper(min_count=floor).fit(cats, "cat")
    vc = cats_pdf["cat"].value_counts()
    exp_keep = sorted(vc[vc >= floor].index)
    assert g.state_["keep"] == exp_keep
    out = g.transform(cats, out="g").toPandas().sort_values("rid")
    exp = cats_pdf["cat"].where(cats_pdf["cat"].isin(exp_keep), "__other__")
    assert (out["g"].to_numpy() == exp.to_numpy()).all()
    # unseen at transform time is rare by definition; null stays null
    new = spark.createDataFrame(pd.DataFrame({"cat": ["zzz", None]}))
    vals = [r["cat"] for r in g.transform(new).collect()]
    assert vals == ["__other__", None]


def test_rare_category_grouper_validation():
    with pytest.raises(ValueError):
        RareCategoryGrouper()
    with pytest.raises(ValueError):
        RareCategoryGrouper(min_count=5, min_freq=0.1)


# ------------------------------------------------------------ feature cross
def test_feature_cross_concat_and_null(spark):
    pdf = pd.DataFrame({"a": ["x", "y", None], "b": ["1", "2", "3"]})
    df = spark.createDataFrame(pdf)
    out = feature_cross(df, ["a", "b"], out="c", sep="|").toPandas()
    assert list(out["c"]) == ["x|1", "y|2", None]


def test_feature_cross_hashed_buckets(spark):
    pdf = pd.DataFrame({"a": [f"v{i}" for i in range(50)], "b": ["k"] * 50})
    df = spark.createDataFrame(pdf)
    out = feature_cross(df, ["a", "b"], out="h", hash_buckets=8).toPandas()
    assert out["h"].between(0, 7).all()
    # deterministic: same inputs, same buckets
    out2 = feature_cross(df, ["a", "b"], out="h", hash_buckets=8).toPandas()
    assert (out["h"] == out2["h"]).all()
    with pytest.raises(ValueError):
        feature_cross(df, ["a"])


# --------------------------------------------------------- cyclical encode
def test_cyclical_encode_matches_numpy(spark):
    from feature_engineering_tk_spark.functions.datetime_features import cyclical_encode

    ts = pd.date_range("2024-01-01 00:00:00", periods=200, freq="7h41min")
    df = spark.createDataFrame(pd.DataFrame({"rid": range(200), "t": ts}))
    out = cyclical_encode(df, "t", features=["hour", "dayofweek", "month"])
    got = out.toPandas().sort_values("rid")
    hours = ts.hour.to_numpy()
    dows = ts.dayofweek.to_numpy()  # pandas Monday=0 — the parity trap
    months = ts.month.to_numpy()
    assert np.allclose(got["t_hour_sin"], np.sin(2 * np.pi * hours / 24))
    assert np.allclose(got["t_dayofweek_cos"], np.cos(2 * np.pi * dows / 7))
    assert np.allclose(got["t_month_sin"], np.sin(2 * np.pi * months / 12))
    with pytest.raises(ValueError):
        cyclical_encode(df, "t", features=["year"])  # acyclic part


# ------------------------------------------------------------- rank uniform
def test_rank_uniform_matches_pandas_midranks(spark):
    rng = np.random.RandomState(3)
    vals = np.round(rng.normal(0, 5, 300), 1)  # coarse → real ties
    pdf = pd.DataFrame({"rid": range(300), "v": vals})
    df = spark.createDataFrame(pdf)
    out = rank_uniform(df, "v", out="u").toPandas().sort_values("rid")["u"].to_numpy()
    exp = (pdf["v"].rank(method="average").to_numpy() - 1) / (len(pdf) - 1)
    assert np.allclose(out, exp)
    assert out.min() == 0.0 and out.max() == 1.0

    tiny = spark.createDataFrame(pd.DataFrame({"v": [1.0]}))
    from feature_engineering_tk_spark.exceptions import InsufficientDataError

    with pytest.raises(InsufficientDataError):
        rank_uniform(tiny, "v")


# ------------------------------------------------------------- ewma / pct
def test_with_ewma_prefix_matches_pandas(transcripts, transcripts_pdf):
    from feature_engineering_tk_spark.operators.window_features import with_ewma

    out = with_ewma(
        transcripts, "tokens", alpha=0.35, out="e", method="prefix"
    ).toPandas().sort_values(["conv_id", "turn_idx"])
    p = transcripts_pdf.sort_values(["conv_id", "turn_idx"]).copy()
    p["e"] = p.groupby("conv_id")["tokens"].transform(
        lambda s: s.ewm(alpha=0.35, adjust=True).mean()
    )
    assert np.allclose(out["e"].to_numpy(), p["e"].to_numpy(), equal_nan=True)


def test_with_ewma_pandas_path_matches_prefix(transcripts):
    from feature_engineering_tk_spark.operators.window_features import with_ewma

    key = ["conv_id", "turn_idx"]
    a = with_ewma(transcripts, "tokens", alpha=0.2, out="e", method="prefix")
    b = with_ewma(transcripts, "tokens", alpha=0.2, out="e", method="pandas")
    pa = a.toPandas().sort_values(key)["e"].to_numpy()
    pb = b.toPandas().sort_values(key)["e"].to_numpy()
    assert np.allclose(pa, pb, equal_nan=True)
    # auto counts the largest conversation: within the prefix horizon
    # it is the prefix form; past it (alpha near 1, horizon 50 rows)
    # the pandas form
    c = with_ewma(transcripts, "tokens", alpha=0.2, out="e", method="auto")
    assert np.array_equal(c.toPandas().sort_values(key)["e"].to_numpy(), pa, equal_nan=True)
    near1 = {"alpha": 0.999999, "out": "e"}
    d = with_ewma(transcripts, "tokens", method="auto", **near1).toPandas().sort_values(key)
    e = with_ewma(transcripts, "tokens", method="pandas", **near1).toPandas().sort_values(key)
    assert transcripts.groupBy("conv_id").count().agg({"count": "max"}).first()[0] > 50
    assert np.array_equal(d["e"].to_numpy(), e["e"].to_numpy())
    with pytest.raises(ValueError):
        with_ewma(transcripts, "tokens", alpha=1.5)


def test_with_ewma_skips_nulls_with_absolute_weights(spark):
    """pandas ignore_na=False parity: a null skips num/den but weights
    keep advancing on absolute position."""
    from feature_engineering_tk_spark.operators.window_features import with_ewma

    pdf = pd.DataFrame(
        {"conv_id": ["c"] * 5, "turn_idx": range(5), "x": [1.0, None, 3.0, None, 5.0]}
    )
    df = spark.createDataFrame(pdf)
    out = with_ewma(df, "x", alpha=0.5, out="e", method="prefix")
    got = out.toPandas().sort_values("turn_idx")["e"].to_numpy()
    exp = pdf["x"].ewm(alpha=0.5, adjust=True).mean().to_numpy()
    assert np.allclose(got, exp, equal_nan=True)


def test_with_pct_change_matches_pandas(transcripts, transcripts_pdf):
    from feature_engineering_tk_spark.operators.window_features import with_pct_change

    out = with_pct_change(transcripts, "tokens", out="pc").toPandas().sort_values(
        ["conv_id", "turn_idx"]
    )
    p = transcripts_pdf.sort_values(["conv_id", "turn_idx"]).copy()
    exp = p.groupby("conv_id")["tokens"].pct_change().to_numpy()
    prev_zero = ~np.isfinite(exp)
    got = out["pc"].to_numpy()
    assert np.isnan(got[prev_zero]).all()  # inf-on-zero → NULL deviation
    assert np.allclose(got[~prev_zero], exp[~prev_zero], equal_nan=True)


# -------------------------------------------------------------- yeo-johnson
def _yj_np(x, lam):
    x = np.asarray(x, dtype=float)
    out = np.empty_like(x)
    pos = x >= 0
    if abs(lam) > 1e-12:
        out[pos] = ((x[pos] + 1) ** lam - 1) / lam
    else:
        out[pos] = np.log1p(x[pos])
    if abs(2 - lam) > 1e-12:
        out[~pos] = -(((1 - x[~pos]) ** (2 - lam)) - 1) / (2 - lam)
    else:
        out[~pos] = -np.log1p(-x[~pos])
    return out


def test_yeo_johnson_transform_formula(spark):
    rng = np.random.RandomState(11)
    x = np.round(rng.normal(1.0, 4.0, 250), 3)  # mixed signs
    df = spark.createDataFrame(pd.DataFrame({"rid": range(250), "x": x}))
    for lam in (-0.5, 0.0, 0.5, 1.0, 2.0):
        out = yeo_johnson_transform(df, "x", lam=lam, out="y")
        got = out.toPandas().sort_values("rid")["y"].to_numpy()
        assert np.allclose(got, _yj_np(x, lam)), lam


def test_yeo_johnson_fit_matches_bruteforce_grid_mle(spark):
    rng = np.random.RandomState(5)
    x = np.round(rng.gamma(2.0, 3.0, 400) - 1.0, 3)  # right-skewed, some <0
    df = spark.createDataFrame(pd.DataFrame({"x": x}))
    tr = YeoJohnsonTransformer().fit(df, ["x"])
    # brute-force profile log-likelihood over the same grid
    pen = np.sum(np.sign(x) * np.log1p(np.abs(x)))
    best_lam, best_ll = None, -np.inf
    for lam in tr.grid:
        y = _yj_np(x, lam)
        var = y.var()  # ddof=0, matches sum/sumsq moments
        if var <= 0:
            continue
        ll = -0.5 * len(x) * np.log(var) + (lam - 1) * pen
        if ll > best_ll:
            best_lam, best_ll = lam, ll
    assert tr.state_["lambdas"]["x"] == best_lam
    # fitted transform reduces skew on this right-skewed sample
    y = _yj_np(x, best_lam)
    skew_before = pd.Series(x).skew()
    skew_after = pd.Series(y).skew()
    assert abs(skew_after) < abs(skew_before)


def test_yeo_johnson_insufficient_data(spark):
    from feature_engineering_tk_spark.exceptions import InsufficientDataError

    df = spark.createDataFrame(pd.DataFrame({"x": [1.0]}))
    with pytest.raises(InsufficientDataError):
        YeoJohnsonTransformer().fit(df, ["x"])


# -------------------------------------------------------------- persistence
def test_new_encoders_json_roundtrip(spark, cats, tmp_path):
    """save_transformers/load_transformers round-trips the new fitted
    encoders (resume-safe artifacts, no pickle coupling)."""
    from feature_engineering_tk_spark.transforms.state import (
        load_transformers,
        save_transformers,
    )

    fitted = {
        "count": CountEncoder(normalize=True).fit(cats, "cat"),
        "target": TargetEncoder(smoothing=7.0).fit(cats, "cat", "y"),
        "rare": RareCategoryGrouper(min_freq=0.05).fit(cats, "cat"),
        "yj": YeoJohnsonTransformer().fit(cats, ["y"]),
    }
    path = str(tmp_path / "enc.json")
    save_transformers(fitted, path)
    back = load_transformers(path)
    assert back["count"].state_ == fitted["count"].state_
    assert back["target"].state_["prior"] == fitted["target"].state_["prior"]
    assert back["rare"].state_["keep"] == fitted["rare"].state_["keep"]
    assert back["yj"].state_["lambdas"] == fitted["yj"].state_["lambdas"]
    # reloaded transformer applies identically
    a = fitted["target"].transform(cats, out="e").toPandas().sort_values("rid")["e"]
    b = back["target"].transform(cats, out="e").toPandas().sort_values("rid")["e"]
    assert np.allclose(a.to_numpy(), b.to_numpy())


# ----------------------------------------------------------- WoE / hashing
def test_woe_encoder_brute_force(cats, cats_pdf):
    from feature_engineering_tk_spark.transforms.encode import WoEEncoder

    binary = cats.withColumn("t", (F.col("y") > 20.0).cast("int"))
    enc = WoEEncoder(alpha=0.5).fit(binary, "cat", "t")
    out = enc.transform(binary, out="w").toPandas().sort_values("rid")

    pdf = cats_pdf.assign(t=(cats_pdf["y"] > 20.0).astype(int))
    g = pdf.groupby("cat")["t"].agg(["sum", "count"])
    k = len(g)
    pt, nt = g["sum"].sum(), (g["count"] - g["sum"]).sum()
    woe = {}
    iv = 0.0
    for c, r in g.iterrows():
        dp = (r["sum"] + 0.5) / (pt + 0.5 * k)
        dn = (r["count"] - r["sum"] + 0.5) / (nt + 0.5 * k)
        woe[c] = math.log(dp / dn)
        iv += (dp - dn) * woe[c]
    exp = pdf["cat"].map(woe)
    assert np.allclose(out["w"].to_numpy(), exp.to_numpy())
    assert math.isclose(enc.iv_, iv, rel_tol=1e-12)


def test_woe_unseen_and_null_are_neutral(spark, cats):
    from feature_engineering_tk_spark.transforms.encode import WoEEncoder

    binary = cats.withColumn("t", (F.col("y") > 20.0).cast("int"))
    enc = WoEEncoder().fit(binary, "cat", "t")
    fresh = spark.createDataFrame([("zz",), (None,)], "cat string")
    got = enc.transform(fresh, out="w").toPandas()
    assert (got["w"] == 0.0).all()


def test_woe_rejects_non_binary_target(cats):
    from feature_engineering_tk_spark.exceptions import DataTypeError
    from feature_engineering_tk_spark.transforms.encode import WoEEncoder

    with pytest.raises(DataTypeError):
        WoEEncoder().fit(cats, "cat", "y")  # y is continuous


def test_woe_fit_is_one_action_and_checks_null_category_rows(spark, cats, spark_jobs):
    """The binary-target check rides the fit's one groupBy: a valid fit
    runs at most two Spark jobs (one aggregate exchange under AQE), and
    a non-binary target on a row whose category is NULL still raises,
    though that row's group is dropped before WoE and IV."""
    from feature_engineering_tk_spark.exceptions import DataTypeError
    from feature_engineering_tk_spark.transforms.encode import WoEEncoder

    binary = cats.withColumn("t", (F.col("y") > 20.0).cast("int"))
    enc, jobs = spark_jobs(lambda: WoEEncoder().fit(binary, "cat", "t"))
    assert jobs <= 2
    assert sorted(enc.state_["woe"]) == ["a", "b", "c", "d", "e"]

    rows = [("a", 1.0), ("a", 0.0), ("b", 0.0), ("b", 1.0), (None, 0.0)]
    ok = spark.createDataFrame(rows, "cat string, t double")
    assert sorted(WoEEncoder().fit(ok, "cat", "t").state_["woe"]) == ["a", "b"]
    bad = spark.createDataFrame(rows + [(None, 2.0)], "cat string, t double")
    with pytest.raises(DataTypeError):
        WoEEncoder().fit(bad, "cat", "t")


def test_woe_persistence_roundtrip(cats, tmp_path):
    from feature_engineering_tk_spark.transforms.encode import WoEEncoder
    from feature_engineering_tk_spark.transforms.state import (
        load_transformers,
        save_transformers,
    )

    binary = cats.withColumn("t", (F.col("y") > 20.0).cast("int"))
    enc = WoEEncoder(alpha=0.5).fit(binary, "cat", "t")
    path = str(tmp_path / "woe.json")
    save_transformers({"woe": enc}, path)
    back = load_transformers(path)["woe"]
    assert back.state_["woe"] == enc.state_["woe"]
    assert back.state_["iv"] == enc.state_["iv"]


def test_hashing_encode_properties(spark):
    from feature_engineering_tk_spark.transforms.encode import hashing_encode

    df = spark.createDataFrame(
        [("a", "a"), ("b", "a"), (None, "b")], "x string, y string"
    )
    out = hashing_encode(df, ["x", "y"], n_buckets=64, hash_mode="md5").toPandas()
    # null stays null, non-null lands in [0, buckets)
    assert out["x_hash"].isna().sum() == 1
    assert out["x_hash"].dropna().between(0, 63).all()
    # identical value in different columns hashes differently (column
    # name participates in the key)
    row_a = out[(out["x"] == "a") & (out["y"] == "a")].iloc[0]
    assert row_a["x_hash"] != row_a["y_hash"]
    # deterministic across calls; salt changes the assignment
    again = hashing_encode(df, ["x"], n_buckets=64, hash_mode="md5").toPandas()
    assert (out["x_hash"].dropna() == again["x_hash"].dropna()).all()
    salted = hashing_encode(df, ["x"], n_buckets=1 << 20, salt="v2").toPandas()
    base = hashing_encode(df, ["x"], n_buckets=1 << 20).toPandas()
    assert (salted["x_hash"].dropna() != base["x_hash"].dropna()).any()
