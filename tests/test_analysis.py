"""Analysis layer: special functions vs known values, sufficient-stat
formulas vs numpy oracles, EDA vs pandas, selection parity."""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from feature_engineering_tk_spark.analysis import eda, special as S, stats as ST
from feature_engineering_tk_spark.analysis.selection import FeatureSelector
from feature_engineering_tk_spark.analysis.target import TargetAnalyzer, detect_task


# ---------------------------------------------------------------- special
def test_chi2_sf_known_values():
    # chi2.sf(3.841, 1) ≈ 0.05; chi2.sf(5.991, 2) ≈ 0.05
    assert S.chi2_sf(3.841459, 1) == pytest.approx(0.05, abs=1e-4)
    assert S.chi2_sf(5.991465, 2) == pytest.approx(0.05, abs=1e-4)
    assert S.chi2_sf(0.0, 5) == 1.0


def test_t_sf_and_ppf_known_values():
    # t.ppf(0.975, 10) ≈ 2.228139
    assert S.t_ppf(0.975, 10) == pytest.approx(2.228139, abs=1e-4)
    assert S.t_sf_two_sided(2.228139, 10) == pytest.approx(0.05, abs=1e-4)
    # large df → normal
    assert S.t_ppf(0.975, 10000) == pytest.approx(1.9602, abs=1e-3)


def test_f_sf_known_value():
    # f.sf(4.96, 1, 10) ≈ 0.05 (F crit for alpha=.05, df=(1,10) is 4.9646)
    assert S.f_sf(4.9646, 1, 10) == pytest.approx(0.05, abs=1e-3)


def test_normal_cdf_ppf():
    assert S.normal_cdf(1.959964) == pytest.approx(0.975, abs=1e-6)
    assert S.normal_ppf(0.975) == pytest.approx(1.959964, abs=1e-5)


# ---------------------------------------------------------------- stats
def test_anova_f_matches_numpy_oracle(spark):
    rng = np.random.default_rng(0)
    pdf = pd.DataFrame(
        {
            "g": np.repeat(["a", "b", "c"], 50),
            "x": np.concatenate(
                [rng.normal(0, 1, 50), rng.normal(0.5, 1, 50), rng.normal(1.0, 1, 50)]
            ),
        }
    )
    df = spark.createDataFrame(pdf)
    res = ST.anova_f_from_groups(ST.group_moments(df, "x", "g"))
    # closed-form oracle in numpy
    groups = [pdf[pdf.g == k]["x"].to_numpy() for k in ["a", "b", "c"]]
    n_tot = sum(len(g) for g in groups)
    grand = np.concatenate(groups).mean()
    ssb = sum(len(g) * (g.mean() - grand) ** 2 for g in groups)
    ssw = sum((len(g) - 1) * g.var(ddof=1) for g in groups)
    f_exp = (ssb / 2) / (ssw / (n_tot - 3))
    assert res["F"] == pytest.approx(f_exp, rel=1e-9)
    assert 0 <= res["pvalue"] <= 1


def test_cohens_d_and_interpretation():
    r = ST.cohens_d(50, 1.0, 1.0, 50, 0.0, 1.0)
    assert r["d"] == pytest.approx(1.0)
    assert r["interpretation"] == "large"


def test_chi2_independence_matches_formula():
    obs = np.array([[20, 30], [40, 10]])
    res = ST.chi2_independence(obs)
    row = obs.sum(1, keepdims=True); col = obs.sum(0, keepdims=True)
    exp = row @ col / obs.sum()
    chi2 = (((obs - exp) ** 2) / exp).sum()
    assert res["chi2"] == pytest.approx(chi2)
    assert res["dof"] == 1
    v = ST.cramers_v(obs)
    assert v == pytest.approx(math.sqrt(chi2 / obs.sum()))


def test_fdr_bh_matches_statsmodels_reference():
    # worked example with known BH adjustment
    ps = [0.01, 0.02, 0.03, 0.04, 0.05]
    adj = ST.multiple_testing_correction(ps, "fdr_bh")["adjusted"]
    exp = [0.05, 0.05, 0.05, 0.05, 0.05]
    assert np.allclose(adj, exp)
    holm = ST.multiple_testing_correction([0.01, 0.04], "holm")["adjusted"]
    assert np.allclose(holm, [0.02, 0.04])


def test_mean_ci_t_based():
    lo, hi = ST.mean_ci(25, 10.0, 2.0)
    # t.ppf(.975, 24)=2.0639, sem=0.4 → ±0.8256
    assert lo == pytest.approx(10 - 2.0639 * 0.4, abs=1e-3)
    assert hi == pytest.approx(10 + 2.0639 * 0.4, abs=1e-3)


def test_correlation_ci_fisher():
    lo, hi = ST.correlation_ci(0.5, 100)
    # z=atanh(.5)=.54931, se=1/sqrt(97), zc=1.95996 → tanh bounds
    assert lo == pytest.approx(math.tanh(0.54931 - 1.95996 / math.sqrt(97)), abs=1e-4)
    assert hi == pytest.approx(math.tanh(0.54931 + 1.95996 / math.sqrt(97)), abs=1e-4)


def test_bias_corrected_moments_match_pandas():
    rng = np.random.default_rng(1)
    x = pd.Series(rng.lognormal(0, 1, 500))
    n = len(x)
    # population moments (Spark skewness/kurtosis convention)
    g1 = ((x - x.mean()) ** 3).mean() / (((x - x.mean()) ** 2).mean()) ** 1.5
    g2 = ((x - x.mean()) ** 4).mean() / (((x - x.mean()) ** 2).mean()) ** 2 - 3
    assert ST.bias_corrected_skew(g1, n) == pytest.approx(x.skew(), rel=1e-9)
    assert ST.bias_corrected_kurtosis(g2, n) == pytest.approx(x.kurtosis(), rel=1e-9)


def test_bootstrap_ci_deterministic():
    vals = np.arange(100.0)
    a = ST.bootstrap_ci(vals, np.median, seed=7)
    b = ST.bootstrap_ci(vals, np.median, seed=7)
    assert a == b
    assert a[0] < 49.5 < a[1]


# ---------------------------------------------------------------- eda
def test_numeric_summary_matches_describe(transcripts, transcripts_pdf):
    got = eda.get_numeric_summary(transcripts, ["tokens"])["tokens"]
    d = transcripts_pdf["tokens"].describe()
    assert got["count"] == d["count"]
    assert got["mean"] == pytest.approx(d["mean"])
    assert got["std"] == pytest.approx(d["std"])
    assert got["q50"] == pytest.approx(transcripts_pdf["tokens"].median())


def test_missing_summary(transcripts, transcripts_pdf):
    got = {d["column"]: d["missing"] for d in eda.get_missing_summary(transcripts)}
    assert got["score"] == transcripts_pdf["score"].isna().sum()
    assert got["tool"] == transcripts_pdf["tool"].isna().sum()


def test_correlation_matrix_pairwise_complete(spark):
    pdf = pd.DataFrame(
        {
            "a": [1.0, 2.0, 3.0, 4.0, np.nan, 6.0],
            "b": [2.0, 4.0, 6.1, 8.0, 10.0, np.nan],
            "c": [1.0, np.nan, 2.0, 2.5, 4.0, 5.0],
        }
    )
    df = spark.createDataFrame(pdf)
    cols, mat = eda.correlation_matrix(df)
    exp = pdf.corr()  # pandas pairwise-complete
    for i, a in enumerate(cols):
        for j, b in enumerate(cols):
            assert mat[i, j] == pytest.approx(exp.loc[a, b], rel=1e-9), (a, b)


def test_categorical_summary_mode_tiebreak(spark):
    pdf = pd.DataFrame({"c": ["b", "b", "a", "a", "z"]})
    got = eda.get_categorical_summary(spark.createDataFrame(pdf))["c"]
    assert got["mode"] == "a" and got["unique"] == 3 and got["top_freq"] == 2


def test_validate_data_quality(spark):
    pdf = pd.DataFrame(
        {
            "x": [1.0, 1.0, np.inf, 4.0],
            "const": [7] * 4,
            "s": ["u1", "u2", "u3", "u4"],
        }
    )
    q = eda.validate_data_quality(spark.createDataFrame(pdf))
    assert "const" in q["constant_columns"]
    assert q["infinite_counts"]["x"] == 1
    assert "s" in q["high_cardinality_columns"]


# ---------------------------------------------------------------- target
def test_detect_task(transcripts):
    assert detect_task(transcripts, "label") == "classification"
    assert detect_task(transcripts, "score") == "regression"
    assert detect_task(transcripts, "role") == "classification"


def test_class_distribution_and_imbalance(transcripts, transcripts_pdf):
    ta = TargetAnalyzer(transcripts, "label")
    dist = ta.analyze_class_distribution()
    vc = transcripts_pdf["label"].value_counts()
    assert dist[0]["count"] == vc.iloc[0]
    info = ta.get_class_imbalance_info()
    assert info["severity"] in ("balanced", "moderate", "severe")


def test_target_distribution_pandas_moments(transcripts, transcripts_pdf):
    ta = TargetAnalyzer(transcripts, "tokens", task="regression")
    d = ta.analyze_target_distribution()
    x = transcripts_pdf["tokens"].astype(float)
    assert d["mean"] == pytest.approx(x.mean())
    assert d["median"] == pytest.approx(x.median())
    assert d["skewness"] == pytest.approx(x.skew(), rel=1e-6)
    assert d["kurtosis"] == pytest.approx(x.kurtosis(), rel=1e-6)


def test_feature_target_relationship_classification(transcripts):
    ta = TargetAnalyzer(transcripts, "label")
    res = ta.analyze_feature_target_relationship(["tokens", "score", "role"])
    by = {r["feature"]: r for r in res if r["test"] == "anova_f"}
    assert set(by) == {"tokens", "score"}
    for r in by.values():
        assert not math.isnan(r["statistic"])
        assert "cohens_d" in r  # binary target
        assert "pvalue_adj" in r
    # categorical feature got a chi2 test
    chi = [r for r in res if r["test"] == "chi2"]
    assert any(r["feature"] == "role" for r in chi)


def test_class_wise_statistics_single_job(transcripts, transcripts_pdf):
    ta = TargetAnalyzer(transcripts, "label")
    rows = ta.analyze_class_wise_statistics(["tokens"])
    exp = transcripts_pdf.groupby("label")["tokens"].agg(["count", "mean", "std"])
    for r in rows:
        e = exp.loc[r["class"]]
        assert r["count"] == e["count"]
        assert r["mean"] == pytest.approx(e["mean"])
        assert r["std"] == pytest.approx(e["std"])


def test_mutual_information_ranks_signal(spark):
    rng = np.random.default_rng(3)
    y = rng.integers(0, 2, 2000)
    pdf = pd.DataFrame(
        {
            "signal": y * 2.0 + rng.normal(0, 0.3, 2000),
            "noise": rng.normal(0, 1, 2000),
            "y": y,
        }
    )
    ta = TargetAnalyzer(spark.createDataFrame(pdf), "y")
    mi = ta.analyze_mutual_information(["signal", "noise"])
    assert mi[0]["feature"] == "signal"
    assert mi[0]["mi"] > 5 * max(mi[1]["mi"], 1e-6)


def test_leakage_suspects(spark):
    rng = np.random.default_rng(4)
    y = rng.normal(0, 1, 500)
    pdf = pd.DataFrame({"leak": y, "ok": rng.normal(0, 1, 500), "y": y})
    ta = TargetAnalyzer(spark.createDataFrame(pdf), "y", task="regression")
    q = ta.analyze_data_quality()
    assert "leak" in q["leakage_suspects"] and "ok" not in q["leakage_suspects"]


# ---------------------------------------------------------------- selection
def test_variance_selection_ddof0(spark):
    pdf = pd.DataFrame({"a": [1.0, 1.0, 1.0], "b": [1.0, 2.0, 3.0], "y": [0, 1, 0]})
    sel = FeatureSelector(spark.createDataFrame(pdf), "y")
    assert sel.select_by_variance(0.0) == ["b"]


def test_correlation_selection_greedy_order(spark):
    rng = np.random.default_rng(5)
    a = rng.normal(0, 1, 200)
    pdf = pd.DataFrame({"a": a, "b": a + rng.normal(0, 0.01, 200), "c": rng.normal(0, 1, 200)})
    sel = FeatureSelector(spark.createDataFrame(pdf))
    kept = sel.select_by_correlation(0.9)
    assert kept == ["a", "c"]  # b dropped (later column wins the drop)


def test_statistical_selection_prefers_signal(spark):
    rng = np.random.default_rng(6)
    y = rng.integers(0, 2, 1000)
    pdf = pd.DataFrame(
        {"signal": y + rng.normal(0, 0.5, 1000), "noise": rng.normal(0, 1, 1000), "y": y}
    )
    sel = FeatureSelector(spark.createDataFrame(pdf), "y")
    assert sel.select_by_statistical_test(1) == ["signal"]
    out = sel.apply_selection()
    assert out.columns == ["signal", "y"]


def test_levene_from_spark(spark):
    rng = np.random.default_rng(7)
    pdf = pd.DataFrame(
        {
            "g": np.repeat(["a", "b"], 300),
            "x": np.concatenate([rng.normal(0, 1, 300), rng.normal(0, 5, 300)]),
        }
    )
    res = ST.levene_from_spark(spark.createDataFrame(pdf), "x", "g")
    assert res["pvalue"] < 0.01 and not res["equal_variance"]


def test_calculate_vif_matches_numpy(spark, transcripts):
    """Gram-matrix VIF == diag(inv(R)) of the mean-imputed correlation
    matrix (statsmodels variance_inflation_factor equivalence)."""
    import numpy as np

    from feature_engineering_tk_spark.analysis.eda import calculate_vif

    df = transcripts.select("tokens", "latency_ms", "score")
    got = {r["feature"]: r["vif"] for r in calculate_vif(df, ["tokens", "latency_ms", "score"])}

    pdf = df.toPandas().astype("float64")
    # replicate reference preprocessing: mean-impute, inf→nan→mean first
    pdf = pdf.replace([np.inf, -np.inf], np.nan)
    pdf = pdf.fillna(pdf.mean())
    R = np.corrcoef(pdf.values.T)
    exp = np.diag(np.linalg.inv(R))
    for i, c in enumerate(["tokens", "latency_ms", "score"]):
        assert abs(got[c] - exp[i]) < 1e-6, (c, got[c], exp[i])


def test_bartlett_matches_closed_form(spark, transcripts):
    """Bartlett statistic equals the textbook formula computed in
    numpy on the collected data (scipy.bartlett parity)."""
    import math

    from feature_engineering_tk_spark.analysis.stats import bartlett

    res = bartlett(transcripts, "tokens", "role")
    pdf = transcripts.select("role", "tokens").toPandas()
    gs = [g["tokens"].to_numpy().astype(float) for _, g in pdf.groupby("role")]
    gs = [g for g in gs if len(g) > 1]
    k, N = len(gs), sum(len(g) for g in gs)
    sp2 = sum((len(g) - 1) * g.var(ddof=1) for g in gs) / (N - k)
    T = (N - k) * math.log(sp2) - sum((len(g) - 1) * math.log(g.var(ddof=1)) for g in gs)
    C = 1 + (sum(1 / (len(g) - 1) for g in gs) - 1 / (N - k)) / (3 * (k - 1))
    assert math.isclose(res["statistic"], T / C, rel_tol=1e-9)
    assert 0.0 <= res["pvalue"] <= 1.0


def test_kruskal_wallis_matches_pandas_ranks(spark, transcripts):
    """Tie-corrected H equals the scipy formula computed with pandas
    midranks — proving the distributed distinct-value prefix-sum ranks
    are exact."""
    import math

    import numpy as np

    from feature_engineering_tk_spark.analysis.stats import kruskal_wallis

    res = kruskal_wallis(transcripts, "tokens", "role")
    pdf = transcripts.select("role", "tokens").toPandas()
    N = len(pdf)
    pdf["r"] = pdf["tokens"].rank(method="average")
    H = (
        12.0 / (N * (N + 1))
        * sum(g["r"].sum() ** 2 / len(g) for _, g in pdf.groupby("role"))
        - 3.0 * (N + 1)
    )
    _, t = np.unique(pdf["tokens"].to_numpy(), return_counts=True)
    C = 1 - ((t**3 - t).sum()) / (N**3 - N)
    assert math.isclose(res["statistic"], H / C, rel_tol=1e-9)


def test_ivf_topk_recall_vs_brute_force(spark):
    """IVF with all buckets probed == brute force; with nprobe=2 the
    top hit (the query itself) is still found."""
    import numpy as np
    import pandas as pd

    from feature_engineering_tk_spark.functions.similarity import cosine_topk, ivf_topk

    rng = np.random.default_rng(3)
    pdf = pd.DataFrame(
        {
            "vec_id": range(200),
            "embedding": [rng.normal(size=16).astype("float32").tolist() for _ in range(200)],
        }
    )
    df = spark.createDataFrame(pdf, "vec_id long, embedding array<float>")
    q = pdf["embedding"][0]

    exact = [r["vec_id"] for r in cosine_topk(df, q, k=5).collect()]
    full_probe = [
        r["vec_id"] for r in ivf_topk(df, q, k=5, n_centroids=4, nprobe=4).collect()
    ]
    assert full_probe == exact  # all buckets probed == exhaustive

    pruned = ivf_topk(df, q, k=5, n_centroids=4, nprobe=2).collect()
    assert pruned[0]["vec_id"] == 0  # query's own bucket always probed
    assert abs(pruned[0]["cosine_sim"] - 1.0) < 1e-9


# ---------------------------------------------------------------------------
# Kendall tau-b (reference data_analysis.py:143-156 method='kendall')

def _brute_tau(x, y):
    n = len(x)
    c = d = xt = yt = 0
    for i in range(n):
        for j in range(i + 1, n):
            sx = np.sign(x[i] - x[j])
            sy = np.sign(y[i] - y[j])
            if sx * sy > 0:
                c += 1
            elif sx * sy < 0:
                d += 1
            if sx == 0:
                xt += 1
            if sy == 0:
                yt += 1
    tot = n * (n - 1) // 2
    den = math.sqrt(tot - xt) * math.sqrt(tot - yt)
    return (c - d) / den if den else float("nan")


def test_kendall_tau_matches_brute_force_with_ties():
    from feature_engineering_tk_spark.analysis.eda import kendall_tau_values

    rng = np.random.default_rng(5)
    for trial in range(30):
        n = int(rng.integers(2, 50))
        x = rng.integers(0, 5, n).astype(float) if trial % 2 else rng.standard_normal(n)
        y = rng.integers(0, 4, n).astype(float) if trial % 3 else rng.standard_normal(n)
        got = kendall_tau_values(x, y)
        exp = _brute_tau(x, y)
        if math.isnan(exp):
            assert math.isnan(got)
        else:
            assert got == pytest.approx(exp, abs=1e-12)


def test_kendall_matrix_spark(spark):
    from feature_engineering_tk_spark.analysis.eda import correlation_matrix

    pdf = pd.DataFrame(
        {
            "a": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0],
            "b": [2.0, 4.0, 6.0, 8.0, 10.0, 12.0],   # perfectly concordant
            "c": [6.0, 5.0, 4.0, 3.0, 2.0, 1.0],     # perfectly discordant
        }
    )
    df = spark.createDataFrame(pdf)
    cols, mat = correlation_matrix(df, ["a", "b", "c"], method="kendall")
    ai, bi, ci = cols.index("a"), cols.index("b"), cols.index("c")
    assert mat[ai, bi] == pytest.approx(1.0)
    assert mat[ai, ci] == pytest.approx(-1.0)
    assert mat[ai, ai] == 1.0


def test_kendall_matrix_pairwise_complete(spark):
    from feature_engineering_tk_spark.analysis.eda import correlation_matrix

    pdf = pd.DataFrame(
        {
            "a": [1.0, 2.0, 3.0, 4.0, None, 6.0],
            "b": [1.0, 3.0, 2.0, 4.0, 5.0, None],
        }
    )
    df = spark.createDataFrame(pdf)
    _, mat = correlation_matrix(df, ["a", "b"], method="kendall")
    sub = pdf.dropna()
    exp = _brute_tau(sub["a"].to_numpy(), sub["b"].to_numpy())
    assert mat[0, 1] == pytest.approx(exp, abs=1e-12)


def test_feature_importance_df(spark):
    """get_feature_importance_df (feature_selection.py:321-339): latest
    selection's scores as a sorted (feature, score, score_type) frame;
    empty frame before any scoring method runs."""
    pdf = pd.DataFrame(
        {
            "a": np.arange(50, dtype=float),
            "b": np.arange(50, dtype=float) % 3,
            "y": np.arange(50, dtype=float) * 2 + 1,
        }
    )
    sel = FeatureSelector(spark.createDataFrame(pdf), target="y")
    assert sel.get_feature_importance_df().empty

    sel.select_by_variance()
    imp = sel.get_feature_importance_df()
    assert list(imp.columns) == ["feature", "score", "score_type"]
    assert (imp["score_type"] == "variance").all()
    assert imp["score"].is_monotonic_decreasing

    sel.select_by_target_correlation(top_k=2)
    imp2 = sel.get_feature_importance_df()
    assert (imp2["score_type"] == "target_correlation").all()
    assert imp2.iloc[0]["feature"] == "a"  # perfectly correlated with y

    unsorted = sel.get_feature_importance_df(sort=False)
    assert set(unsorted["feature"]) == {"a", "b"}


def test_ann_corpus_partition_pruning(spark, tmp_path):
    """write_ann_corpus + ann_corpus_topk: the bucket predicate must
    reach the scan as a PARTITION filter (pruned I/O), and results must
    equal lsh_topk on the unmaterialized corpus."""
    from feature_engineering_tk_spark.functions.similarity import (
        ann_corpus_topk,
        lsh_topk,
        write_ann_corpus,
    )
    from feature_engineering_tk_spark.plans.inspect import inspect

    rng = np.random.default_rng(4)
    vecs = rng.standard_normal((300, 16))
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(300)],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path / "ann_corpus")
    write_ann_corpus(df, path, dim=16, n_bits=4)

    q = [float(x) for x in vecs[0]]
    got = ann_corpus_topk(spark, path, q, k=5, dim=16, n_bits=4)
    scans = inspect(got).scans
    assert scans and all("lsh_bucket" in s.partition_filters for s in scans), scans

    got_rows = [(r["vec_id"], round(r["cosine_sim"], 9)) for r in got.collect()]
    exp_rows = [
        (r["vec_id"], round(r["cosine_sim"], 9))
        for r in lsh_topk(df, q, k=5, dim=16, n_bits=4).collect()
    ]
    assert got_rows == exp_rows
    assert got_rows[0][0] == 0  # the query vector itself ranks first
