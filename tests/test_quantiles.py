"""Distributed exact quantiles vs numpy linear-interpolation oracle."""

import numpy as np
import pandas as pd

from feature_engineering_tk_spark.operators.quantiles import exact_quantiles


def test_exact_quantiles_match_numpy(spark, transcripts, transcripts_pdf):
    probs = [0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0]
    got = exact_quantiles(transcripts, "tokens", probs)
    exp = np.quantile(transcripts_pdf["tokens"].to_numpy(), probs)
    assert np.allclose(got, exp)


def test_exact_quantiles_with_nulls(spark, transcripts, transcripts_pdf):
    probs = [0.25, 0.5, 0.75]
    got = exact_quantiles(transcripts, "score", probs)
    exp = np.nanquantile(transcripts_pdf["score"].to_numpy(), probs)
    assert np.allclose(got, exp)


def test_exact_quantiles_tiny(spark):
    pdf = spark.createDataFrame([(float(i),) for i in range(5)], "x double")
    got = exact_quantiles(pdf, "x", [0.5, 0.9])
    assert np.allclose(got, np.quantile(np.arange(5.0), [0.5, 0.9]))


def test_approx_quantiles_bounded_error(spark, transcripts):
    """approx path (100 TB refit): rank error bounded; values land
    near the exact ones on a smooth column."""
    from feature_engineering_tk_spark.operators.quantiles import (
        approx_quantiles,
        exact_quantiles,
    )

    probs = [0.1, 0.5, 0.9]
    e = exact_quantiles(transcripts, "tokens", probs)
    a = approx_quantiles(transcripts, "tokens", probs, relative_error=1e-3)
    for x, y in zip(e, a):
        assert abs(x - y) <= max(abs(x), 1.0) * 0.05


def test_quantile_binner_approx_mode(spark, transcripts):
    """exact=False produces a usable binner whose code distribution is
    close to the exact one (rank-bounded edges)."""
    from pyspark.sql import functions as F

    from feature_engineering_tk_spark.transforms.binning import QuantileBinner

    exact = QuantileBinner(bins=4, exact=True).fit(transcripts, "tokens")
    approx = QuantileBinner(bins=4, exact=False).fit(transcripts, "tokens")
    n = transcripts.count()
    dist_e = {
        r["b"]: r["count"]
        for r in exact.transform(transcripts, out="b").groupBy("b").count().collect()
    }
    dist_a = {
        r["b"]: r["count"]
        for r in approx.transform(transcripts, out="b").groupBy("b").count().collect()
    }
    for code in dist_e:
        assert abs(dist_e[code] - dist_a.get(code, 0)) <= max(0.05 * n, 10)


def _pick(rows, i):
    return np.array([r[i] for r in rows if r[i] is not None], dtype=float)


def test_exact_quantiles_many_matches_numpy_and_single_column(spark):
    """One stacked range sort == per-column ``exact_quantiles`` bit for
    bit, and == numpy linear interpolation: different probability
    lists per column, ties, NULLs, an all-NULL column next to non-null
    ones, thirds, and columns spanning several range partitions."""
    from feature_engineering_tk_spark.operators.quantiles import exact_quantiles_many

    rng = np.random.RandomState(3)
    rows = [
        (
            float(rng.randint(0, 7)),  # heavy ties
            None if rng.rand() < 0.25 else float(rng.normal()),  # NULLs
            int(rng.randint(-50, 50)),  # long column, cast to double
            None,  # all NULL
        )
        for _ in range(3000)
    ]
    df = spark.createDataFrame(rows, "t double, n double, k long, z double")
    # 3000 rows per column over defaultParallelism (4) range partitions:
    # every column spans more than one partition
    probs = {
        "t": [0.0, 1 / 3, 0.5, 2 / 3, 1.0],
        "n": np.linspace(0.0, 1.0, 11).tolist(),
        "k": [0.25, 0.75],
        "z": [0.5, 0.9],
    }
    got = exact_quantiles_many(df, probs)
    assert got["z"] == [None, None]
    for i, c in enumerate("tnk"):
        assert got[c] == exact_quantiles(df, c, probs[c])
        assert np.allclose(got[c], np.quantile(_pick(rows, i), probs[c]), rtol=1e-12, atol=0)


def test_exact_quantiles_many_single_row_and_thirds(spark):
    from feature_engineering_tk_spark.operators.quantiles import exact_quantiles_many

    one = spark.createDataFrame([(2.5, None)], "a double, b double")
    assert exact_quantiles_many(one, {"a": [0.0, 1 / 3, 1.0], "b": [0.5]}) == {
        "a": [2.5, 2.5, 2.5],
        "b": [None],
    }
    # pandas routes p through the percent scale: (2/3*100)/100 lands
    # below 2/3, so its position 1.99…96 brackets rows 1..2 and gives
    # 3.9999999999999987 where numpy gives 4.0; the kernel follows pandas
    vals = [1.0, 1.0, 4.0, 9.0]
    df = spark.createDataFrame([(v,) for v in vals], "a double")
    got = exact_quantiles_many(df, {"a": [1 / 3, 2 / 3]})["a"]
    assert got == pd.Series(vals).quantile([1 / 3, 2 / 3]).tolist()
