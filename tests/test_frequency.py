"""Heavy hitters / frequency spectrum / Misra-Gries sketch."""

import random
from collections import Counter

import pytest

from feature_engineering_tk_spark.exceptions import ColumnNotFoundError
from feature_engineering_tk_spark.operators.frequency import (
    frequency_spectrum,
    heavy_hitters,
    misra_gries,
)


def _zipf_tokens(seed=11, n=3000, vocab=200):
    rng = random.Random(seed)
    toks = []
    for _ in range(n):
        # heavy-tailed: rank r chosen with p ~ 1/r
        r = min(int(1 / max(rng.random(), 1e-9)), vocab)
        toks.append(f"tok{r:04d}")
    return toks


@pytest.fixture(scope="module")
def tokens(spark):
    toks = _zipf_tokens()
    df = spark.createDataFrame([(t,) for t in toks], "token string").repartition(6)
    return df, toks


def test_heavy_hitters_exact(spark, tokens):
    df, toks = tokens
    truth = Counter(toks)
    got = heavy_hitters(df, "token", k=10).collect()
    want = sorted(truth.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert [(r["value"], r["n_rows"]) for r in got] == want
    assert got[0]["share"] == pytest.approx(want[0][1] / len(toks))
    # output is already in rank order
    assert [r["n_rows"] for r in got] == sorted(
        (r["n_rows"] for r in got), reverse=True
    )


def test_heavy_hitters_excludes_nulls(spark):
    df = spark.createDataFrame([("a",), (None,), ("a",), ("b",)], "v string")
    got = heavy_hitters(df, "v", k=5).collect()
    assert [(r["value"], r["n_rows"]) for r in got] == [("a", 2), ("b", 1)]
    assert got[0]["share"] == pytest.approx(2 / 3)


def test_frequency_spectrum(spark, tokens):
    df, toks = tokens
    truth = Counter(Counter(toks).values())
    got = {r["frequency"]: r["n_values"] for r in frequency_spectrum(df, "token").collect()}
    assert got == dict(truth)


def test_missing_column_raises(spark, tokens):
    df, _ = tokens
    with pytest.raises(ColumnNotFoundError):
        heavy_hitters(df, "nope")
    with pytest.raises(ColumnNotFoundError):
        frequency_spectrum(df, "nope")


def test_misra_gries_guarantee(spark, tokens):
    df, toks = tokens
    truth = Counter(toks)
    n = len(toks)
    width = 32
    sketch = dict(misra_gries(df, "token", width=width))
    assert len(sketch) <= width
    for v, est in sketch.items():
        # never overestimates; undercount bounded by n/width
        assert est <= truth[v]
        assert truth[v] - est <= n / width
    # every value more frequent than n/width must survive the sketch
    for v, cnt in truth.items():
        if cnt > n / width:
            assert v in sketch


def test_misra_gries_small_width(spark):
    df = spark.createDataFrame(
        [("a",)] * 50 + [("b",)] * 30 + [(f"x{i}",) for i in range(20)], "v string"
    )
    sketch = dict(misra_gries(df, "v", width=2))
    assert "a" in sketch and sketch["a"] <= 50
    assert 50 - sketch["a"] <= 100 / 2


def test_mg_sketch_table_exact_regime_and_merge(spark, tokens):
    """width ≥ per-slice distinct count → the sketch table is exactly
    each slice's value counts, and the merged table is exactly the
    global counts (the mg_heavy_hitters oracle regime)."""
    from pyspark.sql import functions as F

    from feature_engineering_tk_spark.operators.frequency import (
        merge_mg_sketches,
        mg_sketch_table,
    )

    df, toks = tokens
    sliced = df.withColumn("slice", (F.monotonically_increasing_id() % 3).cast("int"))
    sk = mg_sketch_table(sliced, "token", "slice", width=1000)
    # per-slice rows equal that slice's exact counts
    exact_slice = {
        (r["slice"], r["token"]): r["n"]
        for r in sliced.groupBy("slice", "token").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    got_slice = {(r["slice"], r["value"]): r["weight"] for r in sk.collect()}
    assert got_slice == exact_slice
    # global merge equals global exact counts
    merged = {r["value"]: r["weight"] for r in merge_mg_sketches(sk, width=1000).collect()}
    assert merged == dict(Counter(toks))


def test_mg_sketch_table_lossy_width_band(spark):
    """Below-cardinality width keeps the classic MG band per slice and
    after merging: true − n/width ≤ estimate ≤ true."""
    from pyspark.sql import functions as F

    from feature_engineering_tk_spark.operators.frequency import (
        merge_mg_sketches,
        mg_sketch_table,
    )

    rows = (
        [("s0", "a")] * 60 + [("s0", "b")] * 25 + [(f"s0", f"x{i}") for i in range(15)]
        + [("s1", "a")] * 40 + [("s1", "c")] * 30 + [(f"s1", f"y{i}") for i in range(30)]
    )
    df = spark.createDataFrame(rows, "slice string, v string")
    truth = Counter(v for _, v in rows)
    n = len(rows)
    width = 4
    sk = mg_sketch_table(df, "v", "slice", width=width)
    assert sk.groupBy("slice").count().agg(F.max("count")).first()[0] <= width
    merged = dict(
        (r["value"], r["weight"]) for r in merge_mg_sketches(sk, width=width).collect()
    )
    assert len(merged) <= width
    for v, est in merged.items():
        assert est <= truth[v]
        assert truth[v] - est <= n / width
    # regroup by a coarser key keeps the by column
    coarse = merge_mg_sketches(sk.withColumn("all", F.lit("g")), width=width, by="all")
    assert set(coarse.columns) == {"all", "value", "weight"}


def test_mg_sketch_table_guards(spark, tokens):
    from feature_engineering_tk_spark.operators.frequency import (
        merge_mg_sketches,
        mg_sketch_table,
    )

    df, _ = tokens
    sliced = df.withColumn("slice", df["token"].substr(1, 1))
    with pytest.raises(ColumnNotFoundError):
        mg_sketch_table(sliced, "nope", "slice")
    with pytest.raises(ValueError):
        mg_sketch_table(sliced, "token", "slice", width=0)
    sk = mg_sketch_table(sliced, "token", "slice", width=8)
    with pytest.raises(ColumnNotFoundError):
        merge_mg_sketches(sk.drop("weight"))
    with pytest.raises(ValueError):
        merge_mg_sketches(sk, width=0)


# ---------------------------------------------------------------------------
# Count-Min sketch tables


class TestCountMin:
    @pytest.fixture(scope="class")
    def sliced(self, spark):
        rows = (
            [("a", 0)] * 12 + [("b", 0)] * 7 + [("a", 1)] * 5
            + [("c", 1)] * 3 + [(None, 1)] * 2
        )
        return spark.createDataFrame(rows, "val string, shard int").repartition(5)

    def test_exact_regime_estimates(self, spark, sliced):
        from feature_engineering_tk_spark.operators.frequency import (
            cms_estimate,
            cms_sketch_table,
            merge_cms_sketches,
        )

        sk = cms_sketch_table(sliced, "val", by="shard", depth=3, width=512)
        merged = merge_cms_sketches(sk)
        est = {
            r["value"]: r["estimate"]
            for r in cms_estimate(
                merged, ["a", "b", "c", "absent"], depth=3, width=512
            ).collect()
        }
        # width 512 >> 3 distinct values: no collisions, estimates exact
        assert est == {"a": 17, "b": 7, "c": 3, "absent": 0}

    def test_overestimate_only(self, spark):
        from feature_engineering_tk_spark.operators.frequency import (
            cms_estimate,
            cms_sketch_table,
        )

        vals = [f"v{i % 37}" for i in range(500)]
        df = spark.createDataFrame([(v,) for v in vals], "val string")
        truth = Counter(vals)
        sk = cms_sketch_table(df, "val", depth=3, width=8)  # heavy collisions
        est = cms_estimate(sk, sorted(truth), depth=3, width=8).collect()
        for r in est:
            assert r["estimate"] >= truth[r["value"]]

    def test_per_slice_table_never_undercounts(self, spark, sliced):
        """A per-slice table (``by=``) is summed cell-wise before the
        min: every estimate is >= the value's total over all slices,
        with and without collisions, and 0 still proves absence."""
        from feature_engineering_tk_spark.operators.frequency import (
            cms_estimate,
            cms_sketch_table,
        )

        truth = {"a": 17, "b": 7, "c": 3}
        probe = sorted(truth) + ["absent"]
        for width in (512, 4):
            sk = cms_sketch_table(sliced, "val", by="shard", depth=3, width=width)
            est = {
                r["value"]: r["estimate"]
                for r in cms_estimate(sk, probe, depth=3, width=width).collect()
            }
            for v in probe:
                assert est[v] >= truth.get(v, 0)
                if est[v] == 0:
                    assert v not in truth
            if width == 512:  # no collisions: exact
                assert est == {**truth, "absent": 0}

    def test_merge_equals_whole(self, spark, sliced):
        from feature_engineering_tk_spark.operators.frequency import (
            cms_sketch_table,
            merge_cms_sketches,
        )

        whole = cms_sketch_table(
            sliced.drop("shard"), "val", depth=4, width=64
        )
        per_slice = cms_sketch_table(sliced, "val", by="shard", depth=4, width=64)
        merged = merge_cms_sketches(per_slice)
        a = {(r["row"], r["col"]): r["weight"] for r in whole.collect()}
        b = {(r["row"], r["col"]): r["weight"] for r in merged.collect()}
        assert a == b  # CMS merge is lossless cell-wise addition

    def test_partition_invariance(self, spark, sliced):
        from feature_engineering_tk_spark.operators.frequency import cms_sketch_table

        a = {
            (r["row"], r["col"]): r["weight"]
            for r in cms_sketch_table(sliced.coalesce(1), "val", depth=2, width=32).collect()
        }
        b = {
            (r["row"], r["col"]): r["weight"]
            for r in cms_sketch_table(sliced.repartition(7), "val", depth=2, width=32).collect()
        }
        assert a == b

    def test_weighted(self, spark):
        from feature_engineering_tk_spark.operators.frequency import (
            cms_estimate,
            cms_sketch_table,
        )

        df = spark.createDataFrame(
            [("x", 5), ("x", 7), ("y", 1)], "val string, w int"
        )
        sk = cms_sketch_table(df, "val", depth=3, width=64, weight_col="w")
        est = {
            r["value"]: r["estimate"]
            for r in cms_estimate(sk, ["x", "y"], depth=3, width=64).collect()
        }
        assert est == {"x": 12, "y": 1}

    def test_validation(self, spark, sliced):
        from feature_engineering_tk_spark.operators.frequency import (
            cms_estimate,
            cms_sketch_table,
        )

        with pytest.raises(ColumnNotFoundError):
            cms_sketch_table(sliced, "nope")
        with pytest.raises(ValueError):
            cms_sketch_table(sliced, "val", depth=0)
        sk = cms_sketch_table(sliced, "val", depth=2, width=16)
        with pytest.raises(ValueError):
            cms_estimate(sk, [], depth=2, width=16)


class TestDecayedCounts:
    @pytest.fixture(scope="class")
    def timed(self, spark):
        rows = [
            ("a", "2024-01-08 00:00:00", 1),  # anchor row (max ts)
            ("a", "2024-01-01 00:00:00", 1),  # exactly one 7d half-life old
            ("b", "2024-01-08 00:00:00", 3),
            (None, "2024-01-08 00:00:00", 1),
            ("c", None, 1),
        ]
        df = spark.createDataFrame(rows, "k string, ts string, w int")
        return df.withColumn("ts", df["ts"].cast("timestamp_ntz"))

    def test_half_life_semantics(self, spark, timed):
        from feature_engineering_tk_spark.operators.frequency import decayed_counts

        out = {
            r["k"]: (r["n_rows"], r["decayed_count"])
            for r in decayed_counts(timed, "k", "ts", half_life_s=7 * 86400.0).collect()
        }
        # null key and null ts rows excluded
        assert set(out) == {"a", "b"}
        # anchor row decays by 2^0 = 1; the 7-day-old row by exactly 0.5
        assert out["a"] == (2, pytest.approx(1.5))
        assert out["b"] == (1, pytest.approx(1.0))

    def test_weighted_and_pinned_anchor(self, spark, timed):
        from feature_engineering_tk_spark.operators.frequency import decayed_counts

        out = {
            r["k"]: r["decayed_count"]
            for r in decayed_counts(
                timed, "k", "ts", half_life_s=7 * 86400.0,
                ref_ts="2024-01-15 00:00:00", weight_col="w",
            ).collect()
        }
        # one extra half-life from the pinned anchor halves everything
        assert out["a"] == pytest.approx(0.5 + 0.25)
        assert out["b"] == pytest.approx(3 * 0.5)

    def test_partition_invariance(self, spark, timed):
        from feature_engineering_tk_spark.operators.frequency import decayed_counts

        a = {
            r["k"]: r["decayed_count"]
            for r in decayed_counts(timed.coalesce(1), "k", "ts", 3600.0).collect()
        }
        b = {
            r["k"]: r["decayed_count"]
            for r in decayed_counts(timed.repartition(7), "k", "ts", 3600.0).collect()
        }
        assert a == b  # DECIMAL sum: bit-identical under any layout

    def test_validation(self, spark, timed):
        from feature_engineering_tk_spark.operators.frequency import decayed_counts

        with pytest.raises(ColumnNotFoundError):
            decayed_counts(timed, "nope", "ts", 1.0)
        with pytest.raises(ValueError):
            decayed_counts(timed, "k", "ts", 0.0)


class TestBurstScores:
    @pytest.fixture(scope="class")
    def events(self, spark):
        rows = [
            ("hot", "2024-01-08 00:00:00"), ("hot", "2024-01-07 23:00:00"),
            ("hot", "2024-01-07 22:00:00"), ("hot", "2023-12-01 00:00:00"),
            ("steady", "2024-01-08 00:00:00"), ("steady", "2023-12-25 00:00:00"),
            ("steady", "2023-12-10 00:00:00"), ("steady", "2023-11-25 00:00:00"),
        ]
        df = spark.createDataFrame(rows, "k string, ts string")
        return df.withColumn("ts", df["ts"].cast("timestamp_ntz"))

    def test_burst_orders_hot_above_steady(self, spark, events):
        from feature_engineering_tk_spark.operators.frequency import burst_scores

        out = {
            r["k"]: r
            for r in burst_scores(
                events, "k", "ts", 86400.0, 30 * 86400.0,
                ref_ts="2024-01-08 00:00:00",
            ).collect()
        }
        assert out["hot"]["burst_ratio"] > out["steady"]["burst_ratio"]
        # fast mass of hot: anchor row + two recent hours + negligible tail
        exp = 1 + 2 ** (-1 / 24) + 2 ** (-2 / 24) + 2 ** (-38.0)
        assert out["hot"]["fast_count"] == pytest.approx(exp, abs=1e-6)

    def test_single_pass_consistency_with_decayed_counts(self, spark, events):
        from feature_engineering_tk_spark.operators.frequency import (
            burst_scores,
            decayed_counts,
        )

        b = {
            r["k"]: r
            for r in burst_scores(events, "k", "ts", 3600.0, 86400.0).collect()
        }
        fast = {
            r["k"]: r["decayed_count"]
            for r in decayed_counts(events, "k", "ts", 3600.0).collect()
        }
        slow = {
            r["k"]: r["decayed_count"]
            for r in decayed_counts(events, "k", "ts", 86400.0).collect()
        }
        for k, r in b.items():
            assert r["fast_count"] == fast[k]  # same terms, same DECIMAL sums
            assert r["slow_count"] == slow[k]

    def test_validation(self, spark, events):
        from feature_engineering_tk_spark.operators.frequency import burst_scores

        with pytest.raises(ValueError):
            burst_scores(events, "k", "ts", 100.0, 100.0)  # fast must be < slow
        with pytest.raises(ValueError):
            burst_scores(events, "k", "ts", -1.0, 100.0)
