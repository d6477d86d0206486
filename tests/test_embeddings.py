"""Embedding covariance / PCA vs numpy ground truth, plus plan-shape
checks (batch-reduced moments, shuffle-free projection)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from feature_engineering_tk_spark.functions.embeddings import (
    covariance_stats,
    embedding_moments,
    pca_components,
    pca_project,
)
from feature_engineering_tk_spark.plans.inspect import inspect


@pytest.fixture(scope="module")
def data(spark):
    rng = np.random.default_rng(11)
    # anisotropic gaussian: dominant variance along a known direction
    base = rng.normal(0, 1, (200, 6))
    base[:, 0] *= 4.0
    base[:, 1] *= 2.0
    base += np.array([1.0, -2.0, 0.5, 0.0, 3.0, -1.0])
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(base)],
        "vec_id long, embedding array<float>",
    )
    return df, base.astype(np.float32).astype(np.float64)


def test_covariance_matches_numpy(data):
    df, x = data
    n, mean, cov = covariance_stats(df)
    assert n == 200
    np.testing.assert_allclose(mean, x.mean(axis=0), rtol=1e-9, atol=1e-9)
    np.testing.assert_allclose(cov, np.cov(x, rowvar=False, ddof=1), rtol=1e-7, atol=1e-9)


def test_moments_table_is_batch_sized(data):
    df, _ = data
    m = embedding_moments(df)
    d = 6
    assert m.count() == d * (d + 1) // 2 + d + 1


def test_pca_recovers_dominant_axis(data):
    df, x = data
    mean, comps, ev = pca_components(df, k=3)
    # dominant component aligns with dim 0 (variance 16 vs 4 vs ~1)
    assert np.abs(comps[0][0]) > 0.95
    assert ev[0] > ev[1] > ev[2]
    ref = np.linalg.eigvalsh(np.cov(x, rowvar=False, ddof=1))[::-1][:3]
    np.testing.assert_allclose(ev, ref, rtol=1e-7)


def test_projection_matches_numpy_and_is_shuffle_free(data):
    df, x = data
    mean, comps, _ = pca_components(df, k=2)
    out = pca_project(df, mean, comps)
    got = {r["vec_id"]: (r["pc0"], r["pc1"]) for r in out.collect()}
    expect = (x - x.mean(axis=0)) @ comps.T
    for i in range(200):
        np.testing.assert_allclose(got[i], expect[i], rtol=1e-6, atol=1e-9)
    plan = inspect(out)
    assert (plan.shuffles, plan.broadcasts) == ((), 0), plan


class TestAnnRecall:
    def test_single_query_recall(self, spark):
        from feature_engineering_tk_spark.functions.similarity import ann_recall

        approx = spark.createDataFrame([(1,), (2,), (3,)], "vec_id long")
        exact = spark.createDataFrame([(2,), (3,), (4,), (5,)], "vec_id long")
        r = ann_recall(approx, exact).first()
        assert r["n_exact"] == 4 and r["n_hits"] == 2
        assert r["recall"] == pytest.approx(0.5)

    def test_multi_query_missing_query_is_zero(self, spark):
        from feature_engineering_tk_spark.functions.similarity import ann_recall

        approx = spark.createDataFrame(
            [("q1", 1), ("q1", 2)], "qid string, vec_id long"
        )
        exact = spark.createDataFrame(
            [("q1", 1), ("q1", 9), ("q2", 5)], "qid string, vec_id long"
        )
        out = {r["qid"]: r for r in
               ann_recall(approx, exact, query_col="qid").collect()}
        assert out["q1"]["n_hits"] == 1 and out["q1"]["recall"] == pytest.approx(0.5)
        assert out["q2"]["n_hits"] == 0 and out["q2"]["recall"] == 0.0

    def test_perfect_recall(self, spark):
        from feature_engineering_tk_spark.functions.similarity import ann_recall

        ids = spark.createDataFrame([(i,) for i in range(5)], "vec_id long")
        r = ann_recall(ids, ids).first()
        assert r["recall"] == 1.0


class TestMeanPool:
    def test_elementwise_group_means(self, spark):
        from feature_engineering_tk_spark.functions.embeddings import mean_pool

        df = spark.createDataFrame(
            [("a", [1.0, 2.0]), ("a", [3.0, 6.0]), ("b", [10.0, 20.0])],
            "g string, embedding array<double>",
        )
        out = {r["g"]: r["mean_vec"] for r in mean_pool(df, "g").collect()}
        assert out["a"] == [2.0, 4.0]
        assert out["b"] == [10.0, 20.0]

    def test_null_vectors_skipped(self, spark):
        from feature_engineering_tk_spark.functions.embeddings import mean_pool

        df = spark.createDataFrame(
            [("a", [4.0, 8.0]), ("a", None)],
            "g string, embedding array<double>",
        )
        out = mean_pool(df, "g").first()
        assert out["mean_vec"] == [4.0, 8.0]

    def test_positions_stay_ordered(self, spark):
        from feature_engineering_tk_spark.functions.embeddings import mean_pool

        vec = [float(i) for i in range(16)]
        df = spark.createDataFrame([("a", vec)], "g string, embedding array<double>")
        assert mean_pool(df, "g").first()["mean_vec"] == vec


def test_embedding_shift_identical_and_shifted(spark):
    from feature_engineering_tk_spark.functions.embeddings import embedding_shift

    a = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0])], "vec_id bigint, embedding array<double>"
    )
    same = embedding_shift(a, a).first()
    assert same.dim == 2 and same.n_a == 2 and same.n_b == 2
    assert same.mean_l2_shift == 0.0 and same.mean_cosine == 1.0
    b = spark.createDataFrame(
        [(1, [0.0, 1.0]), (2, [0.0, 1.0])], "vec_id bigint, embedding array<double>"
    )
    moved = embedding_shift(a, b).first()
    # orthogonal unit centroids: shift sqrt(2), cosine 0
    assert abs(moved.mean_l2_shift - 2**0.5) < 1e-6
    assert moved.mean_cosine == 0.0


def test_contrastive_triplets_hand_values(spark):
    from feature_engineering_tk_spark.functions.similarity import (
        contrastive_triplets,
    )

    df = spark.createDataFrame(
        [
            (1, "a", [1.0, 0.0]),
            (2, "a", [0.9, 0.1]),   # best same-group match for 1
            (3, "b", [1.0, 0.05]),  # best cross-group match for 1
            (4, "b", [0.0, 1.0]),
            (5, "c", [0.5, 0.5]),   # no same-group peer → dropped
        ],
        "vec_id bigint, grp string, embedding array<double>",
    )
    rows = {r.id: r for r in contrastive_triplets(df, "grp").collect()}
    assert 5 not in rows  # anchors without a positive are dropped
    one = rows[1]
    assert one.pos_id == 2 and one.neg_id == 3
    assert one.neg_cos > one.pos_cos  # a genuinely hard negative
    four = rows[4]
    assert four.pos_id == 3  # only same-group peer


def test_adjacent_similarity_hand_values(spark):
    import math

    from feature_engineering_tk_spark.functions.embeddings import adjacent_similarity

    df = spark.createDataFrame(
        [
            (1, "a", [1.0, 0.0]),
            (2, "a", [1.0, 0.0]),   # identical to prev -> cos 1
            (3, "a", [0.0, 1.0]),   # orthogonal to prev -> cos 0
            (4, "b", [1.0, 1.0]),   # first in its group -> NULL
            (5, "b", [1.0, 0.0]),   # cos = 1/sqrt(2)
            (6, "b", [0.0, 0.0]),   # zero norm -> NULL
        ],
        "vec_id bigint, label string, embedding array<double>",
    )
    out = {r.vec_id: r for r in adjacent_similarity(
        df, "embedding", order=["vec_id"], by="label", threshold=0.5
    ).collect()}
    assert out[1].prev_cosine is None and out[1].is_boundary is False
    assert out[2].prev_cosine == 1.0 and out[2].is_boundary is False
    assert out[3].prev_cosine == 0.0 and out[3].is_boundary is True
    assert out[4].prev_cosine is None
    assert out[5].prev_cosine == round(1 / math.sqrt(2), 6)
    assert out[6].prev_cosine is None and out[6].is_boundary is False


def test_quantize_embeddings_and_quantized_topk(spark):
    """int8 quantization: values in [-127,127], scale reconstructs the
    max component exactly, zero vectors stay safe, and the quantized
    top-k agrees with the float top-k on a well-separated corpus."""
    from pyspark.sql import functions as F

    from feature_engineering_tk_spark.functions.similarity import (
        cosine_topk,
        quantize_embeddings,
        quantized_cosine_topk,
    )

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [-0.5, 0.0, 0.5]),
        (4, [0.0, 0.0, 0.0]),  # zero vector
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    qz = quantize_embeddings(df)
    got = {r.vec_id: (r.q8, r.q8_scale) for r in qz.collect()}
    assert got[0][0] == [127, 0, 0]
    assert got[4] == ([0, 0, 0], 1.0)  # zero vector: scale 1, no 0/0
    for vid, (q8, scale) in got.items():
        assert all(-127 <= v <= 127 for v in q8)
        # scale reconstructs the max-|x| component exactly
        orig = dict(rows)[vid]
        if any(orig):
            mi = max(range(len(orig)), key=lambda i: abs(orig[i]))
            assert q8[mi] * scale == pytest.approx(orig[mi], rel=1e-12)

    qtop = [r.vec_id for r in quantized_cosine_topk(qz, [1.0, 0.05, 0.0], k=3).collect()]
    ftop = [r.vec_id for r in cosine_topk(df, [1.0, 0.05, 0.0], k=3).collect()]
    assert qtop == ftop == [0, 1, 2]
    with pytest.raises(ValueError):
        quantized_cosine_topk(qz, [1.0, 0.0, 0.0], k=0)


class TestTopicSegments:
    def test_segment_ids(self, spark):
        from feature_engineering_tk_spark.functions.embeddings import topic_segments

        rows = [
            ("c", 0, [1.0, 0.0]), ("c", 1, [0.9, 0.1]),
            ("c", 2, [0.0, 1.0]), ("c", 3, [0.1, 0.9]),
            ("c", 4, [1.0, 0.0]),
            ("d", 0, [1.0, 0.0]),  # independent group restarts at 0
        ]
        df = spark.createDataFrame(
            rows, "label string, vec_id int, embedding array<double>"
        )
        out = topic_segments(df, by="label", order=["vec_id"], threshold=0.5)
        segs = {
            (r["label"], r["vec_id"]): r["segment_id"]
            for r in out.collect()
        }
        assert [segs[("c", i)] for i in range(5)] == [0, 0, 1, 1, 2]
        assert segs[("d", 0)] == 0

    def test_boundary_consistency(self, spark):
        # segment increments exactly where is_boundary fires
        from feature_engineering_tk_spark.functions.embeddings import topic_segments

        rows = [("g", i, [float(i % 2), float(1 - i % 2)]) for i in range(6)]
        df = spark.createDataFrame(
            rows, "label string, vec_id int, embedding array<double>"
        )
        out = topic_segments(df, by="label", order=["vec_id"], threshold=0.5)
        prev = None
        for r in out.orderBy("vec_id").collect():
            if prev is not None:
                assert r["segment_id"] == prev + (1 if r["is_boundary"] else 0)
            prev = r["segment_id"]
