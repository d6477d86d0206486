"""Lloyd's k-means: blob recovery, determinism, empty-cluster
fallback, and the shuffle-free assignment plan shape."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from feature_engineering_tk_spark.functions.clustering import (
    assign_clusters,
    cluster_sizes,
    kmeans,
)
from feature_engineering_tk_spark.plans.inspect import inspect


@pytest.fixture(scope="module")
def blobs(spark):
    rng = np.random.default_rng(7)
    centers = np.array([[5.0, 0.0, 0.0], [0.0, 5.0, 0.0], [0.0, 0.0, 5.0]])
    rows = []
    for i in range(90):
        c = i % 3
        v = centers[c] + rng.normal(0, 0.3, 3)
        rows.append((i, [float(x) for x in v], c))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, blob int")


def test_recovers_blobs(blobs):
    assigned, centroids = kmeans(blobs, k=3, n_iter=6)
    got = assigned.join(blobs.select("vec_id", "blob"), "vec_id").collect()
    # cluster ids are arbitrary; the blob→cluster map must be a bijection
    mapping = {}
    for r in got:
        mapping.setdefault(r["blob"], set()).add(r["cluster_id"])
    assert all(len(v) == 1 for v in mapping.values())
    assert len({next(iter(v)) for v in mapping.values()}) == 3


def test_deterministic_across_runs(blobs):
    a1, c1 = kmeans(blobs, k=3, n_iter=4)
    a2, c2 = kmeans(blobs, k=3, n_iter=4)
    assert c1 == c2
    assert sorted(map(tuple, a1.collect())) == sorted(map(tuple, a2.collect()))


def test_empty_cluster_keeps_previous_centroid(spark):
    # two identical points, k=2: centroid 1 never wins a point (ties →
    # smallest id) and must survive with its init vector
    df = spark.createDataFrame(
        [(0, [1.0, 1.0]), (1, [1.0, 1.0])], "vec_id long, embedding array<float>"
    )
    assigned, centroids = kmeans(df, k=2, n_iter=3)
    assert {r["cluster_id"] for r in assigned.collect()} == {0}
    assert dict(centroids)[1] == [1.0, 1.0]


def test_assignment_is_shuffle_free(blobs):
    assigned = assign_clusters(
        blobs.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")),
        [(0, [5.0, 0.0, 0.0]), (1, [0.0, 5.0, 0.0])],
    )
    plan = inspect(assigned)
    assert (plan.shuffles, plan.broadcasts) == ((), 0), plan


def test_cluster_sizes(blobs):
    assigned, _ = kmeans(blobs, k=3, n_iter=4)
    sizes = {r["cluster_id"]: r["n"] for r in cluster_sizes(assigned).collect()}
    assert sum(sizes.values()) == 90
    assert all(v == 30 for v in sizes.values())


def test_semantic_dedup_with_lloyd_refined_cells(spark):
    """refine_iters routes cell assignment through kmeans; exact
    clones still collapse to the smallest-id representative."""
    import numpy as np

    from feature_engineering_tk_spark.operators.dedup import semantic_dedup

    rng = np.random.default_rng(3)
    vecs = rng.normal(0, 1, (40, 8))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    rows += [(100 + i, [float(x) for x in vecs[i]]) for i in range(10)]  # clones
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kept = semantic_dedup(df, threshold=0.999, n_centroids=4, refine_iters=3)
    ids = {r["vec_id"] for r in kept.select("vec_id").collect()}
    assert set(range(40)).issubset(ids)
    assert all(100 + i not in ids for i in range(10))
