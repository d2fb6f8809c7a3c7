"""Weighted K-Means: weight semantics + the coreset equivalence that
makes it the 100 TB path (fit on collapsed rows with count weights ==
fit on raw rows)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from k_means_using_mapreduce_spark.operators.kmeans import kmeans_fit, sse

INIT = [(1, [0.0, 0.0]), (2, [10.0, 10.0])]


def test_weighted_centroid_is_weighted_mean(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], 1.0), ([4.0, 0.0], 3.0), ([10.0, 10.0], 2.0)],
        "features array<double>, w double",
    )
    res = kmeans_fit(df, 2, initial_centroids=INIT, max_iter=5, weight_col="w")
    by_id = dict(res.centroids)
    # cluster 1: (1*1 + 4*3)/4 = 3.25
    assert by_id[1][0] == pytest.approx(3.25)
    assert res.cluster_sizes == {1: 4, 2: 2}


def test_coreset_equivalence(spark):
    """Collapsing duplicate rows to (row, count) weights yields the
    same fit as the raw data — the pre-aggregation scale pattern."""
    raw_rows = (
        [([1.0, 2.0],)] * 5
        + [([2.0, 1.0],)] * 3
        + [([9.0, 9.0],)] * 4
        + [([11.0, 10.0],)] * 2
    )
    raw = spark.createDataFrame(raw_rows, "features array<double>")
    coreset = (
        raw.groupBy("features").agg(F.count("*").cast("double").alias("w"))
    )
    r1 = kmeans_fit(raw, 2, initial_centroids=INIT, max_iter=10)
    r2 = kmeans_fit(coreset, 2, initial_centroids=INIT, max_iter=10, weight_col="w")
    for (c1, v1), (c2, v2) in zip(r1.centroids, r2.centroids):
        assert c1 == c2
        assert v1 == pytest.approx(v2, abs=1e-9)
    assert r1.cluster_sizes == r2.cluster_sizes


def test_zero_and_null_weights_dropped(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], 2.0), ([50.0, 50.0], 0.0), ([9.0, 9.0], None)],
        "features array<double>, w double",
    )
    res = kmeans_fit(df, 1, initial_centroids=[(1, [0.0, 0.0])], max_iter=3,
                     weight_col="w")
    assert dict(res.centroids)[1] == [1.0, 0.0]
    assert res.cluster_sizes == {1: 2}


def test_unweighted_unchanged(spark):
    """weight_col=None keeps the original semantics (regression)."""
    df = spark.createDataFrame(
        [([1.0, 0.0],), ([3.0, 0.0],), ([10.0, 10.0],)], "features array<double>"
    )
    res = kmeans_fit(df, 2, initial_centroids=INIT, max_iter=5)
    assert dict(res.centroids)[1] == [2.0, 0.0]
    assert res.cluster_sizes == {1: 2, 2: 1}


def test_weighted_fit_matches_hand_computed_means_and_sse(spark):
    """Weighted centroids and the reported SSE against hand-computed
    values, and the SSE against the expression-form ``sse`` with the
    same weights (ADVICE r2: the fit's SSE must be w-weighted)."""
    df = spark.createDataFrame(
        [([1.0, 0.0], 2.0), ([4.0, 0.0], 3.0), ([10.0, 10.0], 1.5),
         ([11.0, 9.0], 0.5)],
        "features array<double>, w double",
    )
    res = kmeans_fit(df, 2, initial_centroids=INIT, max_iter=5, weight_col="w")
    by_id = dict(res.centroids)
    # cluster 1: x = (1*2 + 4*3)/5; cluster 2: (10*1.5 + 11*0.5)/2, (10*1.5 + 9*0.5)/2
    assert by_id[1] == pytest.approx([2.8, 0.0], abs=1e-9)
    assert by_id[2] == pytest.approx([10.25, 9.75], abs=1e-9)
    assert res.cluster_sizes == {1: 5, 2: 2}
    # 2*1.8² + 3*1.2² + 1.5*(0.25² + 0.25²) + 0.5*(0.75² + 0.75²)
    assert res.sse == pytest.approx(11.55, rel=1e-9)
    expected = sse(df, res.centroids, weight_col="w").first()["sse"]
    assert res.sse == pytest.approx(expected, rel=1e-9)


def test_ragged_rows_dropped(spark):
    """Rows whose feature length differs from the centroid dimension
    are dropped: they count toward no centroid, size or SSE."""
    df = spark.createDataFrame(
        [([1.0, 0.0],), ([3.0, 0.0],), ([2.0, 0.0, 9.0],)],
        "features array<double>",
    )
    res = kmeans_fit(df, 1, initial_centroids=[(1, [0.0, 0.0])], max_iter=3)
    assert dict(res.centroids)[1] == pytest.approx([2.0, 0.0], abs=1e-9)
    assert res.cluster_sizes == {1: 2}
    assert res.sse == pytest.approx(2.0, rel=1e-9)
