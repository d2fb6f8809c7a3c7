"""K-Means core tests: golden parity with the reference run, operator
invariants, and MLlib parity (SURVEY.md §5)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from k_means_using_mapreduce_spark.operators.kmeans import (
    assign,
    init_centroids,
    kmeans_fit,
    one_step,
    sse,
    update,
)
from k_means_using_mapreduce_spark.operators.kmeans_ml import kmeans_fit_ml
from k_means_using_mapreduce_spark.sources.loaders import (
    points_to_features,
    read_points_csv,
    validate_kmeans_input,
)

POINTS = "/root/reference/points.txt"
# dump.txt:1 — the logged run's fixed initial centroids.
GOLDEN_INIT = [(1, [9.7, 0.8]), (2, [-1.6, 7.4])]
# dump.txt:75-76 — the reference's final centroids. NOTE: the reference's
# run silently lost point (8.3, 2.9) (points.txt:14) through its shuffle
# bugs (mapper.py:69 precedence bug / mapper.py:105-106 bare except), so
# its "golden" is the 30-point answer, not the full 31-point one.
GOLDEN_REF_LOSSY = [[-0.175, 8.141666666666667], [9.616666666666667, 0.944444444444444]]
# Correct Lloyd fixpoint over all 31 points (verified vs numpy).
GOLDEN_CORRECT = [[-0.175, 8.141666666666667], [9.547368421052632, 1.0473684210526317]]


def _points(spark):
    return points_to_features(read_points_csv(spark, POINTS))


def _sorted_vecs(centroids):
    return sorted(vec for _, vec in centroids)


def approx_eq(a, b, atol=1e-4):
    return all(
        math.isclose(x, y, abs_tol=atol) for va, vb in zip(a, b) for x, y in zip(va, vb)
    )


class TestGolden:
    def test_full_dataset_correct_lloyd(self, spark):
        res = kmeans_fit(_points(spark), 2, initial_centroids=GOLDEN_INIT, max_iter=10)
        assert res.converged
        assert approx_eq(_sorted_vecs(res.centroids), sorted(GOLDEN_CORRECT))
        assert sum(res.cluster_sizes.values()) == 31

    def test_reference_golden_reproduced_on_its_effective_input(self, spark):
        """Dropping the point the reference's buggy shuffle lost, we
        reproduce dump.txt:75-76 exactly (atol 1e-4 absorbs the float32
        wire rounding, mapreduce.proto:7-8)."""
        df = _points(spark).filter(
            ~((F.col("features")[0] == 8.3) & (F.col("features")[1] == 2.9))
        )
        res = kmeans_fit(df, 2, initial_centroids=GOLDEN_INIT, max_iter=10)
        assert res.converged
        assert approx_eq(_sorted_vecs(res.centroids), sorted(GOLDEN_REF_LOSSY))

    def test_assign_golden_intermediate(self, spark):
        """The reference's shuffle partition files hold the iteration-1
        assignment under the dump.txt:1 init: 31 rows total, cluster 2 =
        the 12 points near (-0.2, 8.1) (ids per Data/Mappers golden)."""
        a = assign(_points(spark), GOLDEN_INIT)
        counts = {r["cid"]: r["n"] for r in a.groupBy("cid").agg(F.count("*").alias("n")).collect()}
        assert counts == {1: 19, 2: 12}


class TestOperators:
    def test_assign_tie_break_lowest_cid(self, spark):
        df = spark.createDataFrame([([0.0, 0.0],)], "features array<double>")
        cents = [(1, [1.0, 0.0]), (2, [-1.0, 0.0]), (3, [0.0, 1.0])]
        row = assign(df, cents).first()
        assert row["cid"] == 1 and row["sq_dist"] == 1.0

    def test_update_means_and_counts(self, spark):
        df = spark.createDataFrame(
            [(1, [0.0, 0.0]), (1, [2.0, 4.0]), (2, [10.0, 10.0])],
            "cid int, features array<double>",
        )
        rows = {r["cid"]: r for r in update(df).collect()}
        assert rows[1]["n"] == 2 and rows[1]["centroid"] == [1.0, 2.0]
        assert rows[2]["n"] == 1 and rows[2]["centroid"] == [10.0, 10.0]

    def test_one_step_composition(self, spark):
        manual = update(assign(_points(spark), GOLDEN_INIT, keep_dist=False))
        composed = one_step(_points(spark), GOLDEN_INIT)
        assert sorted(manual.collect()) == sorted(composed.collect())

    def test_sse_matches_manual(self, spark):
        a = assign(_points(spark), GOLDEN_INIT)
        manual = a.agg(F.sum("sq_dist")).first()[0]
        assert sse(_points(spark), GOLDEN_INIT).first()["sse"] == pytest.approx(manual)

    def test_empty_cluster_keeps_old_centroid(self, spark):
        df = spark.createDataFrame([([0.0, 0.0],), ([1.0, 0.0],)], "features array<double>")
        far = [(1, [0.5, 0.0]), (2, [100.0, 100.0])]
        res = kmeans_fit(df, 2, initial_centroids=far, max_iter=3)
        by_id = dict(res.centroids)
        assert by_id[2] == [100.0, 100.0] and res.cluster_sizes[2] == 0
        assert by_id[1] == [0.5, 0.0]

    def test_seeded_init_deterministic(self, spark):
        df = _points(spark)
        a = init_centroids(df, 3, seed=7)
        b = init_centroids(df, 3, seed=7)
        assert a == b and len({tuple(v) for _, v in a}) == 3
        assert [cid for cid, _ in a] == [1, 2, 3]

    def test_input_guards(self, spark):
        df = _points(spark)
        assert validate_kmeans_input(df, 2) == 31
        with pytest.raises(ValueError):
            validate_kmeans_input(df, 99)
        empty = spark.createDataFrame([], "features array<double>")
        with pytest.raises(ValueError):
            kmeans_fit(empty, 1)


class TestInvariants:
    def test_sse_non_increasing_per_iteration(self, spark):
        df = points_to_features(
            read_points_csv(spark, "/root/reference/points3.txt")
        ).cache()
        cents = init_centroids(df, 4, seed=3)
        last = float("inf")
        for _ in range(5):
            cur = sse(df, cents).first()["sse"]
            assert cur <= last + 1e-9
            last = cur
            stepped = one_step(df, cents).collect()
            got = {r["cid"]: list(r["centroid"]) for r in stepped}
            cents = [(cid, got.get(cid, vec)) for cid, vec in cents]

    def test_every_point_at_true_argmin(self, spark):
        df = _points(spark)
        cents = init_centroids(df, 3, seed=11)
        rows = assign(df, cents).collect()
        for r in rows:
            dists = {
                cid: sum((a - b) ** 2 for a, b in zip(r["features"], vec))
                for cid, vec in cents
            }
            best = min(dists.items(), key=lambda t: (t[1], t[0]))[0]
            assert r["cid"] == best
            assert r["sq_dist"] == pytest.approx(dists[best])

    def test_permutation_invariance(self, spark):
        df = _points(spark)
        shuffled = df.orderBy(F.rand(5))
        r1 = kmeans_fit(df, 2, initial_centroids=GOLDEN_INIT)
        r2 = kmeans_fit(shuffled, 2, initial_centroids=GOLDEN_INIT)
        assert approx_eq(_sorted_vecs(r1.centroids), _sorted_vecs(r2.centroids), atol=1e-9)

    def test_kmeans_on_embeddings_nd(self, spark, sf_small):
        emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
        df = emb.select(F.col("embedding").cast("array<double>").alias("features"))
        res = kmeans_fit(df, 4, seed=42, max_iter=25)
        assert len(res.centroids) == 4
        assert all(len(vec) == 64 for _, vec in res.centroids)
        assert sum(res.cluster_sizes.values()) == emb.count()


class TestMLlibParity:
    def test_same_init_same_result(self, spark):
        df = _points(spark)
        ours = kmeans_fit(df, 2, initial_centroids=GOLDEN_INIT)
        ml = kmeans_fit_ml(df, 2, seed=1, init_mode="random", max_iter=20)
        # same data, k=2, well-separated blobs: both must find the global
        # structure — SSE parity within 1%.
        assert ml.sse == pytest.approx(ours.sse, rel=0.01)

    def test_embeddings_sse_parity(self, spark, sf_small):
        emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
        df = emb.select(F.col("embedding").cast("array<double>").alias("features")).cache()
        ours = kmeans_fit(df, 4, seed=42, max_iter=30)
        ml = kmeans_fit_ml(df, 4, seed=42, max_iter=30)
        assert ml.sse == pytest.approx(ours.sse, rel=0.05)

    def test_pp_init_sse_parity_with_kmeans_parallel(self, spark, sf_small):
        """Our k-means++ seeding vs MLlib's k-means|| (its distributed
        generalization): same data, same k → SSE within 5%."""
        emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
        df = emb.select(F.col("embedding").cast("array<double>").alias("features")).cache()
        ours = kmeans_fit(df, 4, seed=42, max_iter=30, init="k-means++")
        ml = kmeans_fit_ml(df, 4, seed=42, max_iter=30)  # k-means|| default
        assert ml.sse == pytest.approx(ours.sse, rel=0.05)


class TestMiniBatch:
    def test_minibatch_converges_near_full_lloyd(self, spark, sf_small):
        from pyspark.sql import functions as F

        from k_means_using_mapreduce_spark.operators import (
            kmeans_fit,
            kmeans_fit_minibatch,
        )

        emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
        feats = emb.select(
            F.col("embedding").cast("array<double>").alias("features")
        )
        full = kmeans_fit(feats, 4, seed=7, max_iter=10, tol=0.0)
        mb = kmeans_fit_minibatch(
            feats, 4, seed=7, max_iter=10, tol=0.0, batch_fraction=0.25
        )
        assert mb.sse <= full.sse * 1.10  # within 10% of full-batch SSE

    def test_minibatch_deterministic_and_guarded(self, spark):
        import pytest
        from pyspark.sql import functions as F

        from k_means_using_mapreduce_spark.operators import kmeans_fit_minibatch

        rows = [([float(i), float(i % 3)],) for i in range(60)]
        df = spark.createDataFrame(rows, "features array<double>")
        a = kmeans_fit_minibatch(df, 3, seed=1, max_iter=5, tol=0.0)
        b = kmeans_fit_minibatch(df, 3, seed=1, max_iter=5, tol=0.0)
        assert a.centroids == b.centroids
        with pytest.raises(ValueError, match="exceeds"):
            kmeans_fit_minibatch(df, 100, seed=1)


def test_minibatch_empty_bucket_not_converged(spark):
    """An empty hash bucket (duplicate vectors collapse buckets) must
    NOT count as convergence (ADVICE r2): with many buckets and few
    distinct vectors, most iterations see no rows — the fit must still
    reach the data's structure instead of exiting on a no-op."""
    from k_means_using_mapreduce_spark.operators import kmeans_fit_minibatch

    rows = [([0.0, 0.0],), ([0.0, 1.0],), ([10.0, 10.0],), ([10.0, 11.0],)] * 3
    df = spark.createDataFrame(rows, "features array<double>")
    res = kmeans_fit_minibatch(
        df, 2,
        initial_centroids=[(1, [5.0, 5.0]), (2, [6.0, 6.0])],
        batch_fraction=0.05,  # 20 buckets, only 4 distinct vectors
        max_iter=25, tol=1e-6, seed=3,
    )
    # premature convergence would leave centroids at (5,5)/(6,6):
    # sse ~ 4*3*~50; a real fit separates the two blobs
    assert res.sse < 20.0
    by_id = dict(res.centroids)
    assert abs(by_id[1][0] - by_id[2][0]) > 5.0


# Two blobs, a point planted exactly midway between initial centroids
# 1 and 2 (an exact tie in both the expression and the GEMM distance
# form), and a far centroid 3 that never wins a point.
TIE_ROWS = [
    ([-1.0, 0.0],), ([0.0, 1.0],), ([0.0, -1.0],), ([2.0, 0.0],),
    ([4.0, 1.0],), ([5.0, 0.0],), ([4.0, -1.0],), ([6.0, 0.0],),
]
TIE_INIT = [(2, [4.0, 0.0]), (1, [0.0, 0.0]), (3, [1000.0, 1000.0])]


def test_fit_matches_one_step_iterations(spark):
    """kmeans_fit(tol=0) equals the same number of expression-form
    one_step iterations: lowest cid wins the tie, the empty cluster
    keeps its centroid, and the SSE equals sse() at the final
    centroids."""
    df = spark.createDataFrame(TIE_ROWS, "features array<double>")
    res = kmeans_fit(df, 3, initial_centroids=TIE_INIT, max_iter=3, tol=0.0)
    cents = sorted(TIE_INIT)
    for _ in range(res.iterations):
        got = {r["cid"]: list(r["centroid"]) for r in one_step(df, cents).collect()}
        cents = [(cid, got.get(cid, vec)) for cid, vec in cents]
    assert [c for c, _ in res.centroids] == [1, 2, 3]
    for (_, got), (_, want) in zip(res.centroids, cents):
        assert got == pytest.approx(want, abs=1e-9)
    assert dict(res.centroids)[3] == [1000.0, 1000.0]
    assert res.cluster_sizes == {1: 4, 2: 4, 3: 0}
    assert res.sse == pytest.approx(sse(df, res.centroids).first()["sse"], rel=1e-9)


def test_fit_runs_one_spark_job_per_iteration(spark):
    """Each Lloyd iteration is one narrow mapInPandas job plus its
    collect: two more iterations cost exactly two more jobs."""
    df = spark.createDataFrame(TIE_ROWS, "features array<double>")
    tracker = spark.sparkContext.statusTracker()

    def jobs(max_iter):
        # max job id delta, not len(): see test_kmeans_pp's job counter
        before = max(tracker.getJobIdsForGroup(None) or [0])
        # tol=-1 never converges, so every fit runs exactly max_iter
        res = kmeans_fit(df, 3, initial_centroids=TIE_INIT, max_iter=max_iter, tol=-1.0)
        assert res.iterations == max_iter
        return max(tracker.getJobIdsForGroup(None) or [0]) - before

    jobs(2)  # warm-up: the first mapInPandas in a session may add jobs
    assert jobs(4) - jobs(2) == 2


def test_k_below_one_rejected(spark):
    from k_means_using_mapreduce_spark.operators import kmeans_fit_minibatch

    df = spark.createDataFrame(TIE_ROWS, "features array<double>")
    for bad_k in (0, -1):
        with pytest.raises(ValueError, match="k must be positive"):
            validate_kmeans_input(df, bad_k)
        with pytest.raises(ValueError, match="k must be positive"):
            kmeans_fit(df, bad_k)
        with pytest.raises(ValueError, match="k must be positive"):
            kmeans_fit_minibatch(df, bad_k)


def test_minibatch_rejects_batch_fraction_outside_unit_interval(spark):
    from k_means_using_mapreduce_spark.operators import kmeans_fit_minibatch

    df = spark.createDataFrame(TIE_ROWS, "features array<double>")
    for bad in (0, 0.0, -0.5, 1.5):
        with pytest.raises(ValueError, match="batch_fraction"):
            kmeans_fit_minibatch(df, 2, batch_fraction=bad)
    assert kmeans_fit_minibatch(df, 2, batch_fraction=1.0, max_iter=2).iterations >= 1


def test_minibatch_rejects_centroid_dimension_mismatch(spark):
    """3-D initial centroids on 2-D data must raise, not drop every row
    and return an empty fit."""
    from k_means_using_mapreduce_spark.operators import kmeans_fit_minibatch

    df = spark.createDataFrame(TIE_ROWS, "features array<double>")
    with pytest.raises(ValueError, match="dimension mismatch"):
        kmeans_fit_minibatch(
            df, 2, initial_centroids=[(1, [0.0, 0.0, 0.0]), (2, [5.0, 0.0, 0.0])]
        )


def test_gmm1d_separates_two_gaussians(spark):
    from k_means_using_mapreduce_spark.operators.kmeans import gmm1d_fit

    # deterministic two-bump sample via inverse-CDF-ish grids
    lo = [(-5.0 + 0.01 * i,) for i in range(200)]   # mean ~ -4
    hi = [(6.0 + 0.01 * i,) for i in range(200)]    # mean ~ 7
    df = spark.createDataFrame(lo + hi, "v double")
    r = gmm1d_fit(df, "v", iters=8).collect()[0]
    assert r["n"] == 400
    assert r["w1"] == pytest.approx(0.5, abs=0.05)
    assert r["m1"] == pytest.approx(-4.005, abs=0.1)
    assert r["m2"] == pytest.approx(6.995, abs=0.1)
    assert r["v1"] < 1.0 and r["v2"] < 1.0  # far below global var
    assert r["log_lik"] > -1000.0


def test_gmm1d_likelihood_monotone_in_iters(spark):
    from k_means_using_mapreduce_spark.operators.kmeans import gmm1d_fit

    vals = [((i * 37) % 101 / 10.0,) for i in range(300)]
    df = spark.createDataFrame(vals, "v double")
    ll = [
        gmm1d_fit(df, "v", iters=k).collect()[0]["log_lik"]
        for k in (1, 3, 6)
    ]
    # EM never decreases the likelihood
    assert ll[0] <= ll[1] + 1e-9 and ll[1] <= ll[2] + 1e-9


def test_gmm1d_guards(spark):
    import pytest as _p

    from k_means_using_mapreduce_spark.operators.kmeans import gmm1d_fit

    one = spark.createDataFrame([(5.0,), (5.0,)], "v double")
    with _p.raises(ValueError):
        gmm1d_fit(one, "v")  # zero variance
    df = spark.createDataFrame([(1.0,), (2.0,)], "v double")
    with _p.raises(ValueError):
        gmm1d_fit(df, "v", iters=0)


def test_gmm1d_exact_zero_variance_mid_em_raises_collapse_message(spark):
    """Two perfectly-separated point masses: responsibilities saturate
    and a component's within-variance underflows to EXACTLY 0.0
    mid-EM. Pre-round-8 the next log-density literal hit math.log(0)
    and surfaced a bare 'math domain error' — the guard must raise the
    intended collapse message instead (ADVICE r7)."""
    import pytest

    from k_means_using_mapreduce_spark.operators.kmeans import gmm1d_fit

    df = spark.createDataFrame(
        [(0.0,)] * 10 + [(1000.0,)] * 10, "x double"
    )
    with pytest.raises(ValueError, match="variance collapsed"):
        gmm1d_fit(df, "x", iters=5)
