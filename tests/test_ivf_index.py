"""Persisted IVF index: partition-pruned probe scans + multi-probe
recall — the end-to-end proof that the ANN scale path reads only the
probed buckets' FILES (directory pruning at source listing), not a
row-filtered full scan.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from k_means_using_mapreduce_spark.operators import similarity as S
from k_means_using_mapreduce_spark.operators.kmeans import kmeans_fit
from k_means_using_mapreduce_spark.plans.explain import executed_plan
from k_means_using_mapreduce_spark.sources.loaders import load_table

K_BUCKETS = 16
QUERY_VEC_ID = 7  # held-out-ish probe: an actual corpus vector's values


@pytest.fixture(scope="module")
def ivf(spark, sf_small, tmp_path_factory):
    """Fit a 16-bucket coarse quantizer over the sf0.001 embeddings and
    materialize the partitioned index."""
    emb = load_table(spark, sf_small, "embeddings")
    feats = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("features")
    )
    fit = kmeans_fit(feats, K_BUCKETS, seed=42, max_iter=10)
    path = str(tmp_path_factory.mktemp("ivf") / "index")
    S.build_ivf_index(emb, fit.centroids, path)
    query = [
        float(v)
        for v in emb.where(F.col("vec_id") == QUERY_VEC_ID).first()["embedding"]
    ]
    return {"emb": emb, "path": path, "query": query, "cents": fit.centroids}


def test_probe_scan_is_partition_pruned(spark, ivf):
    """The cid predicate is satisfied entirely by directory pruning:
    PartitionFilters carry it, PushedFilters stay empty (no row-level
    filter work), and every file actually read lives under a probed
    cid= directory."""
    df = S.ivf_topk_pruned(spark, ivf["path"], ivf["query"], k=10, nprobe=2)
    plan = executed_plan(df)
    assert "PartitionFilters: [" in plan and "cid" in plan.split("PartitionFilters:")[1][:120]
    assert "PushedFilters: []" in plan

    probes = S.probe_buckets(
        S.load_ivf_centroids(spark, ivf["path"]), ivf["query"], 2
    )
    corpus = spark.read.parquet(f"{ivf['path']}/corpus").where(
        F.col("cid").isin(probes)
    )
    files = [
        r[0] for r in corpus.select(F.input_file_name()).distinct().collect()
    ]
    assert files and all(any(f"cid={p}/" in f for p in probes) for f in files)


def test_index_roundtrip_centroids(spark, ivf):
    assert S.load_ivf_centroids(spark, ivf["path"]) == [
        (int(cid), [float(v) for v in vec]) for cid, vec in ivf["cents"]
    ]


def test_multi_probe_monotone_and_exhaustive(spark, ivf):
    """On the REAL embeddings table (measured isotropic — same-label and
    cross-label mean cosine are both ~0, so neighborhoods have no cluster
    structure and no IVF can prune aggressively without recall loss):
    recall@10 must be monotone in nprobe and exact at nprobe=K."""
    exact = {
        r["vec_id"]
        for r in S.topk_for_query(ivf["emb"], ivf["query"], k=10).collect()
    }

    def recall(nprobe: int) -> float:
        got = {
            r["vec_id"]
            for r in S.ivf_topk_pruned(
                spark, ivf["path"], ivf["query"], k=10, nprobe=nprobe
            ).collect()
        }
        return len(got & exact) / len(exact)

    r1, r4, rk = recall(1), recall(4), recall(K_BUCKETS)
    assert r1 <= r4 <= rk
    assert rk == 1.0


def test_multi_probe_recall_on_clustered_corpus(spark, tmp_path):
    """recall@10 >= 0.9 at nprobe=4 of 16 — on a corpus that HAS
    neighborhood structure (16 well-separated centers, tight noise),
    i.e. the regime IVF is built for. Deterministic: seeded numpy.
    Mean recall over 10 queries; also monotone and exact at nprobe=K."""
    import numpy as np

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(K_BUCKETS, 16)) * 10.0
    pts = np.repeat(centers, 40, axis=0) + rng.normal(size=(K_BUCKETS * 40, 16))
    corpus = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(pts)],
        "vec_id long, embedding array<double>",
    )
    feats = corpus.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("features")
    )
    fit = kmeans_fit(feats, K_BUCKETS, seed=42, max_iter=10, init="k-means++")
    path = str(tmp_path / "ivf_clustered")
    S.build_ivf_index(corpus, fit.centroids, path)

    queries = [[float(v) for v in pts[i]] for i in range(0, 640, 64)]

    def recall(q, nprobe):
        exact = {
            r["vec_id"] for r in S.topk_for_query(corpus, q, k=10).collect()
        }
        got = {
            r["vec_id"]
            for r in S.ivf_topk_pruned(spark, path, q, k=10, nprobe=nprobe).collect()
        }
        return len(got & exact) / len(exact)

    r4 = sum(recall(q, 4) for q in queries) / len(queries)
    assert r4 >= 0.9
    assert recall(queries[0], K_BUCKETS) == 1.0


def test_pruned_probe_matches_in_memory_ivf(spark, ivf):
    """The persisted-index probe and the in-memory ivf_topk_for_query
    agree bucket-for-bucket (same quantizer, same probes, same scores)."""
    a = [
        (r["vec_id"], round(r["score"], 10))
        for r in S.ivf_topk_pruned(
            spark, ivf["path"], ivf["query"], k=10, nprobe=4
        ).collect()
    ]
    b = [
        (r["vec_id"], round(r["score"], 10))
        for r in S.ivf_topk_for_query(
            ivf["emb"], ivf["cents"], ivf["query"], k=10, nprobe=4
        ).collect()
    ]
    assert a == b


@pytest.fixture(scope="module")
def ivf_q(spark, ivf, tmp_path_factory):
    """The SAME corpus and coarse quantizer, materialized with
    quantize=True: codes + qstats on disk, no float vectors."""
    path = str(tmp_path_factory.mktemp("ivfq") / "index")
    S.build_ivf_index(ivf["emb"], ivf["cents"], path, quantize=True)
    return {"path": path}


def test_quantized_index_stores_codes_not_floats(spark, ivf_q):
    corpus = spark.read.parquet(f"{ivf_q['path']}/corpus")
    assert "features_q" in corpus.columns and "features" not in corpus.columns
    dt = corpus.schema["features_q"].dataType.simpleString()
    assert dt == "array<int>"
    stats = spark.read.parquet(f"{ivf_q['path']}/qstats")
    assert stats.count() == 64


def test_quantized_probe_still_partition_pruned(spark, ivf, ivf_q):
    df = S.ivf_topk_pruned(spark, ivf_q["path"], ivf["query"], k=10, nprobe=2)
    df.collect()
    plan = executed_plan(df)
    scans = [ln for ln in plan.splitlines() if "Scan parquet" in ln and "corpus" in ln]
    assert scans and all("PartitionFilters: [" in ln for ln in scans)


def test_quantized_recall_vs_exact(spark, ivf, ivf_q):
    exact = [
        r["vec_id"]
        for r in S.topk_for_query(ivf["emb"], ivf["query"], k=10).collect()
    ]
    got = [
        r["vec_id"]
        for r in S.ivf_topk_pruned(
            spark, ivf_q["path"], ivf["query"], k=10, nprobe=K_BUCKETS
        ).collect()
    ]
    # full-probe quantized search isolates the quantization error alone:
    # 64-dim int8-range codes must keep recall@10 high
    recall = len(set(got) & set(exact)) / 10
    assert recall >= 0.9, (recall, got, exact)


def test_quantized_multiprobe_recall(spark, ivf, ivf_q):
    exact = {
        r["vec_id"]
        for r in S.topk_for_query(ivf["emb"], ivf["query"], k=10).collect()
    }
    got = {
        r["vec_id"]
        for r in S.ivf_topk_pruned(
            spark, ivf_q["path"], ivf["query"], k=10, nprobe=4
        ).collect()
    }
    assert len(got & exact) / 10 >= 0.7  # pruning + quantization combined


def test_refined_search_recovers_exact_topk(spark, ivf, ivf_q):
    exact = [
        r["vec_id"]
        for r in S.topk_for_query(ivf["emb"], ivf["query"], k=10).collect()
    ]
    refined = [
        r["vec_id"]
        for r in S.ivf_topk_refined(
            spark, ivf_q["path"], ivf["emb"], ivf["query"],
            k=10, nprobe=K_BUCKETS, refine_factor=4,
        ).collect()
    ]
    # full-probe + exact re-rank removes quantization error entirely
    # whenever the true top-10 survive the 40-candidate quantized cut
    assert len(set(refined) & set(exact)) >= 9
    # and scores come from the exact vectors: spot-check the top hit
    top_exact = S.topk_for_query(ivf["emb"], ivf["query"], k=1).collect()[0]
    top_ref = S.ivf_topk_refined(
        spark, ivf_q["path"], ivf["emb"], ivf["query"],
        k=1, nprobe=K_BUCKETS, refine_factor=4,
    ).collect()[0]
    assert top_ref["vec_id"] == top_exact["vec_id"]
    assert top_ref["score"] == pytest.approx(top_exact["score"], rel=1e-12)


def test_refined_search_validation(spark, ivf, ivf_q):
    with pytest.raises(ValueError):
        S.ivf_topk_refined(
            spark, ivf_q["path"], ivf["emb"], ivf["query"], refine_factor=0
        )


def test_probe_buckets_rejects_nprobe_below_one():
    """nprobe=-1 used to probe K-1 buckets via the [:-1] slice and
    nprobe=0 none at all."""
    cents = [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])]
    assert S.probe_buckets(cents, [0.9, 0.1], 1) == [2]
    for bad in (0, -1):
        with pytest.raises(ValueError, match="nprobe"):
            S.probe_buckets(cents, [0.9, 0.1], bad)


def test_pruned_search_rejects_nprobe_or_k_below_one(spark, ivf):
    for bad in (0, -1):
        with pytest.raises(ValueError, match="nprobe"):
            S.ivf_topk_pruned(spark, ivf["path"], ivf["query"], k=10, nprobe=bad)
        with pytest.raises(ValueError, match="k must be"):
            S.ivf_topk_pruned(spark, ivf["path"], ivf["query"], k=bad, nprobe=2)
