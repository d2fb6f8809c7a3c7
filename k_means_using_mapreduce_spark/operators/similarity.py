"""Similarity search over embedding columns.

North-star extension (BASELINE.json): approximate-nearest-neighbor over
``array<float>`` embeddings. Three tiers:

- ``topk_for_query``      : brute-force top-k for one literal query
                            vector — a narrow projection + small sort;
                            the exact baseline, fully oracle-checkable.
- ``knn_join``            : top-k per query row against the corpus —
                            broadcast the (small) query side, window
                            top-k on the corpus side.
- ``ivf_topk_for_query``  : IVF scale path — the K-Means core is the
                            coarse quantizer; only the query's nprobe
                            nearest buckets are scanned. At 100 TB the
                            bucket filter prunes the scan by ~K/nprobe.

All distance math is the same zip_with/aggregate fold as the K-Means
kernels (functions/vectors.py) — JVM codegen, no UDFs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window

from ..sources.loaders import k_row_df as _k_row_df
from pyspark.sql import functions as F

from ..functions.vectors import cosine_similarity_expr, sq_dist_to_literal
from .kmeans import Centroids


def _lit_vec(vec: Sequence[float]):
    return F.array(*[F.lit(float(v)) for v in vec])


def topk_for_query(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    metric: str = "cosine",
) -> DataFrame:
    """Exact top-k rows for one query vector. Returns
    (id, score) ordered best-first; ties broken by id ascending.

    Plan shape: scan → narrow projection (score) → TakeOrderedAndProject
    — no shuffle beyond the final k-row gather.
    """
    v = F.col(vec_col).cast("array<double>")
    if metric == "cosine":
        score = cosine_similarity_expr(v, _lit_vec(query))
        order = [F.col("score").desc(), F.col(id_col).asc()]
    elif metric == "sq_dist":
        score = sq_dist_to_literal(v, query)
        order = [F.col("score").asc(), F.col(id_col).asc()]
    else:
        raise ValueError(f"unknown metric {metric!r}")
    return (
        df.select(F.col(id_col).alias(id_col), score.alias("score"))
        .orderBy(*order)
        .limit(k)
    )


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    corpus_vec: str = "embedding",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    query_id: str = "vec_id",
) -> DataFrame:
    """For every query row, its k nearest corpus rows by cosine.
    Returns (query_id, neighbor_id, rank, cosine); self-matches
    (same id) are excluded.

    The query side is broadcast (it is the small side by construction);
    the corpus side never shuffles its vectors — only the per-query
    top-k survive the window."""
    from ..functions.vectors import dot_expr, l2_norm_expr

    # norms precomputed per side (N + Q sqrt-folds, not N×Q); the pair
    # expression dot/(nc*nq) stays bit-identical to the oracle SQL
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).cast("array<double>").alias("qv"),
    ).withColumn("nq", l2_norm_expr(F.col("qv")))
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(corpus_vec).cast("array<double>").alias("cv"),
    ).withColumn("nc", l2_norm_expr(F.col("cv")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine", dot_expr(F.col("cv"), F.col("qv")) / (F.col("nc") * F.col("nq"))
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def build_ivf_index(
    df: DataFrame,
    centroids: Centroids,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    mode: str = "overwrite",
    quantize: bool = False,
) -> None:
    """Materialize an IVF index on disk: the corpus assigned to its
    coarse-quantizer bucket and written **hive-partitioned by cid**
    (``{path}/corpus/cid=N/...``), with the centroid table alongside
    (``{path}/centroids``).

    This is the 100 TB layout: a probe reads only the ``nprobe``
    partition DIRECTORIES it needs — file-level pruning at the source
    listing, not a row filter over a full scan. With K=4096 buckets and
    nprobe=8, a query touches ~0.2% of the corpus bytes.
    ``tests/test_ivf_index.py`` pins the pruned-scan plan
    (PartitionFilters carry the probe predicate, PushedFilters empty)
    and multi-probe recall.

    ``quantize=True`` stores int8-range scalar-quantized codes
    (operators/quantize.py) instead of float vectors — the probe
    dequantizes against the per-dim scales saved at ``{path}/qstats``.
    4× fewer index bytes per probe; recall cost is bounded by the
    quantizer's scale/2-per-dim error and pinned by a recall test."""
    from .kmeans import assign

    feats = df.select(
        F.col(id_col).alias(id_col),
        F.col(vec_col).cast("array<double>").alias("features"),
    )
    if quantize:
        from .quantize import _as_stats_rows, dim_stats, quantize_vectors

        # collect once (dim_stats is the expensive full-corpus pass),
        # write the collected rows, and ALWAYS overwrite qstats: an
        # appended stats table would hold each dim twice and silently
        # misalign every later dequantization
        rows = _as_stats_rows(dim_stats(feats, vec_col="features"))
        _k_row_df(df.sparkSession, 
            [(r["dim"], r["dmin"], r["dmax"], r["scale"]) for r in rows],
            "dim int, dmin double, dmax double, scale double",
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/qstats")
        feats = quantize_vectors(feats, rows, vec_col="features")
    bucketed = assign(feats, centroids, keep_dist=False)
    if quantize:
        bucketed = bucketed.drop("features").withColumnRenamed(
            "codes", "features_q"
        )
    # one file per bucket dir (vs tasks×buckets small files at scale)
    bucketed.repartition(F.col("cid")).write.mode(mode).partitionBy("cid").parquet(
        f"{path}/corpus"
    )
    cent_rows = [(int(cid), [float(v) for v in vec]) for cid, vec in centroids]
    _k_row_df(df.sparkSession, 
        cent_rows, "cid int, centroid array<double>"
    ).coalesce(1).write.mode(mode).parquet(f"{path}/centroids")


def load_ivf_centroids(spark, path: str) -> Centroids:
    """Read back the coarse-quantizer centroids written by
    :func:`build_ivf_index` (K rows — a driver-side read by design)."""
    return [
        (r["cid"], list(r["centroid"]))
        for r in spark.read.parquet(f"{path}/centroids").orderBy("cid").collect()
    ]


def probe_buckets(centroids: Centroids, query: Sequence[float], nprobe: int) -> list[int]:
    """The ``nprobe`` bucket ids nearest the query — K distances to one
    vector, computed driver-side (the probe predicate must be a literal
    so the scan can partition-prune)."""
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    ranked = sorted(
        ((cid, sum((a - b) ** 2 for a, b in zip(vec, query))) for cid, vec in centroids),
        key=lambda t: (t[1], t[0]),
    )
    return [cid for cid, _ in ranked[:nprobe]]


def ivf_topk_pruned(
    spark,
    path: str,
    query: Sequence[float],
    k: int = 10,
    nprobe: int = 1,
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k by cosine against a persisted IVF index, scanning only the
    probed partition directories.

    Plan shape: Scan parquet [PartitionFilters: cid IN (...)] → narrow
    score projection → TakeOrderedAndProject. The cid predicate is
    satisfied entirely by directory pruning — zero row-level filter
    work, and corpus bytes read scale with nprobe/K, not corpus size."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    cents = load_ivf_centroids(spark, path)
    probes = probe_buckets(cents, query, nprobe)
    corpus = spark.read.parquet(f"{path}/corpus").where(F.col("cid").isin(probes))
    if "features_q" in corpus.columns:
        # quantized index: reconstruct vectors from the stored codes —
        # the scales fold in as literals, so this stays a narrow
        # projection over the (4× smaller) pruned scan
        from .quantize import dequantize

        stats_rows = spark.read.parquet(f"{path}/qstats").collect()
        corpus = corpus.withColumn(
            "features", dequantize("features_q", stats_rows)
        )
    score = cosine_similarity_expr(F.col("features"), _lit_vec(query))
    return (
        corpus.select(F.col(id_col).alias(id_col), score.alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_topk_for_query(
    df: DataFrame,
    centroids: Centroids,
    query: Sequence[float],
    k: int = 10,
    nprobe: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF ANN: scan only the ``nprobe`` buckets whose centroid is
    nearest the query. The bucket predicate is computed driver-side
    (K distances to one vector), so the executor-side plan is
    filter(cid ∈ probes) → score → top-k — partition-prunable if the
    corpus is written bucketed by cid."""
    from .kmeans import assign

    probes = probe_buckets(centroids, query, nprobe)
    feats = df.select(
        F.col(id_col).alias(id_col), F.col(vec_col).cast("array<double>").alias("features")
    )
    bucketed = assign(feats, centroids, keep_dist=False)
    in_probes = bucketed.filter(F.col("cid").isin(probes))
    score = cosine_similarity_expr(F.col("features"), _lit_vec(query))
    return (
        in_probes.select(F.col(id_col).alias(id_col), score.alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_topk_refined(
    spark,
    path: str,
    vectors: DataFrame,
    query: Sequence[float],
    k: int = 10,
    nprobe: int = 1,
    refine_factor: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Two-stage ANN over a QUANTIZED index: probe the pruned quantized
    partitions for ``k × refine_factor`` candidates (cheap, 1 byte/dim
    reads), then re-rank just those candidates against their exact
    float vectors from ``vectors`` and return the top ``k``.

    The standard recall-recovery pattern for quantized indexes: stage 1
    pays quantization error but touches 4× fewer bytes; stage 2 removes
    that error for the handful of rows that matter. The candidate id
    set is tiny, so the exact leg is a broadcast semi-join against the
    vectors table — at 100 TB the full-precision corpus is read for
    ~k·refine rows, not scanned.
    """
    if refine_factor < 1:
        raise ValueError(f"refine_factor must be >= 1, got {refine_factor}")
    candidates = ivf_topk_pruned(
        spark, path, query, k=k * refine_factor, nprobe=nprobe, id_col=id_col
    ).select(id_col)
    exact = vectors.join(F.broadcast(candidates), id_col)
    score = cosine_similarity_expr(
        F.col(vec_col).cast("array<double>"), _lit_vec(query)
    )
    return (
        exact.select(F.col(id_col).alias(id_col), score.alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_recall(
    corpus: DataFrame,
    centroids: Centroids,
    *,
    max_query_id: int = 20,
    k: int = 10,
    nprobes: Sequence[int] = (1, 2, 4),
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall@k of IVF-pruned search against the exact brute-force
    ground truth — the EVAL that justifies every nprobe knob this
    module exposes: for the query set (``id < max_query_id``) and
    each candidate ``nprobe``, the fraction of the exact cosine top-k
    that the pruned search returns.

    Mechanics: every corpus row is assigned its IVF cell once; every
    (query, neighbor) pair carries the PROBE RANK of the neighbor's
    cell in the query's centroid ordering (1 = the query's own
    nearest cell), so one scored pair relation answers ALL nprobe
    values — a pair is visible at nprobe = p iff its probe rank ≤ p.
    Overlap counts are integers; ties break (cosine desc, id asc) in
    both the exact and pruned top-k, the knn_join doctrine.

    Returns one row per nprobe: ``(nprobe, n_queries, mean_recall)``
    — mean over queries of |pruned ∩ exact| / k.

    Scale shape: the ground truth is the deliberate quadratic
    baseline (queries are a fixed small set); the pruned side reuses
    the same broadcast pair relation filtered by probe rank, so the
    eval costs ONE pair materialization regardless of how many nprobe
    points are on the curve.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not nprobes or any(p < 1 for p in nprobes):
        raise ValueError(f"nprobes must be >= 1, got {nprobes}")
    from ..functions.vectors import dot_expr, l2_norm_expr
    from .kmeans import assign

    from ..sources.loaders import fan_out

    feats = corpus.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("features"),
    )
    # the narrow assign + Q-query scoring pipeline below is pure per-row
    # CPU; a single-row-group scan would run it all on one core (guide
    # §2.5) — spread the (id, vec) projection once, no-op when wide
    feats = fan_out(feats)
    bucketed = assign(feats, centroids, keep_dist=False)
    # per-query probe ranking of every centroid: sorted (sq_dist, cid)
    # struct array — ties on distance break to the lower cid, matching
    # probe_buckets
    def cdist(vec):
        return sq_dist_to_literal(F.col("qv"), vec)

    cent_structs = F.array(
        *[
            F.struct(
                cdist(vec).alias("d"),
                F.lit(int(cid)).alias("cid"),
            )
            for cid, vec in centroids
        ]
    )
    queries = (
        bucketed.where(F.col("vid") < max_query_id)
        .select(
            F.col("vid").alias("query_id"),
            F.col("features").alias("qv"),
        )
        .withColumn("nq", l2_norm_expr(F.col("qv")))
        .withColumn("_cents", F.array_sort(cent_structs))
        .withColumn(
            "_probe_order",
            F.transform(F.col("_cents"), lambda s: s["cid"]),
        )
        .drop("_cents")
    )
    cand = (
        bucketed.withColumn("nc", l2_norm_expr(F.col("features")))
        .crossJoin(F.broadcast(queries))
        .filter(F.col("vid") != F.col("query_id"))
        .withColumn(
            "cosine",
            dot_expr(F.col("features"), F.col("qv"))
            / (F.col("nc") * F.col("nq")),
        )
        .withColumn(
            "probe_rank",
            F.array_position(F.col("_probe_order"), F.col("cid")),
        )
        .select("query_id", F.col("vid").alias("neighbor_id"),
                "cosine", "probe_rank")
    )
    # the pair relation feeds BOTH the exact and the pruned branches —
    # checkpoint it once so the quadratic scoring runs once, making
    # the one-materialization scale claim true
    cand = cand.localCheckpoint(eager=False)
    w_exact = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    exact = (
        cand.withColumn("rk", F.row_number().over(w_exact))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id")
    )
    probes_df = _k_row_df(cand.sparkSession, 
        [(int(p),) for p in sorted(set(nprobes))], "nprobe int"
    )
    pruned = (
        cand.crossJoin(F.broadcast(probes_df))
        .filter(F.col("probe_rank") <= F.col("nprobe"))
    )
    w_pruned = Window.partitionBy("nprobe", "query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    pruned_topk = (
        pruned.withColumn("rk", F.row_number().over(w_pruned))
        .filter(F.col("rk") <= k)
        .select("nprobe", "query_id", "neighbor_id")
    )
    # exact is Q×k rows and overlap |nprobes|×Q — broadcast both;
    # derived-from-window relations carry no stats, so without the
    # hint Spark sort-merges a 200-row join
    overlap = pruned_topk.join(
        F.broadcast(exact), ["query_id", "neighbor_id"]
    ).groupBy("nprobe", "query_id").agg(
        F.count(F.lit(1)).alias("hits")
    )
    per_query = (
        probes_df.crossJoin(
            queries.select("query_id")
        )
        .join(F.broadcast(overlap), ["nprobe", "query_id"], "left")
        .select(
            "nprobe",
            "query_id",
            F.coalesce(F.col("hits"), F.lit(0)).alias("hits"),
        )
    )
    return per_query.groupBy("nprobe").agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.avg(F.col("hits").cast("double") / F.lit(float(k))).alias(
            "mean_recall"
        ),
    )
