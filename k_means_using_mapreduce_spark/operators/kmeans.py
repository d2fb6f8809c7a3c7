"""K-Means — the reference's entire analytics surface, Spark-first.

The reference implements Lloyd's algorithm as hand-rolled MapReduce over
gRPC (master.py / mapper.py / reducer.py). This module re-expresses each
stage as a pure DataFrame transformation so Catalyst/Tungsten own the
physical plan:

- ``assign``  : O7 broadcast + O8 nearest-centroid + O9 distance
  (reference mapper.py:42-66). A single narrow projection — no join, no
  shuffle; centroid literals are folded into whole-stage codegen.
- ``update``  : O13 group-by + O14 AVG + O15 COUNT (reference
  reducer.py:33-51). ``groupBy(cid)`` hash aggregation — Spark adds the
  map-side partial aggregate the reference lacks (its single-phase
  reducer owns a whole key; reducer.py:45).
- ``one_step``: one Lloyd iteration = assign ∘ update.
- ``sse``     : within-cluster sum of squared errors (the convergence
  quality metric implicit in the reference's logged runs).
- ``kmeans_fit``: O4 seeded init + O17 gather + O18 fixpoint test + O19
  driver loop (reference master.py:27-34, 110-150), with the reference's
  bugs *fixed* (see Policy notes).

Policy notes (documented deviations from reference bugs — SURVEY.md §5.5):

- Tie-break: lowest centroid id wins, matching the reference's strict
  ``<`` (mapper.py:63).
- Empty clusters keep their previous centroid (the reference silently
  drops them — reducer.py:42-51 produces no key, master.py:130-136 then
  shrinks K).
- Convergence compares centroids matched *by id* (the reference compares
  positionally after a nondeterministic as_completed gather —
  master.py:110-126,144 — so permuted-but-identical centroid sets fail
  and the loop runs extra iterations; observed in dump.txt:15 vs :32).
- K > num-shuffle-partitions loses nothing (the reference's
  ``cid - 1 % R`` precedence bug drops clusters when K > R —
  mapper.py:69).

Scale notes: the input is cached once before the loop (the reference
re-reads the whole dataset in the driver *and* in every mapper, every
iteration — master.py:45, mapper.py:35). Per iteration, only K×D floats
cross to the driver (the reference hauls *all N assignments* through the
master — master.py:71,85). Each iteration's plan is rebuilt from the
cached DataFrame with new centroid literals, so lineage does not grow
with iteration count.
"""

from __future__ import annotations

import logging
import math
from dataclasses import dataclass
from collections.abc import Sequence

from pyspark.sql import DataFrame

from ..sources.loaders import k_row_df as _k_row_df, validate_kmeans_input
from pyspark.sql import functions as F

#: O23 — the reference logs init/iteration/convergence state to dump.txt
#: (master.py:12 and call sites); the engine logs the same milestones
#: through standard logging (driver side; Spark's event log covers tasks).
logger = logging.getLogger("k_means_using_mapreduce_spark.kmeans")

from ..functions.vectors import argmin_centroid

Centroids = Sequence[tuple[int, Sequence[float]]]


def assign(
    df: DataFrame,
    centroids: Centroids,
    features_col: str = "features",
    keep_dist: bool = True,
) -> DataFrame:
    """Tag every row with its nearest centroid id (column ``cid``) and,
    optionally, the squared distance (column ``sq_dist``).

    Narrow, shuffle-free; equivalent relational form is a broadcast cross
    join + per-row arg-min (the oracle SQL uses exactly that shape).
    """
    cid, d2 = argmin_centroid(F.col(features_col), centroids)
    out = df.withColumn("cid", cid)
    if keep_dist:
        out = out.withColumn("sq_dist", d2)
    return out


def update(
    assigned: DataFrame,
    features_col: str = "features",
    cid_col: str = "cid",
) -> DataFrame:
    """New centroid = per-cluster elementwise mean; returns
    ``(cid, n, centroid: array<double>)``.

    posexplode → two-level hash aggregate. The per-(cid, dim) partial
    aggregate is combined map-side, so the shuffle carries at most
    K×D×partitions rows regardless of N — this is what makes the update
    scale where the reference's single-reducer-per-key mean
    (reducer.py:45) cannot.

    Empty clusters are absent from the output (matching the raw
    reference operator); ``kmeans_fit`` applies the keep-old-centroid
    policy on top.
    """
    exploded = assigned.select(
        cid_col, F.posexplode(features_col).alias("dim", "val")
    )
    per_dim = exploded.groupBy(cid_col, "dim").agg(
        F.avg("val").alias("mean"), F.count("*").alias("n")
    )
    return (
        per_dim.groupBy(cid_col)
        .agg(
            # max, not first: with ragged feature arrays the per-dim
            # counts differ and first() is nondeterministic (ADVICE r1);
            # max = the cluster's true row count (every row has dim 0)
            F.max("n").alias("n"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "mean"))),
                lambda s: s["mean"],
            ).alias("centroid"),
        )
        .select(F.col(cid_col).alias("cid"), "n", "centroid")
    )


def one_step(
    df: DataFrame, centroids: Centroids, features_col: str = "features"
) -> DataFrame:
    """One Lloyd iteration: assign then update."""
    return update(assign(df, centroids, features_col, keep_dist=False), features_col)


def sse(
    df: DataFrame,
    centroids: Centroids,
    features_col: str = "features",
    weight_col: str | None = None,
) -> DataFrame:
    """Total within-cluster SSE as a 1-row DataFrame (column ``sse``).
    With ``weight_col`` the per-row squared distance is weighted, matching
    ``kmeans_fit``'s weighted accumulation (ADVICE r2)."""
    a = assign(df, centroids, features_col, keep_dist=True)
    term = (
        F.col("sq_dist") * F.col(weight_col)
        if weight_col is not None
        else F.col("sq_dist")
    )
    return a.agg(F.sum(term).alias("sse"))


@dataclass
class KMeansResult:
    centroids: list[tuple[int, list[float]]]  # sorted by cid
    iterations: int
    converged: bool
    sse: float
    cluster_sizes: dict[int, int]


def init_centroids(
    df: DataFrame, k: int, seed: int, features_col: str = "features"
) -> list[tuple[int, list[float]]]:
    """O4: sample K distinct rows without replacement as initial
    centroids, 1-based dense ids (reference master.py:27-34 uses
    ``random.sample``; ids assigned at master.py:59 as i+1)."""
    rows = df.select(features_col).rdd.takeSample(False, k, seed)
    return [(i + 1, [float(v) for v in r[features_col]]) for i, r in enumerate(rows)]


def init_centroids_pp(
    df: DataFrame, k: int, seed: int, features_col: str = "features"
) -> list[tuple[int, list[float]]]:
    """k-means++ initialization (Arthur & Vassilvitskii 2007): each
    next centroid is sampled with probability ∝ D²(x) — the squared
    distance to the nearest already-chosen centroid.

    Spark-side formulation: D² is the same narrow ``sq_dist_to_literal``
    expression the assign kernel uses (zero shuffle), and the weighted
    draw is one pass of the exponential-race trick — ``argmin(
    -ln(u)/w)`` over ``u = rand(seed)`` is a weighted sample without
    materializing a prefix-sum (Efraimidis-Spirakis A-Res with one
    winner), so each of the k rounds is a single ``min`` aggregation
    over a narrow projection. k rounds → k scans of the cached input,
    vs MLlib k-means‖ which trades that for oversampling rounds
    (`operators/kmeans_ml.py` wraps it for huge k).

    Deterministic for a fixed seed AND fixed partitioning of ``df``
    (``F.rand`` draws per-partition streams — same caveat as every
    seeded Spark sample; pin partitioning upstream for exact replay).

    Note: seeding samples rows uniformly within the D² weighting —
    a ``weight_col`` passed to ``kmeans_fit`` affects the fit's
    centroid updates but not the k-means++ draw (matching MLlib,
    whose k-means‖ init also ignores instance weights).
    """
    from ..functions.vectors import sq_dist_to_literal

    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    feats = df.select(F.col(features_col).alias("f"))
    # rand() is non-deterministic in Catalyst's sense, so it must be
    # projected before the aggregate (min_by over a rand arg is
    # rejected outright)
    first = (
        feats.withColumn("_u", F.rand(seed))
        .select(F.min_by("f", F.col("_u")).alias("f"))
        .first()
    )
    if first is None or first["f"] is None:
        raise ValueError("Data not found or empty")
    chosen: list[list[float]] = [[float(v) for v in first["f"]]]
    for round_i in range(1, k):
        d2 = None
        for c in chosen:
            expr = sq_dist_to_literal(F.col("f"), c)
            d2 = expr if d2 is None else F.least(d2, expr)
        # exponential race: winner = argmin(-ln(u)/D²); rows at D²=0
        # (duplicates of a chosen centroid) get +inf keys and never win
        # unless every remaining row is a duplicate.
        key = F.when(
            d2 > 0, -F.log(F.col("_u")) / d2
        ).otherwise(F.lit(float("inf")))
        row = (
            feats.withColumn("_u", F.rand(seed + round_i))
            .withColumn("_key", key)
            .select(F.min_by("f", F.col("_key")).alias("f"))
            .first()
        )
        chosen.append([float(v) for v in row["f"]])
    return [(i + 1, vec) for i, vec in enumerate(chosen)]


def _sq_dists_to(C):
    """The GEMM distance kernel of every executor-side K-Means pass:
    ``sq_dists(vectors) -> (keep, X, d2)`` bound to the K×D matrix ``C``.
    Rows that are null or not D long are dropped (the ragged-row policy:
    a dense GEMM cannot hold them); ``keep`` masks the survivors, ``X``
    stacks them and ``d2`` is their n×K squared-distance matrix. Nested
    so cloudpickle ships it by value (workers never import this package)."""
    import numpy as np

    C = np.asarray(C, dtype=np.float64)
    D = C.shape[1]
    cn = (C * C).sum(axis=1)

    def sq_dists(vectors):
        keep = np.array([v is not None and len(v) == D for v in vectors], dtype=bool)
        X = np.asarray([v for v, k in zip(vectors, keep) if k], dtype=np.float64)
        X = X.reshape(-1, D)
        return keep, X, (X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + cn[None, :]

    return sq_dists


def _min_d2_to(feats: DataFrame, cand) -> DataFrame:
    """(f, d2): each row's squared distance to its nearest candidate —
    :func:`_sq_dists_to` against the broadcast candidate matrix in one
    narrow ``mapInPandas`` pass (the literal-expression fold used by
    ``init_centroids_pp`` grows with the candidate count; a matrix
    product does not)."""
    sq_dists = _sq_dists_to(cand)

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            _, X, d = sq_dists(pdf["f"])
            if len(X):
                yield pd.DataFrame({"f": list(X), "d2": np.maximum(d.min(axis=1), 0.0)})

    return feats.mapInPandas(gen, "f array<double>, d2 double")


def init_centroids_pp_scalable(
    df: DataFrame,
    k: int,
    seed: int,
    features_col: str = "features",
    oversampling: int | None = None,
    rounds: int = 5,
) -> list[tuple[int, list[float]]]:
    """k-means‖ initialization (Bahmani et al., "Scalable K-Means++",
    VLDB 2012) on the native engine: the fix for ``init_centroids_pp``'s
    k sequential driver round-trips at large k.

    Instead of one weighted draw per centroid (k jobs), each of
    ``rounds`` (default 5, the paper's recommendation) samples ~``l =
    oversampling`` (default 2k) points INDEPENDENTLY with probability
    ``l·D²(x)/ΣD²`` — two jobs per round (cost sum, then sample)
    regardless of k. The ≤ l·rounds+1 candidates are then weighted by
    the number of input points nearest to each and reduced to k by a
    DRIVER-SIDE weighted k-means++ over that tiny set (numpy, no Spark
    jobs). Total: ``2·rounds + 2`` scans of the cached input at ANY k —
    vs k scans for sequential k-means++.

    Determinism: same contract as ``init_centroids_pp`` — fixed seed +
    fixed partitioning (per-partition ``F.rand`` streams); the driver
    reduction uses ``np.random.default_rng(seed)``.
    """
    import numpy as np

    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    ell = oversampling if oversampling is not None else 2 * k
    feats = df.select(F.col(features_col).cast("array<double>").alias("f"))

    first = (
        feats.withColumn("_u", F.rand(seed))
        .select(F.min_by("f", F.col("_u")).alias("f"))
        .first()
    )
    if first is None or first["f"] is None:
        raise ValueError("Data not found or empty")
    cand: list[list[float]] = [[float(v) for v in first["f"]]]

    for r in range(1, rounds + 1):
        d2df = _min_d2_to(feats, cand).cache()
        try:
            total = d2df.agg(F.sum("d2")).first()[0]
            if not total or total <= 0.0:
                break  # every remaining point duplicates a candidate
            p = F.least(F.lit(1.0), F.lit(float(ell) / float(total)) * F.col("d2"))
            new = (
                d2df.withColumn("_u", F.rand(seed + 31 * r))
                .where(F.col("_u") < p)
                .select("f")
                .collect()
            )
        finally:
            d2df.unpersist()
        cand.extend([float(v) for v in row["f"]] for row in new)

    # weight candidates by how many input rows each one is nearest to
    # (argmin GEMM pass → per-partition bincount partials → driver sum)
    C = np.asarray(cand, dtype=np.float64)
    sq_dists = _sq_dists_to(C)
    K = len(C)

    def count_gen(batches):
        import numpy as np
        import pandas as pd

        counts = np.zeros(K, dtype=np.int64)
        seen = False
        for pdf in batches:
            _, X, d = sq_dists(pdf["f"])
            if len(X):
                seen = True
                counts += np.bincount(d.argmin(axis=1), minlength=K)
        if seen:
            yield pd.DataFrame({"idx": np.arange(K), "n": counts})

    partials = feats.mapInPandas(count_gen, "idx long, n long").groupBy("idx").agg(
        F.sum("n").alias("n")
    ).collect()
    w = np.zeros(len(C), dtype=np.float64)
    for row in partials:
        w[row["idx"]] = float(row["n"])
    w = np.maximum(w, 1e-12)  # unhit candidates keep a draw-able weight

    if len(C) < k:
        raise ValueError(
            f"k-means|| produced only {len(C)} distinct candidates for k={k}; "
            f"raise oversampling/rounds (data may have < k distinct points)"
        )

    # driver-side weighted k-means++ over the candidate set (tiny)
    rng = np.random.default_rng(seed)
    idx0 = int(rng.choice(len(C), p=w / w.sum()))
    chosen = [idx0]
    d2 = ((C - C[idx0]) ** 2).sum(axis=1)
    for _ in range(1, k):
        probs = w * d2
        s = probs.sum()
        if s <= 0.0:  # remaining candidates all duplicate chosen ones
            remaining = [i for i in range(len(C)) if i not in set(chosen)]
            nxt = int(remaining[0])
        else:
            nxt = int(rng.choice(len(C), p=probs / s))
        chosen.append(nxt)
        d2 = np.minimum(d2, ((C - C[nxt]) ** 2).sum(axis=1))
    return [(i + 1, [float(v) for v in C[j]]) for i, j in enumerate(chosen)]


def _lloyd_totals(work: DataFrame, centroids: Centroids) -> dict:
    """One Lloyd iteration over ``work`` (columns ``features``, ``_w``):
    ``{cid: (total weight, weighted coordinate sum, weighted SSE)}`` for
    every non-empty cluster.

    A single narrow ``mapInPandas`` pass assigns rows with
    :func:`_sq_dists_to` (ragged rows are dropped there) and emits
    per-partition partials; only K×partitions tiny rows are collected
    and summed on the driver — zero shuffle per iteration, the same
    partial-aggregate design MLlib's KMeans uses internally.

    Tie-break matches the reference's strict ``<`` scan
    (mapper.py:58-66): centroids are ordered by ascending cid and
    ``np.argmin`` returns the first (lowest-cid) minimum.
    """
    import numpy as np

    ordered = sorted(centroids, key=lambda t: t[0])
    cids = np.asarray([int(c) for c, _ in ordered])
    C = np.asarray([vec for _, vec in ordered], dtype=np.float64)
    sq_dists = _sq_dists_to(C)

    def gen(batches):
        import numpy as np
        import pandas as pd

        K, D = C.shape
        wsum = np.zeros(K)
        vsum = np.zeros((K, D))
        esum = np.zeros(K)
        seen = False
        for pdf in batches:
            keep, X, d = sq_dists(pdf["features"])
            if not len(X):
                continue
            seen = True
            w = pdf["_w"].to_numpy(dtype=np.float64)[keep]
            idx = d.argmin(axis=1)
            onehot = np.zeros((K, len(X)))
            onehot[idx, np.arange(len(X))] = w
            wsum += onehot.sum(axis=1)
            vsum += onehot @ X
            # exact fold, not the expanded form: GEMM's x²-2xc+c² loses
            # precision near zero
            diff = X - C[idx]
            esum += np.bincount(idx, weights=(diff * diff).sum(axis=1) * w, minlength=K)
        if seen:
            nz = wsum > 0
            yield pd.DataFrame(
                {"cid": cids[nz], "w": wsum[nz], "s": list(vsum[nz]), "e": esum[nz]}
            )

    totals: dict = {}
    for r in (
        work.select("features", "_w")
        .mapInPandas(gen, "cid int, w double, s array<double>, e double")
        .collect()
    ):
        w0, s0, e0 = totals.get(r["cid"], (0.0, 0.0, 0.0))
        totals[r["cid"]] = (w0 + r["w"], s0 + np.asarray(r["s"]), e0 + r["e"])
    return totals


def _sorted_initial_centroids(
    work: DataFrame, initial_centroids: Centroids
) -> list[tuple[int, list[float]]]:
    """User-supplied centroids as floats sorted by id; raises ValueError
    when any differs in dimension from the data (its first row)."""
    centroids = sorted(
        ((int(c), [float(v) for v in vec]) for c, vec in initial_centroids),
        key=lambda t: t[0],
    )
    dim = len(work.select("features").first()["features"])
    bad_dims = {cid: len(vec) for cid, vec in centroids if len(vec) != dim}
    if bad_dims:
        raise ValueError(
            f"centroid dimension mismatch: data is {dim}-D but "
            f"initial centroids {bad_dims} differ"
        )
    return centroids


def _fit_input(
    df: DataFrame, features_col: str, weight_col: str | None = None
) -> DataFrame:
    """The ``(features, _w)`` rows a fit runs on. Null policy (the
    reference has no null semantics — np.loadtxt just crashes on
    malformed rows, SURVEY.md §1): rows with a missing vector, any null
    coordinate, or a null or non-positive weight are dropped."""
    w = F.lit(1.0) if weight_col is None else F.col(weight_col).cast("double")
    return df.select(F.col(features_col).alias("features"), w.alias("_w")).filter(
        F.col("features").isNotNull()
        & F.forall("features", lambda x: x.isNotNull())
        & F.col("_w").isNotNull()
        & (F.col("_w") > 0)
    )


def _final_result(
    work: DataFrame, centroids, iterations: int, converged: bool, sizes
) -> KMeansResult:
    """One more Lloyd pass for the SSE w.r.t. the *final* centroids."""
    final_sse = sum(e for _, _, e in _lloyd_totals(work, centroids).values())
    return KMeansResult(centroids, iterations, converged, float(final_sse), sizes)


def kmeans_fit(
    df: DataFrame,
    k: int,
    *,
    seed: int = 42,
    max_iter: int = 20,
    tol: float = 1e-4,
    features_col: str = "features",
    initial_centroids: Centroids | None = None,
    weight_col: str | None = None,
    init: str = "random",
    on_iteration=None,
) -> KMeansResult:
    """Lloyd's algorithm driver loop (O19) with seeded init (O4),
    by-id convergence (O18, fixed) and keep-old-centroid policy (O14,
    explicit). ``tol`` is the max per-coordinate absolute movement,
    mirroring the reference's ``np.allclose(old, new, atol=1e-4)``
    (master.py:144-147) after sorting by id.

    Each iteration is one :func:`_lloyd_totals` pass (one job, one
    collect), which also drops rows of the wrong dimension.

    ``weight_col`` enables weighted K-Means: centroids become
    weighted means and cluster sizes report total weight (rounded).
    The natural use at 100 TB: fit on pre-aggregated or coreset rows
    where weight = collapsed-row count, instead of raw data."""
    work = _fit_input(df, features_col, weight_col).cache()
    try:
        n = validate_kmeans_input(work, k)  # also materializes the cache
        if initial_centroids is not None:
            centroids = _sorted_initial_centroids(work, initial_centroids)
        elif init == "random":
            centroids = init_centroids(work, k, seed)
        elif init in ("k-means++", "kmeans++"):
            centroids = init_centroids_pp(work, k, seed)
        elif init in ("k-means||", "kmeans||", "scalable"):
            centroids = init_centroids_pp_scalable(work, k, seed)
        else:
            raise ValueError(
                f"unknown init {init!r}; expected 'random', 'k-means++' "
                f"or 'k-means||'"
            )

        logger.info(
            "kmeans_fit start: n=%d k=%d seed=%s max_iter=%d tol=%g init=%s",
            n, k, seed, max_iter, tol,
            [(c, [round(v, 4) for v in vec[:4]]) for c, vec in centroids[:4]],
        )
        converged = False
        iterations = 0
        sizes: dict[int, int] = {}
        for _ in range(max_iter):
            iterations += 1
            totals = _lloyd_totals(work, centroids)
            new_centroids = []
            sizes = {}
            for cid, old_vec in centroids:
                if cid in totals:
                    w, s, _ = totals[cid]
                    new_centroids.append((cid, (s / w).tolist()))
                    sizes[cid] = int(round(w))
                else:  # empty cluster: keep previous centroid
                    new_centroids.append((cid, list(old_vec)))
                    sizes[cid] = 0
            movement = max(
                max(abs(a - b) for a, b in zip(old, new))
                for (_, old), (_, new) in zip(centroids, new_centroids)
            )
            centroids = new_centroids
            if on_iteration is not None:
                # post-iteration hook: checkpointing (kmeans_fit_resumable),
                # metrics, early-stop probes. Exceptions propagate — a
                # failed checkpoint should fail the fit, not be skipped.
                on_iteration(iterations, centroids)
            logger.info(
                "iteration %d: max_movement=%.6g sizes=%s", iterations, movement, sizes
            )
            if movement <= tol:
                converged = True
                logger.info("converged after %d iterations (tol=%g)", iterations, tol)
                break

        return _final_result(work, centroids, iterations, converged, sizes)
    finally:
        work.unpersist()


def kmeans_fit_minibatch(
    df: DataFrame,
    k: int,
    *,
    seed: int = 42,
    max_iter: int = 20,
    tol: float = 1e-4,
    features_col: str = "features",
    batch_fraction: float = 0.1,
    initial_centroids: Centroids | None = None,
) -> KMeansResult:
    """Mini-batch K-Means (Sculley 2010 shape, Spark-first): each
    iteration assigns/updates only a deterministic hash-selected slice
    of the data, and centroids move by the per-batch weighted mean
    blended with the running per-cluster counts.

    At 100 TB a full Lloyd pass per iteration is the dominant cost;
    mini-batches cut per-iteration work by ``batch_fraction`` (in
    ``(0, 1]``) while converging to near-identical SSE for
    well-separated data.

    Batch membership is md5-hash-bucketed (`pmod(md5-int, buckets)`
    rotating with the iteration number) — retry-stable and
    repartition-stable, unlike `rand()`-based sampling (a failed task
    re-draws rand() and silently changes the batch).

    Runs on the fused zero-shuffle iteration kernel
    (:func:`_lloyd_totals`); per-cluster running counts give
    each centroid a learning rate 1/c_t that damps oscillation.
    """
    from .dedup import md5_int60

    if not 0.0 < batch_fraction <= 1.0:
        raise ValueError(f"batch_fraction must be in (0, 1], got {batch_fraction}")
    buckets = max(1, int(round(1.0 / batch_fraction)))
    # hash of the feature vector text — content-deterministic, no row id
    # needed; the seed offsets the bucket rotation
    bucket = F.pmod(
        md5_int60(F.concat_ws(",", F.col("features").cast("array<string>")))
        + F.lit(seed),
        F.lit(buckets),
    )
    work = _fit_input(df, features_col).withColumn("_mb_bucket", bucket).cache()
    try:
        validate_kmeans_input(work, k)
        if initial_centroids is not None:
            centroids = _sorted_initial_centroids(work, initial_centroids)
        else:
            centroids = init_centroids(work, k, seed)

        counts: dict[int, float] = {cid: 0.0 for cid, _ in centroids}
        converged = False
        iterations = 0
        for it in range(max_iter):
            iterations += 1
            batch = work.filter(F.col("_mb_bucket") == (it % buckets))
            totals = _lloyd_totals(batch, centroids)
            if not totals:
                # Empty batch bucket (content-hash bucketing collapses
                # duplicate vectors; small/skewed data can leave buckets
                # empty): a no-op iteration says nothing about
                # convergence — skip the tol test and move on (ADVICE r2).
                continue
            new_centroids = []
            movement = 0.0
            for cid, old_vec in centroids:
                if cid in totals:
                    w, ssum, _ = totals[cid]
                    counts[cid] += w
                    eta = w / counts[cid]
                    new_vec = [
                        o + eta * (m - o)
                        for o, m in zip(old_vec, (ssum / w).tolist())
                    ]
                else:
                    new_vec = list(old_vec)
                movement = max(
                    movement,
                    max(abs(a - b) for a, b in zip(old_vec, new_vec)),
                )
                new_centroids.append((cid, new_vec))
            centroids = new_centroids
            if movement <= tol:
                converged = True
                break

        sizes = {cid: int(round(c)) for cid, c in counts.items()}
        return _final_result(work, centroids, iterations, converged, sizes)
    finally:
        work.unpersist()


def _list_checkpoint_iters(spark, state_path: str) -> list[int]:
    """Committed checkpoint iterations under ``state_path`` (dirs named
    ``v{i}`` that contain the committer's _SUCCESS marker)."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(state_path)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return []
    iters = []
    for status in fs.listStatus(path):
        name = status.getPath().getName()
        if status.isDirectory() and name.startswith("v"):
            ok = jvm.org.apache.hadoop.fs.Path(status.getPath(), "_SUCCESS")
            if name[1:].isdigit() and fs.exists(ok):
                iters.append(int(name[1:]))
    return sorted(iters)


def kmeans_fit_resumable(
    df: DataFrame,
    k: int,
    state_path: str,
    *,
    seed: int = 42,
    max_iter: int = 20,
    tol: float = 1e-4,
    features_col: str = "features",
    checkpoint_every: int = 1,
    **fit_kwargs,
) -> KMeansResult:
    """``kmeans_fit`` with driver-loop fault tolerance: every
    ``checkpoint_every``-th iteration's centroids are committed to
    ``state_path`` (one parquet dir per iteration; a version counts only
    once the committer's _SUCCESS lands, so a crash mid-write leaves the
    previous version authoritative). Re-calling with the same
    ``state_path`` resumes from the newest committed iteration.

    This closes the reference's fault-tolerance story (O22) at the
    DRIVER level: Spark already re-runs failed tasks within a job
    (tests/test_fault_tolerance.py), but a dead driver loses the Python
    loop state — the reference's gRPC master had exactly this hole
    (master.py's retry logic restarts workers, never itself). Lloyd's
    iteration is a pure function of (data, centroids), so resuming from
    checkpointed centroids reproduces the uninterrupted run exactly
    (pinned in tests).
    """
    if checkpoint_every < 1:
        raise ValueError(f"checkpoint_every must be >= 1, got {checkpoint_every}")
    spark = df.sparkSession
    done = _list_checkpoint_iters(spark, state_path)
    initial = fit_kwargs.pop("initial_centroids", None)
    done_iters = 0
    if done:
        done_iters = done[-1]
        rows = (
            spark.read.parquet(f"{state_path}/v{done_iters}")
            .orderBy("cid")
            .collect()
        )
        initial = [(r["cid"], list(r["centroid"])) for r in rows]
        logger.info("resuming from %s/v%d (%d iterations done)",
                    state_path, done_iters, done_iters)

    # completed-run marker: a re-invocation of a finished fit (converged,
    # or already at this max_iter) must return the ORIGINAL result —
    # converged flag, sizes and sse included — not a zero-iteration
    # re-derivation with converged=False/sizes={} , and a converged run
    # must not append one extra no-op iteration per call
    final = _read_result_marker(spark, state_path)
    if final is not None and (final.converged or final.iterations >= max_iter):
        return final

    def checkpoint(i: int, centroids: Centroids) -> None:
        absolute = done_iters + i
        if absolute % checkpoint_every != 0 and absolute != max_iter:
            return
        _k_row_df(spark, 
            [(int(c), [float(v) for v in vec]) for c, vec in centroids],
            "cid int, centroid array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{state_path}/v{absolute}"
        )

    result = kmeans_fit(
        df, k, seed=seed, max_iter=max_iter - done_iters, tol=tol,
        features_col=features_col, initial_centroids=initial,
        on_iteration=checkpoint, **fit_kwargs,
    )
    combined = KMeansResult(
        centroids=result.centroids,
        iterations=done_iters + result.iterations,
        converged=result.converged,
        sse=result.sse,
        cluster_sizes=result.cluster_sizes,
    )
    # the convergence break can land between checkpoint_every marks —
    # commit the final centroids unconditionally, then the result marker
    _k_row_df(spark, 
        [(int(c), [float(v) for v in vec]) for c, vec in combined.centroids],
        "cid int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{state_path}/v{combined.iterations}"
    )
    _write_result_marker(spark, state_path, combined)
    return combined


def _write_result_marker(spark, state_path: str, result: KMeansResult) -> None:
    _k_row_df(spark, 
        [(
            result.iterations,
            result.converged,
            float(result.sse),
            {int(k): int(v) for k, v in result.cluster_sizes.items()},
        )],
        "iterations int, converged boolean, sse double, sizes map<int,int>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{state_path}/_result")


def _read_result_marker(spark, state_path: str) -> KMeansResult | None:
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(f"{state_path}/_result/_SUCCESS")
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return None
    row = spark.read.parquet(f"{state_path}/_result").first()
    cents = (
        spark.read.parquet(f"{state_path}/v{row['iterations']}")
        .orderBy("cid")
        .collect()
    )
    return KMeansResult(
        centroids=[(r["cid"], list(r["centroid"])) for r in cents],
        iterations=row["iterations"],
        converged=row["converged"],
        sse=row["sse"],
        cluster_sizes=dict(row["sizes"]),
    )


def gmm1d_fit(
    df: DataFrame,
    value_col: str,
    *,
    iters: int = 3,
) -> DataFrame:
    """Two-component 1-D Gaussian mixture by EM — the soft-assignment
    generalization of this module's K-Means. All EM rounds run as ONE
    chained Spark job: each round's seven scalar sufficient statistics
    ride as a broadcast 1-row aggregate cross-joined into the next
    round's scan (the PageRank/HITS scalar-fold doctrine) instead of
    round-tripping to the driver per iteration.

    Init is deterministic and data-driven: means at the exact 25th/
    75th percentiles, both variances at the global variance, equal
    weights. The E-step responsibility uses the overflow-stable
    sigmoid form ``r = 1/(1+exp(L₂−L₁))`` over component
    log-densities (no 0/0 for far-out points — the huber/logistic
    ANSI-division lesson); the M-step re-estimates weights, means and
    variances from the responsibility-weighted sums. Log-likelihood
    is reported in the log-sum-exp max form.

    Round-7 fusion: the init follows the same bounded-buffer bracket
    doctrine as ``robust.exact_group_percentiles`` (GK sketch brackets
    the exact order statistics; only the ~8n/accuracy in-bracket
    window is sorted), but inlined and fused so the WHOLE fit is one
    job: the sketch aggregate also carries n/var_pop/min/max, the
    refine aggregate produces the starting parameters, every EM round
    chains via a broadcast 1-row crossJoin, and the final
    log-likelihood scan rides the same chain instead of a second
    driver round-trip. One ``collect()`` of one row runs everything;
    the returned frame is a literal of that validated row.

    Returns one row ``(n, w1, m1, v1, m2, v2, log_lik)`` with
    component 1 the LOWER-initialized one (label order is pinned by
    the init, not by post-hoc sorting). Degenerate inputs (variance
    collapsing to 0, fewer than 2 distinct values) raise — collapse
    inside the chain surfaces as NULL (``nullif`` division guards)
    and is validated when the parameter chain is collected.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    xin = F.col(value_col).cast("double")
    # materialize the value column once: the chained plan scans it
    # iters+1 times and lazy lineage would re-run the upstream read
    # per round (house localCheckpoint doctrine for multi-pass plans)
    rows = (
        df.where(xin.isNotNull())
        .select(xin.alias("x"))
        .localCheckpoint(eager=True)
    )
    x = F.col("x")
    # init quartiles through the bounded-buffer bracket path (same
    # quantile_cont interpolation bit-for-bit as
    # robust.exact_group_percentiles, so the oracle is untouched) —
    # inlined ungrouped, with the bracket CUTS collected to the driver
    # (one row of scalars) and folded back as codegen LITERALS: the
    # column-borne-cuts refine costs ~2.5× the literal form at sf0.1,
    # and K-scalar driver round-trips are the house kmeans doctrine.
    # The sketch aggregate also carries n/var_pop/min/max, so there is
    # no separate gvar scan, and ONE percentile_approx evaluates all
    # four bracket points from a single GK sketch.
    accuracy = 10000
    eps = 4.0 / accuracy
    targets = [0.25, 0.75]
    bracket_ps = [max(0.0, p - eps) for p in targets] + [
        min(1.0, p + eps) for p in targets
    ]
    cuts = rows.agg(
        F.count(x).cast("long").alias("_n"),
        F.var_pop(x).alias("_v"),
        F.min(x).alias("_gmin"),
        F.max(x).alias("_gmax"),
        F.percentile_approx(
            x,
            F.array(*[F.lit(p) for p in bracket_ps]),
            F.lit(accuracy),
        ).alias("_cuts"),
    ).collect()[0]
    n0, gv = cuts["_n"], cuts["_v"]
    if n0 is None or n0 < 2:
        raise ValueError(
            "gmm1d_fit needs at least 2 distinct non-null values"
        )
    # tiny inputs (n < accuracy): the sketch's ±1 rank granularity can
    # overshoot the target order statistic, so fall back to the whole
    # (still ≤ accuracy-sized) column as the window — identical rule
    # to exact_group_percentiles.
    if n0 < accuracy:
        brackets = [(cuts["_gmin"], cuts["_gmax"])] * len(targets)
    else:
        cl = list(cuts["_cuts"])
        brackets = [
            (cl[i], cl[len(targets) + i]) for i in range(len(targets))
        ]
    refine_aggs = []
    for i, (lo_c, hi_c) in enumerate(brackets):
        refine_aggs.append(
            F.sum(F.when(x < F.lit(lo_c), 1).otherwise(0))
            .cast("long")
            .alias(f"_nb_{i}")
        )
        refine_aggs.append(
            F.sort_array(
                F.collect_list(
                    F.when((x >= F.lit(lo_c)) & (x <= F.lit(hi_c)), x)
                )
            ).alias(f"_ws_{i}")
        )
    win = rows.agg(*refine_aggs).collect()[0]
    quarts = []
    for i, p in enumerate(targets):
        # Spark `percentile` interpolation, computed driver-side on
        # the exact in-bracket order statistics (IEEE doubles — same
        # arithmetic the in-plan expression form performed)
        pos = (n0 - 1) * float(p)
        lower = math.floor(pos)
        higher = math.ceil(pos)
        nb, ws = win[f"_nb_{i}"], win[f"_ws_{i}"]
        # fail loudly on a bracket miss (sketch rank-guarantee edge):
        # Python negative indexing would otherwise silently return the
        # WRONG order statistic (ADVICE r7)
        if not (0 <= lower - nb and higher - nb < len(ws)):
            raise ValueError(
                f"percentile bracket miss for p={p}: target ranks "
                f"[{lower}, {higher}] outside the fetched window "
                f"[{nb}, {nb + len(ws) - 1}] — widen bracket_ps or "
                "raise accuracy"
            )
        at_lower = ws[lower - nb]
        if lower == higher:
            quarts.append(float(at_lower))
        else:
            at_higher = ws[higher - nb]
            quarts.append(
                float(at_lower * (higher - pos) + at_higher * (pos - lower))
            )
    params = rows.sparkSession.range(1).select(
        F.lit(float(n0)).alias("n"),
        F.lit(0.5).alias("w1"),
        F.lit(quarts[0]).alias("m1"),
        F.lit(gv).cast("double").alias("v1"),
        F.lit(quarts[1]).alias("m2"),
        F.lit(gv).cast("double").alias("v2"),
    )

    # EM rounds as driver round-trips of FIVE scalars with the
    # parameters folded back as codegen LITERALS (the ridge/IRLS
    # contract doctrine). Measured at sf0.1, this beats the round-6
    # broadcast scalar-fold chain ~1.1 s vs ~2.0 s for 3 rounds + ll:
    # each chained 1-row crossJoin pays a BroadcastExchange
    # (~0.25 s/level locally) where a K-scalar collect pays ~0.05 s —
    # and literal parameters let whole-stage codegen constant-fold the
    # per-row log-density. Arithmetic is IEEE-double in both forms.
    n = float(n0)
    w1, m1, v1, m2, v2 = 0.5, quarts[0], float(gv), quarts[1], float(gv)
    if v1 <= 0.0:
        # constant input: both components collapse at init
        raise ValueError("a component variance collapsed")

    def _logdens_lit(w: float, m: float, v: float):
        return (
            F.lit(math.log(w) - 0.5 * math.log(2.0 * math.pi * v))
            - (x - F.lit(m)) * (x - F.lit(m)) / F.lit(2.0 * v)
        )

    def _collapsed(*vals: float) -> bool:
        return any(not math.isfinite(f) for f in vals)

    for _ in range(iters):
        l1 = _logdens_lit(w1, m1, v1)
        l2 = _logdens_lit(1.0 - w1, m2, v2)
        r = F.lit(1.0) / (F.lit(1.0) + F.exp(l2 - l1))
        s = rows.agg(
            F.sum(r).alias("r1"),
            F.sum(r * x).alias("rx1"),
            F.sum(r * x * x).alias("rxx1"),
            F.sum((F.lit(1.0) - r) * x).alias("rx2"),
            F.sum((F.lit(1.0) - r) * x * x).alias("rxx2"),
        ).collect()[0]
        r1, n2 = s["r1"], n - s["r1"]
        if r1 <= 0.0 or n2 <= 0.0:
            raise ValueError("a component collapsed to zero weight")
        m1n, m2n = s["rx1"] / r1, s["rx2"] / n2
        w1, m1, v1, m2, v2 = (
            r1 / n,
            m1n,
            s["rxx1"] / r1 - m1n * m1n,
            m2n,
            s["rxx2"] / n2 - m2n * m2n,
        )
        if _collapsed(w1, m1, v1, m2, v2):
            raise ValueError("a component collapsed to zero weight")
        if v1 <= 0.0 or v2 <= 0.0:
            # catch exact-zero variance HERE: the next _logdens_lit
            # would otherwise raise a bare math-domain error instead
            # of the intended collapse message (ADVICE r7)
            raise ValueError("a component variance collapsed")
    if v1 <= 0.0 or v2 <= 0.0:
        raise ValueError(
            "a component variance collapsed"
            if w1 not in (0.0, 1.0)
            else "a component collapsed to zero weight"
        )
    if w1 <= 0.0 or w1 >= 1.0:
        raise ValueError("a component collapsed to zero weight")
    l1 = _logdens_lit(w1, m1, v1)
    l2 = _logdens_lit(1.0 - w1, m2, v2)
    hi = F.greatest(l1, l2)
    ll = rows.agg(
        F.sum(
            hi + F.log(F.lit(1.0) + F.exp(F.least(l1, l2) - hi))
        ).alias("ll")
    )
    return ll.select(
        F.lit(int(n0)).cast("long").alias("n"),
        F.lit(w1).alias("w1"),
        F.lit(m1).alias("m1"),
        F.lit(v1).alias("v1"),
        F.lit(m2).alias("m2"),
        F.lit(v2).alias("v2"),
        F.col("ll").alias("log_lik"),
    )
