"""Alternating-least-squares matrix factorization (recommender).

Collaborative filtering over (user, item, rating) interactions —
ratings here are IMPLICIT strengths (e.g. purchase quantities from
orders ⋈ lineitem), factorized as ``r_ui ≈ x_u · y_i`` by classic
ALS (Zhou et al. 2008, "Large-scale Parallel Collaborative Filtering
for the Netflix Prize"): fixing one side turns the other side's
factors into independent per-id ridge regressions, each a tiny
``rank × rank`` solve.

Why not a row-iterative SGD: ALS's half-steps are EXACTLY the
engine's shape — one broadcast join (the fixed side's factor table,
``n_items × rank`` doubles, MBs even at catalog scale) plus one
map-side-combined groupBy of the solving side. No parameter server,
no sequential epochs, every iteration a bounded number of shuffles of
(id, rank²-floats) rows — never the ratings themselves twice.

Determinism: factor init is the md5-uniform house hash (one draw per
(seed, id, component)), so fits are retry/repartition-stable and the
rank-2 closed-form path is exactly reproducible in the DuckDB oracle
(contracts/recommend_queries.py). Rank 2 solves 2×2 systems in
CLOSED FORM as JVM-side column expressions (zero Python in the hot
path); general rank aggregates the same normal-equation sums and
solves the tiny per-id systems in one Arrow-batched ``mapInPandas``
over ALREADY-AGGREGATED one-row-per-id partials.

Reference scope note: the reference engine (master.py:27-150) has no
recommender; this module is training-data-pipeline surface (user/item
embeddings for retrieval, interaction-based curation) mandated by the
build brief.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_TWO_60 = float(1 << 60)


def _hash_unit(parts: list[Column]) -> Column:
    """Deterministic uniform in [-0.5, 0.5) from the md5 house hash of
    ':'-joined parts."""
    h = F.conv(
        F.substring(F.md5(F.concat_ws(":", *parts)), 1, 15), 16, 10
    ).cast("long")
    return (h.cast("double") + F.lit(0.5)) / F.lit(_TWO_60) - F.lit(0.5)


def hash_init_factors(
    ids: DataFrame,
    *,
    rank: int,
    seed: int = 0,
    scale: float = 1.0,
    id_col: str = "id",
) -> DataFrame:
    """Deterministic factor init: ``(id_col, factors array<double>)``
    with ``factors[j] = scale * uniform[-0.5, 0.5)`` drawn from
    ``md5(seed:id:j)`` — identical on every run, retry, and engine."""
    if rank < 1:
        raise ValueError(f"rank must be >= 1, got {rank}")
    comps = [
        _hash_unit(
            [F.lit(str(seed)), F.col(id_col).cast("string"), F.lit(str(j))]
        )
        * F.lit(float(scale))
        for j in range(rank)
    ]
    return ids.select(id_col, F.array(*comps).alias("factors"))


def implicit_ratings(
    orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """TPC-H implicit interaction strengths: ``(user, item, rating)``
    = customer × part total ordered quantity. The orders join carries
    only (orderkey, custkey) — AQE broadcast below its threshold,
    shuffle-hash above."""
    return (
        lineitem.select("l_orderkey", "l_partkey", "l_quantity")
        .join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            F.col("o_custkey").alias("user"), F.col("l_partkey").alias("item")
        )
        .agg(F.sum(F.col("l_quantity").cast("double")).alias("rating"))
    )


def _normal_eq_sums(
    ratings: DataFrame,
    other_factors: DataFrame,
    *,
    rank: int,
    solve_col: str,
    other_col: str,
    rating_col: str,
) -> DataFrame:
    """Per-solving-id normal-equation partials: upper-triangle Gram
    sums ``a_ij = Σ y_i y_j`` and targets ``b_i = Σ y_i r`` plus the
    interaction count ``n`` — one broadcast join + one grouped agg;
    output is ONE ROW PER ID with rank(rank+3)/2 + 1 doubles."""
    y = [F.col("factors")[j] for j in range(rank)]
    aggs = [F.count("*").alias("n")]
    for i in range(rank):
        for j in range(i, rank):
            aggs.append(F.sum(y[i] * y[j]).alias(f"a_{i}_{j}"))
    r = F.col(rating_col).cast("double")
    for i in range(rank):
        aggs.append(F.sum(y[i] * r).alias(f"b_{i}"))
    joined = ratings.join(
        F.broadcast(
            other_factors.select(
                F.col(other_factors.columns[0]).alias(other_col), "factors"
            )
        ),
        other_col,
    )
    return joined.groupBy(solve_col).agg(*aggs)


def als_half_step(
    ratings: DataFrame,
    other_factors: DataFrame,
    *,
    rank: int,
    reg: float = 0.1,
    solve_col: str = "user",
    other_col: str = "item",
    rating_col: str = "rating",
) -> DataFrame:
    """One ALS half-step: solve ``(Yᵀ_u Y_u + reg·I) x_u = Yᵀ_u r_u``
    for every ``solve_col`` id against fixed ``other_factors``
    (``(id, factors)``). Returns ``(solve_col, factors)``.

    ``reg > 0`` makes every system positive-definite (no singular
    guards needed). Rank 2 is solved in closed form as column
    expressions; other ranks route the one-row-per-id partials
    through an Arrow-batched numpy solve.
    """
    if rank < 1:
        raise ValueError(f"rank must be >= 1, got {rank}")
    if reg <= 0:
        raise ValueError(f"reg must be > 0, got {reg}")
    sums = _normal_eq_sums(
        ratings,
        other_factors,
        rank=rank,
        solve_col=solve_col,
        other_col=other_col,
        rating_col=rating_col,
    )
    if rank == 1:
        x0 = F.col("b_0") / (F.col("a_0_0") + F.lit(reg))
        return sums.select(solve_col, F.array(x0).alias("factors"))
    if rank == 2:
        a11 = F.col("a_0_0") + F.lit(reg)
        a22 = F.col("a_1_1") + F.lit(reg)
        a12 = F.col("a_0_1")
        det = a11 * a22 - a12 * a12
        x0 = (a22 * F.col("b_0") - a12 * F.col("b_1")) / det
        x1 = (a11 * F.col("b_1") - a12 * F.col("b_0")) / det
        return sums.select(solve_col, F.array(x0, x1).alias("factors"))
    return _solve_pandas(sums, rank=rank, reg=reg, solve_col=solve_col)


def _solve_pandas(
    sums: DataFrame, *, rank: int, reg: float, solve_col: str
) -> DataFrame:
    import numpy as np  # vendored with pyspark

    a_cols = [(i, j) for i in range(rank) for j in range(i, rank)]
    out_schema = f"{solve_col} long, factors array<double>"

    def solve(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            n = len(pdf)
            A = np.zeros((n, rank, rank))
            for i, j in a_cols:
                A[:, i, j] = pdf[f"a_{i}_{j}"].to_numpy()
                A[:, j, i] = pdf[f"a_{i}_{j}"].to_numpy()
            A += reg * np.eye(rank)[None, :, :]
            b = np.stack(
                [pdf[f"b_{i}"].to_numpy() for i in range(rank)], axis=1
            )
            x = np.linalg.solve(A, b)
            yield pd.DataFrame(
                {solve_col: pdf[solve_col], "factors": list(x)}
            )

    return sums.mapInPandas(solve, schema=out_schema)


def als_fit(
    ratings: DataFrame,
    *,
    rank: int,
    iterations: int = 5,
    reg: float = 0.1,
    seed: int = 0,
    user_col: str = "user",
    item_col: str = "item",
    rating_col: str = "rating",
) -> tuple[DataFrame, DataFrame, list[float]]:
    """Full alternating fit: hash-init item factors, then
    ``iterations`` rounds of user-solve / item-solve. Returns
    ``(user_factors, item_factors, rmse_history)`` — history has one
    training-RMSE entry per iteration (computed on the factor tables,
    a join of two (id, rank-floats) relations with the ratings, so
    the eval never widens beyond the interaction list).

    Each round localCheckpoints the factor tables: lineage stays flat
    no matter how many iterations, the same doctrine as
    operators/kmeans.py's driver loop.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    items = ratings.select(F.col(item_col).alias("id")).distinct()
    item_f = hash_init_factors(items, rank=rank, seed=seed).localCheckpoint()
    history: list[float] = []
    user_f = None
    for _ in range(iterations):
        user_f = als_half_step(
            ratings,
            item_f,
            rank=rank,
            reg=reg,
            solve_col=user_col,
            other_col=item_col,
            rating_col=rating_col,
        ).localCheckpoint()
        item_f = als_half_step(
            ratings,
            user_f.withColumnRenamed(user_col, "id"),
            rank=rank,
            reg=reg,
            solve_col=item_col,
            other_col=user_col,
            rating_col=rating_col,
        ).localCheckpoint()
        history.append(
            _rmse(ratings, user_f, item_f, user_col, item_col, rating_col)
        )
    return (
        user_f,
        item_f.withColumnRenamed(item_col, "id"),
        history,
    )


def predict_score(u: Column, y: Column) -> Column:
    """Dot product of two factor arrays."""
    return F.aggregate(
        F.zip_with(u, y, lambda a, b: a * b), F.lit(0.0), lambda s, v: s + v
    )


def _rmse(ratings, user_f, item_f, user_col, item_col, rating_col) -> float:
    uf = user_f.select(
        F.col(user_f.columns[0]).alias(user_col), F.col("factors").alias("_u")
    )
    itf = item_f.select(
        F.col(item_f.columns[0]).alias(item_col), F.col("factors").alias("_y")
    )
    err = (
        ratings.join(uf, user_col)
        .join(F.broadcast(itf), item_col)
        .select(
            (
                F.col(rating_col).cast("double")
                - predict_score(F.col("_u"), F.col("_y"))
            ).alias("e")
        )
    )
    return float(
        err.agg(F.sqrt(F.avg(F.col("e") * F.col("e")))).first()[0]
    )


def recommend_topk(
    user_factors: DataFrame,
    item_factors: DataFrame,
    *,
    k: int,
    user_col: str = "user",
    item_col: str = "item",
    rank: int | None = None,
) -> DataFrame:
    """Top-``k`` items per user by factor dot product (ties broken by
    item id): ``(user, item, score, rank)``.

    The item factor table is broadcast (catalog × rank doubles — MBs)
    and the per-user ranking is a window over the SCORED projection,
    so the exchange carries (user, item, score) rows only. For
    billion-item catalogs swap in the IVF/PQ retrieval operators
    (operators/similarity.py, operators/pq.py) over the same factor
    arrays instead of the exhaustive product.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    uf = user_factors.select(
        F.col(user_factors.columns[0]).alias(user_col),
        F.col("factors").alias("_u"),
    )
    itf = item_factors.select(
        F.col(item_factors.columns[0]).alias(item_col),
        F.col("factors").alias("_y"),
    )
    if rank is not None:
        # known rank: expand the dot product into plain arithmetic —
        # higher-order array functions fall out of whole-stage
        # codegen, and this projection runs |users|×|items| times
        score = sum(
            (F.col("_u")[j] * F.col("_y")[j] for j in range(1, rank)),
            start=F.col("_u")[0] * F.col("_y")[0],
        )
    else:
        score = predict_score(F.col("_u"), F.col("_y"))
    # spread the (small) user side first: the broadcast NLJ inherits
    # its partitioning, and a handful of user partitions would serial-
    # ize the |users|×|items| scoring into a handful of tasks
    n_parts = int(
        user_factors.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    scored = uf.repartition(n_parts).join(F.broadcast(itf)).select(
        user_col,
        item_col,
        score.alias("score"),
        F.spark_partition_id().alias("_pid"),
    )
    # two-phase exact top-k: per-(task, user) partials first, then the
    # global pick over ≤ users×k×tasks survivors — the global top-k is
    # always a subset of the per-task top-k union, so this is exact
    # for ANY row placement (4-5× over the single global window, and
    # the shape that survives a billion-item scoring fan-out)
    wl = Window.partitionBy("_pid", user_col).orderBy(
        F.desc("score"), item_col
    )
    part = (
        scored.withColumn("_rk", F.row_number().over(wl))
        .where(F.col("_rk") <= k)
        .drop("_rk")
    )
    w = Window.partitionBy(user_col).orderBy(F.desc("score"), item_col)
    return (
        part.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .drop("_pid")
    )


def recommend_topk_gemm(
    user_factors: DataFrame,
    item_factors: DataFrame,
    *,
    k: int,
    user_col: str = "user",
    item_col: str = "item",
) -> DataFrame:
    """Exact top-``k`` items per user by blocked GEMM — identical
    output contract to :func:`recommend_topk` (``(user, item, score,
    rank)``, score ties broken by ascending item id) without the
    |users|×|items| row explosion.

    The item factor matrix (catalog × rank doubles — the same MBs the
    broadcast NLJ ships) rides a Spark broadcast into one Arrow
    ``mapInPandas`` pass over the user factors: each batch scores
    ``U @ Yᵀ`` as a single dgemm and selects the per-row top-k via
    partition + stable sort, so per-user work is vectorized C instead
    of |items| Spark rows through two ranking windows (the
    ``kmeans._sq_dists_to`` GEMM kernel shape). Tie
    handling is exact: candidates at the k-th score boundary are kept
    and resolved by item id, matching the window's ``ORDER BY score
    DESC, item`` total order. Scores are bit-identical to the
    expression path for rank ≤ 2: ``np.dot`` may dispatch to an FMA
    dgemm that contracts ``round(u0*y0 + round(u1*y1))`` and drifts
    ~1 ulp from the expression plan's ``round(round(u0*y0) +
    round(u1*y1))``, so the dgemm is used for RANKING only — the
    per-row top-k boundary is widened by a few ulps and every emitted
    score is recomputed with separate numpy multiply/add ufunc calls
    over the small candidate set (ufuncs cannot contract across
    calls), pinning the two-rounding order at dgemm speed. For larger
    ranks the windowed :func:`recommend_topk` remains the
    term-order-pinned path.

    Item ids must be an integral Spark type (they are packed into an
    ``int64`` ndarray for the broadcast catalog); string or decimal
    item ids raise ``ValueError`` up front — use
    :func:`recommend_topk` for those.

    For billion-item catalogs neither a broadcast NLJ nor a broadcast
    GEMM holds — route retrieval through the IVF/PQ operators
    (operators/similarity.py, operators/pq.py) over the same arrays.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    import numpy as np

    _INTEGRAL = {"tinyint", "smallint", "int", "bigint"}
    i_id_type = item_factors.schema[0].dataType.simpleString()
    if i_id_type not in _INTEGRAL:
        raise ValueError(
            "recommend_topk_gemm: item id column "
            f"{item_factors.columns[0]!r} has type {i_id_type}; the "
            "GEMM path packs item ids into an int64 catalog array "
            "and supports integral id types only — use "
            "recommend_topk for string/decimal ids"
        )

    itf = item_factors.select(
        F.col(item_factors.columns[0]).alias(item_col),
        F.col("factors").alias("_y"),
    ).collect()
    if not itf:
        raise ValueError("recommend_topk_gemm: empty item catalog")
    ids = np.asarray([r[item_col] for r in itf], dtype=np.int64)
    Y = np.asarray([r["_y"] for r in itf], dtype=np.float64)
    order = np.argsort(ids, kind="stable")
    ids, Y = ids[order], Y[order]
    sc = user_factors.sparkSession.sparkContext
    b = sc.broadcast((ids, Y))

    uf = user_factors.select(
        F.col(user_factors.columns[0]).alias(user_col),
        F.col("factors").alias("_u"),
    )
    u_type = uf.schema[0].dataType.simpleString()
    i_type = item_factors.schema[0].dataType.simpleString()
    out_schema = (
        f"{user_col} {u_type}, {item_col} {i_type}, "
        "score double, rank int"
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        ids_l, Y_l = b.value
        Yt = np.ascontiguousarray(Y_l.T)
        n = len(ids_l)
        kk = min(k, n)
        # user-blocked scoring into ONE reused out= buffer: a full
        # |batch|×|items| score matrix is hundreds of fresh MBs whose
        # first-touch page faults dominate on memory-ballooned VMs
        # (measured 97 s for a 120 MFLOP dgemm); a reused 256-row
        # block keeps the working set resident and is also the shape
        # that survives a 100× catalog (block × items, never
        # users × items)
        block = 256
        sbuf = np.empty((block, n), dtype=np.float64)
        rank = Yt.shape[0]
        # rank <= 2: the dgemm is used for RANKING only — an
        # FMA-contracting BLAS may drift each score up to ~1 ulp from
        # the expression path's round-each-product-then-sum, so the
        # per-row selection widens the boundary by a few ulps and the
        # emitted scores are recomputed exactly (separate numpy
        # multiply/add ufunc calls over the tiny candidate set cannot
        # contract across calls). Pure-elementwise full-matrix scoring
        # was tried first and is 7-12x slower than the single-pass
        # dgemm (three memory passes over block x catalog).
        pin2 = 1 <= rank <= 2
        for pdf in batches:
            if not len(pdf):
                continue
            users = pdf.iloc[:, 0].to_numpy()
            U = np.asarray(list(pdf["_u"]), dtype=np.float64)
            out_u, out_i, out_s, out_r = [], [], [], []
            for start in range(0, len(U), block):
                ub = U[start : start + block]
                S = sbuf[: len(ub)]
                np.dot(ub, Yt, out=S)
                for r in range(len(ub)):
                    row = S[r]
                    # exact boundary-tie handling: argpartition picks
                    # SOME kk top scores (ties arbitrary); re-gather
                    # every index at >= the kth score, then stable-
                    # sort on -score — cand is item-id-ascending
                    # (ids pre-sorted), so ties resolve by item id,
                    # the window's (score DESC, item ASC) total order
                    v = row[np.argpartition(-row, kk - 1)[:kk]].min()
                    if pin2:
                        # widen by the FMA drift bound so no exact
                        # top-k member can hide below the fast kth
                        eps = 4.0 * np.spacing(
                            max(np.abs(row).max(), 1.0)
                        )
                        cand = np.nonzero(row >= v - eps)[0]
                        ex = ub[r, 0] * Yt[0, cand]
                        if rank == 2:
                            ex = ex + ub[r, 1] * Yt[1, cand]
                        loc = np.argsort(-ex, kind="stable")[:kk]
                        sel = cand[loc]
                        scores = ex[loc]
                    else:
                        cand = np.nonzero(row >= v)[0]
                        loc = np.argsort(-row[cand], kind="stable")[
                            :kk
                        ]
                        sel = cand[loc]
                        scores = row[sel].copy()
                    out_u.append(
                        np.full(len(sel), users[start + r])
                    )
                    out_i.append(ids_l[sel])
                    out_s.append(scores)
                    out_r.append(np.arange(1, len(sel) + 1))
            yield pd.DataFrame(
                {
                    user_col: np.concatenate(out_u),
                    item_col: np.concatenate(out_i),
                    "score": np.concatenate(out_s),
                    "rank": np.concatenate(out_r).astype(np.int32),
                }
            )

    return uf.mapInPandas(gen, out_schema)


def holdout_hitrate(
    ratings: DataFrame,
    recommendations: DataFrame,
    *,
    user_col: str = "user",
    item_col: str = "item",
) -> DataFrame:
    """Recommender evaluation: one row ``(n_holdout, users_evaluated,
    hits, hit_rate)`` — the fraction of held-out (user, item)
    interactions that appear in that user's recommendation list
    (hit-rate@k when the list is top-k).

    One semi-join-shaped inner join on the (user, item) pair key plus
    two 1-row aggregates; both inputs are interaction-sized
    projections, never factor tables.
    """
    held = ratings.select(user_col, item_col)
    rec = recommendations.select(user_col, item_col)
    hits = held.join(rec, [user_col, item_col], "left_semi")
    agg = held.agg(
        F.count("*").cast("long").alias("n_holdout"),
        F.count_distinct(F.col(user_col)).cast("long").alias(
            "users_evaluated"
        ),
    )
    h = hits.agg(F.count("*").cast("long").alias("hits"))
    return agg.crossJoin(h).select(
        "n_holdout",
        "users_evaluated",
        "hits",
        (F.col("hits") / F.col("n_holdout")).alias("hit_rate"),
    )
