"""Product quantization (PQ) for embedding compression and ANN.

Jégou/Douze/Schmid, "Product Quantization for Nearest Neighbor
Search" (TPAMI 2011) — the compression layer behind FAISS IVF-PQ,
ScaNN and Milvus. A d-dim vector splits into ``m`` subvectors; each
subspace gets its own ``n_codes``-entry codebook (trained with THIS
engine's K-Means core — the reference's algorithm is the codebook
trainer), and a vector is stored as ``m`` small ints: a 64-dim float32
corpus at m=8 compresses 32×.

Query scoring is ADC (asymmetric distance computation): the query stays
full precision; its squared distance to every codeword of every
subspace is an ``m × n_codes`` table computed driver-side (tiny), and a
row's approximate distance is m table lookups — in Spark a
literal-folded ``zip_with`` + ``aggregate``, whole-stage-codegen'd,
no UDF in the scoring path.

Scale shape:

- **training**: m K-Means fits over a deterministic hash sample (the
  codebooks are statistics; a small sample of 100 TB is enough and the
  sample is retry/repartition-stable, operators/sampling.py). Each fit
  is the fused zero-shuffle kernel.
- **encoding**: ONE Arrow-batched ``mapInPandas`` pass; per batch, m
  argmin GEMMs of (batch × n_codes) — the same kernel shape as the
  fused Lloyd assign. Output is (id, ``codes array<int>``), m ints/row.
- **scoring**: narrow projection over the codes table (the LUT folds in
  as an array-of-arrays literal of m·n_codes doubles) →
  TakeOrderedAndProject. Corpus bytes read per query ∝ m, not d.
- **refine**: broadcast semi-join of the ~k·refine candidate ids
  against the full-precision vectors — the same recall-recovery stage
  as ``similarity.ivf_topk_refined``; full-precision bytes read ∝
  k·refine rows, not corpus size.

Compose with IVF by bucketing the codes table on the coarse cid
(``similarity.build_ivf_index`` layout) — partition pruning and PQ
compression multiply.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window

from ..sources.loaders import k_row_df as _k_row_df
from pyspark.sql import functions as F

#: codebooks[j] = list of n_codes subvectors for subspace j; the code
#: for subspace j is an index into codebooks[j].
PQCodebooks = list[list[list[float]]]


def train_pq_codebooks(
    df: DataFrame,
    *,
    m: int = 8,
    n_codes: int = 256,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
    sample_key: str | None = None,
    sample_keep: int = 100,
) -> PQCodebooks:
    """Train per-subspace codebooks with the engine's K-Means.

    The input dimension must divide evenly by ``m`` (PQ's standard
    contract). ``sample_key``/``sample_keep`` train on the
    deterministic ``sample_keep``% hash sample by that key column —
    at corpus scale the codebooks are distribution statistics and a
    sample is sufficient; determinism keeps retrains reproducible.

    Cost: m sequential fused fits on the cached slice projections —
    each fit collects only n_codes × (d/m) floats per iteration.
    """
    from .kmeans import kmeans_fit
    from .sampling import hash_sample

    if m < 1:
        raise ValueError(f"m must be >= 1, got {m}")
    if n_codes < 2:
        raise ValueError(f"n_codes must be >= 2, got {n_codes}")
    first = df.select(F.col(vec_col).alias("v")).filter(F.col("v").isNotNull()).first()
    if first is None:
        raise ValueError("Data not found or empty")
    d = len(first["v"])
    if d % m != 0:
        raise ValueError(f"vector dim {d} is not divisible by m={m} subspaces")
    dsub = d // m
    train = df
    if sample_key is not None and sample_keep < 100:
        train = hash_sample(df, sample_key, keep=sample_keep)
    vec = F.col(vec_col).cast("array<double>")
    train = train.select(vec.alias("v")).filter(
        F.col("v").isNotNull() & (F.size("v") == d)
    ).cache()
    try:
        books: PQCodebooks = []
        for j in range(m):
            sub = train.select(F.slice("v", j * dsub + 1, dsub).alias("features"))
            fit = kmeans_fit(sub, n_codes, seed=seed + j, max_iter=max_iter)
            # code = position in cid-sorted order (cids are 1..n_codes)
            books.append(
                [vecs for _, vecs in sorted(fit.centroids, key=lambda t: t[0])]
            )
        return books
    finally:
        train.unpersist()


def _validate_books(codebooks: PQCodebooks) -> tuple[int, int, int]:
    """(m, n_codes, dsub), enforcing rectangular shape."""
    m = len(codebooks)
    if m == 0:
        raise ValueError("codebooks must be non-empty")
    n_codes = len(codebooks[0])
    dsub = len(codebooks[0][0])
    for j, book in enumerate(codebooks):
        if len(book) != n_codes or any(len(c) != dsub for c in book):
            raise ValueError(f"codebook {j} is not {n_codes}×{dsub} rectangular")
    return m, n_codes, dsub


def encode_pq(
    df: DataFrame,
    codebooks: PQCodebooks,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    passthrough: Sequence[str] = (),
) -> DataFrame:
    """Encode each vector as ``m`` codebook indices.

    One Arrow-batched ``mapInPandas`` pass; per batch and subspace, an
    argmin over the (batch × n_codes) distance GEMM — the fused-Lloyd
    kernel shape, numpy throughout. Rows with NULL or wrong-dimension
    vectors are dropped (the dense GEMM cannot hold them; same policy
    as the K-Means distance kernel ``kmeans._sq_dists_to``).

    ``passthrough`` columns ride along unchanged (e.g. the coarse
    ``cid`` in the IVF-PQ build — avoids a second pass to rejoin them).
    """
    import numpy as np

    m, n_codes, dsub = _validate_books(codebooks)
    d = m * dsub
    C = np.asarray(codebooks, dtype=np.float64)  # (m, n_codes, dsub)
    extras = list(passthrough)
    src = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
        *extras,
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        cn = (C * C).sum(axis=2)  # (m, n_codes)
        for pdf in batches:
            if not len(pdf):
                continue
            keep = [
                i
                for i, v in enumerate(pdf["_v"])
                if v is not None and len(v) == d and not any(x is None for x in v)
            ]
            if not keep:
                continue
            X = np.asarray([pdf["_v"].iloc[i] for i in keep], dtype=np.float64)
            codes = np.empty((len(keep), m), dtype=np.int64)
            for j in range(m):
                S = X[:, j * dsub : (j + 1) * dsub]
                # ||s||² is constant per row in an argmin — skip it
                dist = cn[j][None, :] - 2.0 * (S @ C[j].T)
                codes[:, j] = dist.argmin(axis=1)
            out = {"_id": pdf["_id"].iloc[keep].to_numpy(), "codes": list(codes)}
            for c in extras:
                out[c] = pdf[c].iloc[keep].to_numpy()
            yield pd.DataFrame(out)

    extra_ddl = "".join(
        f", {c} {src.schema[c].dataType.simpleString()}" for c in extras
    )
    out = src.mapInPandas(
        gen,
        f"_id {src.schema['_id'].dataType.simpleString()}, codes array<int>{extra_ddl}",
    )
    return out.withColumnRenamed("_id", id_col)


def adc_lut(codebooks: PQCodebooks, query: Sequence[float]) -> list[list[float]]:
    """The m × n_codes ADC table: squared distance from each query
    subvector to each codeword — driver-side, m·n_codes·dsub flops."""
    m, n_codes, dsub = _validate_books(codebooks)
    if len(query) != m * dsub:
        raise ValueError(
            f"query dim {len(query)} != codebook dim {m * dsub}"
        )
    lut = []
    for j in range(m):
        q = query[j * dsub : (j + 1) * dsub]
        lut.append(
            [
                float(sum((a - b) ** 2 for a, b in zip(c, q)))
                for c in codebooks[j]
            ]
        )
    return lut


def adc_score_expr(lut: list[list[float]], codes_col: str = "codes"):
    """Approximate squared distance as a pure JVM expression:
    ``zip_with(codes, LUT, (c, t) -> t[c]) |> aggregate(sum)``. The LUT
    is literal-folded; whole-stage codegen, no Python in the scan."""
    lut_lit = F.array(
        *[F.array(*[F.lit(v) for v in row]) for row in lut]
    )
    parts = F.zip_with(
        F.col(codes_col),
        lut_lit,
        lambda c, t: F.element_at(t, c + F.lit(1)),
    )
    return F.aggregate(parts, F.lit(0.0), lambda acc, x: acc + x)


def pq_topk(
    codes: DataFrame,
    codebooks: PQCodebooks,
    query: Sequence[float],
    k: int = 10,
    *,
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k by ADC approximate squared distance (ascending; ties by id).

    Plan: scan of the m-int codes table → narrow literal-LUT projection
    → TakeOrderedAndProject. No shuffle beyond the k-row gather.
    """
    score = adc_score_expr(adc_lut(codebooks, query))
    return (
        codes.select(F.col(id_col).alias(id_col), score.alias("adc_sq_dist"))
        .orderBy(F.col("adc_sq_dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def pq_topk_refined(
    codes: DataFrame,
    vectors: DataFrame,
    codebooks: PQCodebooks,
    query: Sequence[float],
    k: int = 10,
    *,
    refine_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage PQ search: ADC for ``k × refine_factor`` candidates
    (m-byte reads), exact squared-distance re-rank of just those rows
    against the full-precision ``vectors`` (broadcast semi-join — the
    same recall-recovery stage as ``similarity.ivf_topk_refined``)."""
    from ..functions.vectors import sq_dist_to_literal

    if refine_factor < 1:
        raise ValueError(f"refine_factor must be >= 1, got {refine_factor}")
    cand = pq_topk(
        codes, codebooks, query, k=k * refine_factor, id_col=id_col
    ).select(id_col)
    exact = vectors.join(F.broadcast(cand), id_col)
    score = sq_dist_to_literal(F.col(vec_col).cast("array<double>"), list(query))
    return (
        exact.select(F.col(id_col).alias(id_col), score.alias("sq_dist"))
        .orderBy(F.col("sq_dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def residuals(
    df: DataFrame,
    centroids,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, cid, residual): each vector's coarse bucket and its offset
    from that bucket's centroid — the IVF-PQ encoding input (residuals
    concentrate near zero, so a fixed codebook budget quantizes them
    far better than raw vectors). The centroid pick is one
    literal-indexed ``element_at`` (K-Means cids are contiguous 1..K),
    no join."""
    from .kmeans import assign

    feats = df.select(
        F.col(id_col).alias(id_col),
        F.col(vec_col).cast("array<double>").alias("features"),
    )
    bucketed = assign(feats, centroids, keep_dist=False)
    cents = sorted(((int(c), [float(v) for v in vec]) for c, vec in centroids))
    cent_lit = F.array(*[F.array(*[F.lit(v) for v in vec]) for _, vec in cents])
    return bucketed.select(
        id_col,
        "cid",
        F.zip_with(
            F.col("features"),
            F.element_at(cent_lit, F.col("cid")),
            lambda x, c: x - c,
        ).alias("residual"),
    )


def build_ivfpq_index(
    df: DataFrame,
    centroids,
    codebooks: PQCodebooks,
    path: str,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    mode: str = "overwrite",
) -> None:
    """IVF-PQ: the FAISS composition of both index layers on disk.

    Every vector is (1) assigned to its coarse K-Means bucket and
    (2) PQ-encoded as the RESIDUAL ``v - centroid[cid]`` (residuals
    concentrate near zero, so the same codebook budget quantizes them
    far better than raw vectors — Jégou et al. §IV). Layout matches
    ``similarity.build_ivf_index``: codes hive-partitioned by cid
    (``{path}/corpus/cid=N``, m ints per row), centroids and codebooks
    alongside. A probe reads nprobe partition DIRECTORIES of m-byte
    codes — partition pruning × 32× compression multiply.

    Train ``codebooks`` on residuals for best recall (e.g.
    ``train_pq_codebooks`` over a residual projection); any rectangular
    codebook works correctness-wise.
    """
    m, n_codes, dsub = _validate_books(codebooks)
    resid = residuals(df, centroids, vec_col=vec_col, id_col=id_col)
    codes = encode_pq(
        resid,
        codebooks,
        vec_col="residual",
        id_col=id_col,
        passthrough=["cid"],
    )
    cents = sorted(((int(c), [float(v) for v in vec]) for c, vec in centroids))
    codes.repartition(F.col("cid")).write.mode(mode).partitionBy("cid").parquet(
        f"{path}/corpus"
    )
    spark = df.sparkSession
    _k_row_df(spark, 
        [(cid, vec) for cid, vec in cents], "cid int, centroid array<double>"
    ).coalesce(1).write.mode(mode).parquet(f"{path}/centroids")
    book_rows = [
        (j, c, codebooks[j][c]) for j in range(m) for c in range(n_codes)
    ]
    _k_row_df(spark, 
        book_rows, "subspace int, code int, vec array<double>"
    ).coalesce(1).write.mode(mode).parquet(f"{path}/codebooks")


def load_pq_codebooks(spark, path: str) -> PQCodebooks:
    """Read back the codebooks written by :func:`build_ivfpq_index`
    (m × n_codes rows — a driver-side read by design)."""
    rows = spark.read.parquet(f"{path}/codebooks").collect()
    m = 1 + max(r["subspace"] for r in rows)
    n_codes = 1 + max(r["code"] for r in rows)
    books: PQCodebooks = [[None] * n_codes for _ in range(m)]
    for r in rows:
        books[r["subspace"]][r["code"]] = list(r["vec"])
    return books


def ivfpq_topk(
    spark,
    path: str,
    query: Sequence[float],
    k: int = 10,
    *,
    nprobe: int = 1,
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k by ADC over a persisted IVF-PQ index, scanning only the
    probed partition directories of m-int codes.

    Per probed bucket the LUT differs — ADC runs against the QUERY
    RESIDUAL ``q - centroid[b]`` — so the score is a cid-dispatched
    CASE over nprobe literal LUTs (nprobe is small; the expression
    stays a narrow codegen projection). Plan: pruned scan →
    score projection → TakeOrderedAndProject.
    """
    from .similarity import load_ivf_centroids, probe_buckets

    cents = dict(load_ivf_centroids(spark, path))
    books = load_pq_codebooks(spark, path)
    probes = probe_buckets(list(cents.items()), query, nprobe)
    corpus = spark.read.parquet(f"{path}/corpus").where(F.col("cid").isin(probes))
    score = None
    for b in probes:
        resid_q = [q - c for q, c in zip(query, cents[b])]
        branch = adc_score_expr(adc_lut(books, resid_q))
        score = (
            F.when(F.col("cid") == b, branch)
            if score is None
            else score.when(F.col("cid") == b, branch)
        )
    return (
        corpus.select(F.col(id_col).alias(id_col), score.alias("adc_sq_dist"))
        .orderBy(F.col("adc_sq_dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def ivfpq_topk_refined(
    spark,
    path: str,
    vectors: DataFrame,
    query: Sequence[float],
    k: int = 10,
    *,
    nprobe: int = 1,
    refine_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ probe for ``k × refine_factor`` candidates, exact
    squared-distance re-rank from the full-precision ``vectors``
    (broadcast semi-join) — both compression losses (coarse bucket +
    PQ residual) removed for the rows that matter."""
    from ..functions.vectors import sq_dist_to_literal

    if refine_factor < 1:
        raise ValueError(f"refine_factor must be >= 1, got {refine_factor}")
    cand = ivfpq_topk(
        spark, path, query, k=k * refine_factor, nprobe=nprobe, id_col=id_col
    ).select(id_col)
    exact = vectors.join(F.broadcast(cand), id_col)
    score = sq_dist_to_literal(F.col(vec_col).cast("array<double>"), list(query))
    return (
        exact.select(F.col(id_col).alias(id_col), score.alias("sq_dist"))
        .orderBy(F.col("sq_dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def pq_knn_join(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: PQCodebooks,
    k: int = 5,
    *,
    id_col: str = "vec_id",
    query_vec: str = "embedding",
    query_id: str = "vec_id",
) -> DataFrame:
    """For every query row, its k nearest corpus codes by ADC —
    the PQ twin of ``similarity.knn_join``. Returns
    ``(query_id, neighbor_id, rank, adc_sq_dist)``; self-matches
    (equal ids) are excluded, ties break on neighbor id.

    Scale shape: the Q queries collect to the driver (queries are the
    small side by construction, as in ``knn_join``) and their LUTs
    broadcast as ONE (Q, m, n_codes) tensor into a ``mapInPandas``
    kernel that scores each codes batch against ALL queries via numpy
    fancy-indexing — m lookups per (row, query), no distance
    recomputation. Each task emits only its own per-query top-k
    (partitions × Q × k rows), and one final per-query window picks
    the global top-k: corpus codes never shuffle, and the shuffled
    volume is independent of corpus size.
    """
    import numpy as np

    m, n_codes, dsub = _validate_books(codebooks)
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    q_rows = queries.select(
        F.col(query_id).alias("qid"),
        F.col(query_vec).cast("array<double>").alias("qv"),
    ).collect()
    if not q_rows:
        raise ValueError("queries is empty")
    qids = np.array([r["qid"] for r in q_rows])
    LUT = np.asarray(
        [adc_lut(codebooks, list(r["qv"])) for r in q_rows], dtype=np.float64
    )  # (Q, m, n_codes)
    Q = len(qids)
    kk = k + 1  # one extra in case the query id itself is in the batch

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            C = np.asarray(list(pdf["codes"]), dtype=np.int64)  # (B, m)
            ids = pdf["_nid"].to_numpy()
            B = len(ids)
            scores = np.zeros((Q, B))
            for j in range(m):
                # LUT[:, j, :] is (Q, n_codes); fancy-index by the
                # batch's column-j codes → (Q, B) partial distances
                scores += LUT[:, j, C[:, j]]
            top = min(kk, B)
            part = np.argpartition(scores, top - 1, axis=1)[:, :top]
            out_q, out_n, out_s = [], [], []
            for qi in range(Q):
                sel = part[qi]
                out_q.extend([qids[qi]] * top)
                out_n.extend(ids[sel])
                out_s.extend(scores[qi, sel])
            yield pd.DataFrame(
                {"qid": out_q, "neighbor_id": out_n, "adc_sq_dist": out_s}
            )

    src = codes.select(F.col(id_col).alias("_nid"), "codes")
    nid_t = src.schema["_nid"].dataType.simpleString()
    qid_t = queries.schema[query_id].dataType.simpleString()
    partials = src.mapInPandas(
        gen, f"qid {qid_t}, neighbor_id {nid_t}, adc_sq_dist double"
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("adc_sq_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        partials.where(F.col("neighbor_id") != F.col("qid"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"), "neighbor_id", "rank", "adc_sq_dist"
        )
    )


def pq_error_stats(
    df: DataFrame,
    codebooks: PQCodebooks,
    *,
    vec_col: str = "embedding",
) -> DataFrame:
    """One-row reconstruction-error summary (mean / max squared error,
    rows encoded): encode + decode in the same numpy pass, aggregate
    the per-row errors — the PQ twin of
    ``quantize.quantization_error_stats``."""
    import numpy as np

    m, n_codes, dsub = _validate_books(codebooks)
    d = m * dsub
    C = np.asarray(codebooks, dtype=np.float64)
    src = df.select(F.col(vec_col).cast("array<double>").alias("_v"))

    def gen(batches):
        import numpy as np
        import pandas as pd

        cn = (C * C).sum(axis=2)
        for pdf in batches:
            vs = [
                v
                for v in pdf["_v"]
                if v is not None and len(v) == d and not any(x is None for x in v)
            ]
            if not vs:
                continue
            X = np.asarray(vs, dtype=np.float64)
            err = np.zeros(len(X))
            for j in range(m):
                S = X[:, j * dsub : (j + 1) * dsub]
                dist = (
                    (S * S).sum(axis=1)[:, None]
                    - 2.0 * (S @ C[j].T)
                    + cn[j][None, :]
                )
                err += np.maximum(dist.min(axis=1), 0.0)
            yield pd.DataFrame({"sq_err": err})

    errs = src.mapInPandas(gen, "sq_err double")
    return errs.agg(
        F.count("*").alias("n_rows"),
        F.avg("sq_err").alias("mean_sq_err"),
        F.max("sq_err").alias("max_sq_err"),
    )


def expr_codes(resid_col, codebooks: PQCodebooks):
    """Pure-expression PQ encoder: list of (code_j Column) for each
    subspace — ``slice → per-codeword fold'd squared distance →
    first-index argmin``, all whole-stage-codegen'd JVM expressions.

    The Arrow-kernel twin is :func:`encode_pq` (the big-codebook path:
    argmin GEMMs per batch); this expression form is exact and cheap at
    contract-sized books (m·n_codes ≤ a few hundred codewords) and is
    what the hash-gated contracts pin, because DuckDB can reproduce the
    identical fold order (contracts/pq_queries.py docstring).
    """
    from ..functions.vectors import sq_dist_expr

    m, n_codes, dsub = _validate_books(codebooks)
    cols = []
    for j, book in enumerate(codebooks):
        s = F.slice(resid_col, j * dsub + 1, dsub)
        darr = F.array(
            *[
                sq_dist_expr(s, F.array(*[F.lit(float(x)) for x in c]))
                for c in book
            ]
        )
        cols.append((F.array_position(darr, F.array_min(darr)) - 1).cast("long"))
    return cols


def ivfpq_topk_expr(
    df: DataFrame,
    centroids,
    codebooks: PQCodebooks,
    query: Sequence[float],
    k: int = 10,
    *,
    nprobe: int = 1,
    refine_factor: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Index-free IVF-PQ probe + exact re-rank over a LIVE DataFrame —
    the two-stage production ANN pattern (FAISS IVFPQ + refine) as one
    Catalyst plan, no persisted index required:

    1. coarse-assign every vector to its nearest centroid (expression
       argmin) and keep only the ``nprobe`` cells nearest the query —
       the in-plan twin of the persisted index's partition pruning;
    2. PQ-encode the RESIDUAL ``v − centroid[cid]`` with
       :func:`expr_codes` and ADC-score it against the per-cell query
       residual LUT (a cid-dispatched CASE over ``nprobe`` literal
       LUTs);
    3. shortlist the ``k·refine_factor`` best by (ADC, id) —
       TakeOrderedAndProject, deterministic tie-break;
    4. exact squared-distance re-rank of the shortlist from the
       full-precision vectors (broadcast semi-join), top ``k`` by
       (exact, id).

    The persisted-index twin is :func:`ivfpq_topk_refined` (reads only
    the probed partition DIRECTORIES — the 100 TB path); this in-plan
    form exists so the composition is hash-gateable end-to-end and
    usable on transient frames. Returns
    ``(id, adc_sq_dist, sq_dist)`` — both the approximate score that
    chose the row and the exact one that ranked it.
    """
    from ..functions.vectors import sq_dist_to_literal
    from .similarity import probe_buckets

    if refine_factor < 1:
        raise ValueError(f"refine_factor must be >= 1, got {refine_factor}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    cents = sorted(((int(c), [float(v) for v in vec]) for c, vec in centroids))
    probes = probe_buckets(cents, query, nprobe)
    resid = residuals(df, centroids, vec_col=vec_col, id_col=id_col).where(
        F.col("cid").isin(probes)
    )
    code_cols = expr_codes(F.col("residual"), codebooks)
    cmap = dict(cents)
    score = None
    for b in probes:
        resid_q = [q - c for q, c in zip(query, cmap[b])]
        lut = adc_lut(codebooks, resid_q)
        branch = None
        for j, code in enumerate(code_cols):
            lut_lit = F.array(*[F.lit(x) for x in lut[j]])
            term = F.element_at(lut_lit, (code + 1).cast("int"))
            branch = term if branch is None else branch + term
        score = (
            F.when(F.col("cid") == b, branch)
            if score is None
            else score.when(F.col("cid") == b, branch)
        )
    shortlist = (
        resid.select(F.col(id_col), score.alias("adc_sq_dist"))
        .orderBy(F.col("adc_sq_dist").asc(), F.col(id_col).asc())
        .limit(k * refine_factor)
    )
    exact = df.join(F.broadcast(shortlist), id_col)
    sq = sq_dist_to_literal(
        F.col(vec_col).cast("array<double>"), [float(x) for x in query]
    )
    return (
        exact.select(F.col(id_col), "adc_sq_dist", sq.alias("sq_dist"))
        .orderBy(F.col("sq_dist").asc(), F.col(id_col).asc())
        .limit(k)
    )
