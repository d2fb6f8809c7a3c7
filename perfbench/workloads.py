"""The benchmark's workloads, driven through the engine's public API.

Each workload generates its inputs from the seed, then exposes one
*operation* that the runner repeats. Every operation's output is checked
against a NumPy reference or the planted truth; a check that fails
counts the operation as failed.

Why these two (each stresses layers the other bypasses):

- ``kmeans_ivf``: the vector path end to end. A K-Means fit on Gaussian
  blobs (the fused ``mapInPandas`` Lloyd kernel and its iteration loop),
  an IVF index built from the fitted centroids (the ``argmin_centroid``
  expression kernel and a partitioned parquet write), then closed-loop
  top-10 queries (small pruned reads scored by ``cosine_similarity_expr``,
  whose cost is mostly scheduling). No text and no shuffle-heavy joins.
- ``corpus_dedup``: text regexes, the quality gate, shuffles and the
  MinHash-LSH / Jaccard / connected-components passes; no vector math.
  The planted duplicate share is the input property dedup cost follows.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

import numpy as np

import gen
from spans import Tracer

# Input sizes. One operation takes 7-11 s on a shared 4-vCPU machine.
# Spark tasks keep the cores busy for under a third of that (the detail
# line's ``task_slot_frac``); the rest is per-job scheduling and driver
# code, which doubling the input barely changes. A run (JVM start, a cold
# warm-up operation, two timed ones and the set-ups) takes about a
# minute, which is what the benchmark's run budget allows.
VECTORS = dict(n=24_000, dim=32, blobs=16, lists=16, max_iter=4, nprobe=4, k=10, queries=3)
# Blob centres sit about as far apart as the noise is wide: Lloyd's
# assignments still change after every one of ``max_iter`` iterations (so
# each fit does the same work), yet nearest neighbours stay in few lists.
BLOB_SPREAD = 0.7
DEDUP_DOCS = 3_000

#: Correctness floors. Dedup must find the planted duplicates and nothing
#: else.
DEDUP_MIN_PRECISION = 0.99
DEDUP_MIN_RECALL = 0.99
#: IVF recall@10 against brute force, at nprobe=4 of 16 lists, ranges from
#: 0.4 to 1.0 per query depending on the seed, so a fixed floor on a few
#: queries would either fail good runs or pass broken ones. The floor is
#: the recall an exact NumPy IVF over the same lists reaches on the same
#: queries, less this slack (one neighbour of one query in an operation).
IVF_RECALL_SLACK = 0.05
#: Relative tolerance between the engine's and NumPy's centroids and SSE:
#: both sum float64 in a different order, nothing more.
KMEANS_RTOL = 1e-9
#: What the redaction stage puts in place of each kind of PII.
PII_TOKENS = ("<EMAIL>", "<PHONE>", "<IP>", "<ID>")


class CheckFailed(Exception):
    """An operation's output disagrees with the reference."""


def _require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


@contextmanager
def patched(module, name: str, wrapper):
    """Temporarily replace ``module.name`` with ``wrapper(original)``.

    The traced run uses this to put spans around the public functions
    that the engine's composite operators call by module-level name."""
    original = getattr(module, name)
    setattr(module, name, wrapper(original))
    try:
        yield
    finally:
        setattr(module, name, original)


def _spanned(tracer: Tracer, span_name: str, materialize: bool = False, on_result=None):
    """Wrapper factory for :func:`patched`: a span around each call.

    Spark plans are lazy, so a function that returns a DataFrame has done
    almost none of its work when it returns. With ``materialize`` the
    result is checkpointed inside the span, which charges the work to the
    layer that built the plan. This changes the traced run's plan; the
    difference shows as tracing overhead."""

    def wrap(fn):
        def inner(*args, **kwargs):
            with tracer.span(span_name):
                out = fn(*args, **kwargs)
                if materialize:
                    out = out.localCheckpoint(eager=True)
            if on_result is not None:
                on_result(out)
            return out

        return inner

    return wrap


# --------------------------------------------------------------------------
# NumPy references
# --------------------------------------------------------------------------


def nearest_centroid(points: np.ndarray, centroids: np.ndarray) -> np.ndarray:
    """Row index of each point's nearest centroid (ties to the lower)."""
    d = (points**2).sum(axis=1)[:, None] - 2.0 * points @ centroids.T
    return np.argmin(d + (centroids**2).sum(axis=1)[None, :], axis=1)


def lloyd_reference(points: np.ndarray, init: np.ndarray, iterations: int):
    """Lloyd's algorithm in NumPy with the engine's policies: lowest id
    wins ties, an empty cluster keeps its previous centroid, and SSE is
    taken against the final centroids. Returns ``(centroids, sse)``."""
    c = init.copy()
    for _ in range(iterations):
        idx = nearest_centroid(points, c)
        for j in range(len(c)):
            members = points[idx == j]
            if len(members):
                c[j] = members.mean(axis=0)
    idx = nearest_centroid(points, c)
    sse = float(((points - c[idx]) ** 2).sum())
    return c, sse


def cosine_topk(points: np.ndarray, query: np.ndarray, k: int, rows=None) -> set[int]:
    """Exact cosine top-``k`` row ids (ties to the lower id), over all
    rows or over the row ids in ``rows``."""
    rows = np.arange(len(points)) if rows is None else rows
    cand = points[rows]
    s = (cand / np.linalg.norm(cand, axis=1, keepdims=True)) @ (query / np.linalg.norm(query))
    return set(rows[np.lexsort((rows, -s))[:k]].tolist())


def ivf_reference(points, cells, centroids, query, k: int, nprobe: int) -> set[int]:
    """Exact IVF search in NumPy: rows whose cell (``cells``, from
    :func:`nearest_centroid`) is one of the ``nprobe`` centroids nearest
    the query (ties to the lower id), then cosine top-``k`` among them."""
    qd = ((centroids - query) ** 2).sum(axis=1)
    probes = np.lexsort((np.arange(len(centroids)), qd))[:nprobe]
    return cosine_topk(points, query, k, np.flatnonzero(np.isin(cells, probes)))


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------


class Workload:
    """One workload: ``generate`` writes inputs, ``operation`` runs one
    operation over the whole input and returns its outputs, and ``check``
    compares those with the reference after the operation's clock has
    stopped."""

    name = ""
    #: column expression the warm-up scan aggregates, forcing a full read
    scan_expr = ""

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        #: the generated parquet file: ``path``, ``rows`` and ``bytes``
        self.input: dict = {}
        #: per-window record of what operations measured or counted; the
        #: runner gives each window a fresh one
        self.log: dict[str, list] = {}

    def generate(self) -> None:
        raise NotImplementedError

    def operation(self, spark, tracer: Tracer, group: str):
        raise NotImplementedError

    def check(self, out) -> None:
        """Raise :class:`CheckFailed` if ``out`` is wrong."""
        raise NotImplementedError

    def _note(self, key: str, value) -> None:
        self.log.setdefault(key, []).append(value)

    def _record(self, path: str, rows: int, nbytes: int) -> None:
        self.input = {"path": path, "rows": rows, "bytes": nbytes}


def add_fit_spans(tracer: Tracer, start: float, marks: list[float], end: float) -> None:
    """Child spans of a ``kmeans_fit`` span from its ``on_iteration``
    marks: the first iteration (which also fills the input cache), each
    later iteration, and the final SSE pass after the last iteration."""
    if not marks:
        return
    tracer.add("operators.kmeans.first_iter", start, marks[0])
    for a, b in zip(marks, marks[1:]):
        tracer.add("operators.kmeans.iter", a, b)
    tracer.add("operators.kmeans.final_sse", marks[-1], end)


class CorpusDedup(Workload):
    name = "corpus_dedup"
    scan_expr = "sum(length(text))"

    def generate(self):
        ids, texts, self.truth = gen.corpus(self.seed, DEDUP_DOCS)
        path = os.path.join(self.work, "corpus.parquet")
        self._record(path, len(ids), gen.write_corpus(ids, texts, path))
        self.all_ids = set(ids.tolist())

    def operation(self, spark, tracer, group):
        from k_means_using_mapreduce_spark.operators.pipeline import prepare_corpus

        df = spark.read.parquet(self.input["path"])
        if tracer.enabled:
            return self._traced(prepare_corpus, df, tracer)
        out, _ = prepare_corpus(df)
        return out.select("doc_id", "text").collect()

    def _traced(self, prepare_corpus, df, tracer):
        """prepare_corpus with a span around each stage function it calls.

        Redaction and the quality gate are inline column expressions in
        prepare_corpus, evaluated by the checkpoint just before exact
        dedup; their span runs from entry to the exact-dedup call."""
        from k_means_using_mapreduce_spark.operators import dedup, dedup_pipeline, pipeline

        entered = [0.0]

        def gate_then(span_name):
            def wrap(fn):
                spanned = _spanned(tracer, span_name, materialize=True)(fn)

                def inner(*a, **kw):
                    tracer.add("functions.text.quality_gate", entered[0], time.perf_counter())
                    return spanned(*a, **kw)

                return inner

            return wrap

        def count(key, df):
            # a job of the tracing itself, kept out of the layers' self time
            with tracer.span("trace.count"):
                self._note(key, df.count())

        def components(fn):
            spanned = _spanned(
                tracer, "operators.dedup_pipeline.connected_components", materialize=True
            )(fn)

            def inner(pairs, *a, **kw):
                count("verified_pairs", pairs)
                return spanned(pairs, *a, **kw)

            return inner

        with (
            patched(pipeline, "dedup_exact", gate_then("operators.dedup.dedup_exact")),
            patched(dedup, "shingle_rows", _spanned(tracer, "operators.dedup.shingle_rows", True)),
            patched(
                pipeline, "near_dedup",
                _spanned(tracer, "operators.dedup_pipeline.near_dedup", True),
            ),
            patched(
                dedup_pipeline, "minhash_candidate_pairs",
                _spanned(
                    tracer, "operators.dedup.minhash_candidate_pairs", True,
                    lambda out: count("candidate_pairs", out),
                ),
            ),
            patched(
                dedup_pipeline, "jaccard_pairs",
                _spanned(tracer, "operators.dedup.jaccard_pairs", True),
            ),
            patched(dedup_pipeline, "connected_components", components),
        ):
            with tracer.span("operators.pipeline.prepare_corpus"):
                entered[0] = time.perf_counter()
                out, _ = prepare_corpus(df)
            with tracer.span("operators.pipeline.collect"):
                rows = out.select("doc_id", "text").collect()
        return rows

    def check(self, rows):
        kept = {int(r["doc_id"]) for r in rows}
        _require(not kept & set(self.truth["low_quality"]), "a low-quality doc survived")
        removed = self.all_ids - kept - set(self.truth["low_quality"])
        planted = set(self.truth["removed"])
        hit = len(removed & planted)
        precision = hit / len(removed) if removed else 0.0
        recall = hit / len(planted)
        self._note("dedup_precision", precision)
        self._note("dedup_recall", recall)
        _require(precision >= DEDUP_MIN_PRECISION, f"dedup precision {precision:.4f}")
        _require(recall >= DEDUP_MIN_RECALL, f"dedup recall {recall:.4f}")
        for r in rows:
            planted = self.truth["pii"].get(int(r["doc_id"]))
            if planted is not None:
                _require(
                    planted not in r["text"] and any(p in r["text"] for p in PII_TOKENS),
                    f"doc {r['doc_id']}: PII not redacted",
                )


class KMeansIvf(Workload):
    name = "kmeans_ivf"
    scan_expr = "sum(size(embedding))"

    def generate(self):
        p = VECTORS
        self.points = gen.blobs(self.seed, p["n"], p["dim"], p["blobs"], BLOB_SPREAD)
        path = os.path.join(self.work, "vectors.parquet")
        self._record(path, p["n"], gen.write_vectors(self.points, path))
        # initial centroids: distinct input rows picked by the seed
        rng = np.random.default_rng(self.seed + 1)
        self.init = self.points[rng.choice(p["n"], size=p["lists"], replace=False)]
        self.ref_centroids, self.ref_sse = lloyd_reference(self.points, self.init, p["max_iter"])
        # enough distinct queries that none repeats within one run
        self.queries = gen.queries_near(self.seed + 2, self.points, 50 * p["queries"])
        self.index = os.path.join(self.work, "ivf_index")
        self.next_query = 0

    def operation(self, spark, tracer, group):
        from pyspark.sql import functions as F

        from k_means_using_mapreduce_spark.operators import kmeans_fit, similarity

        p = VECTORS
        sc = spark.sparkContext
        sc.setJobGroup(f"{group}:build", "fit and index build")
        df = spark.read.parquet(self.input["path"])
        marks: list[float] = []
        t0 = time.perf_counter()
        with tracer.span("operators.kmeans.kmeans_fit"):
            res = kmeans_fit(
                df.select(F.col("embedding").alias("features")),
                p["lists"],
                max_iter=p["max_iter"],
                tol=0.0,
                initial_centroids=[(i + 1, list(v)) for i, v in enumerate(self.init)],
                on_iteration=lambda _i, _c: marks.append(time.perf_counter()),
            )
            add_fit_spans(tracer, t0, marks, time.perf_counter())
        self._note("fit_s", time.perf_counter() - t0)
        self._note("iterations", res.iterations)
        with tracer.span("operators.similarity.build_ivf_index"):
            similarity.build_ivf_index(df, res.centroids, self.index)
        self._note("index_build_s", time.perf_counter() - t0)

        sc.setJobGroup(f"{group}:query", "ivf queries")
        probed: list[list[int]] = []
        answers = []
        with (
            patched(
                similarity, "load_ivf_centroids",
                _spanned(tracer, "operators.similarity.load_ivf_centroids"),
            ),
            patched(
                similarity, "probe_buckets",
                _spanned(tracer, "operators.similarity.probe_buckets", on_result=probed.append),
            ),
        ):
            for _ in range(p["queries"]):
                qi = self.next_query % len(self.queries)
                self.next_query += 1
                t = time.perf_counter()
                with tracer.span("operators.similarity.ivf_topk_pruned"):
                    rows = similarity.ivf_topk_pruned(
                        spark, self.index, [float(v) for v in self.queries[qi]],
                        k=p["k"], nprobe=p["nprobe"],
                    ).collect()
                self._note("query_s", time.perf_counter() - t)
                answers.append((qi, rows, probed[-1]))
        return res, answers

    def check(self, out) -> None:
        res, answers = out
        p = VECTORS
        self._check_fit(res)
        sizes = self._check_index()
        centroids = np.asarray([vec for _, vec in sorted(res.centroids)])
        cells = nearest_centroid(self.points, centroids)
        recalls, floor = [], []
        for qi, rows, probes in answers:
            scores = [r["score"] for r in rows]
            _require(len(rows) == p["k"], f"query returned {len(rows)} rows")
            _require(scores == sorted(scores, reverse=True), "results not ranked")
            self._note("rows_scanned", sum(sizes.get(c, 0) for c in probes))
            query = self.queries[qi]
            truth = cosine_topk(self.points, query, p["k"])
            ivf = ivf_reference(self.points, cells, centroids, query, p["k"], p["nprobe"])
            recalls.append(len(truth & {int(r["vec_id"]) for r in rows}) / p["k"])
            floor.append(len(truth & ivf) / p["k"])
        self.log.setdefault("recall_at_10", []).extend(recalls)
        _require(
            np.mean(recalls) >= np.mean(floor) - IVF_RECALL_SLACK,
            f"recall@{p['k']} {np.mean(recalls):.3f}, exact IVF reaches {np.mean(floor):.3f}",
        )

    def _check_fit(self, res) -> None:
        p = VECTORS
        _require(res.iterations == p["max_iter"], f"ran {res.iterations} iterations")
        got = np.asarray([vec for _, vec in sorted(res.centroids)])
        _require(
            np.allclose(got, self.ref_centroids, rtol=KMEANS_RTOL, atol=KMEANS_RTOL),
            "centroids differ from the NumPy Lloyd replica",
        )
        _require(
            abs(res.sse - self.ref_sse) <= KMEANS_RTOL * self.ref_sse,
            f"SSE {res.sse} != NumPy {self.ref_sse}",
        )

    def _check_index(self) -> dict[int, int]:
        """Rows per IVF list, read from the index's parquet footers; the
        lists must hold every input row exactly once."""
        import pyarrow.parquet as pq

        corpus = os.path.join(self.index, "corpus")
        sizes: dict[int, int] = {}
        nbytes = 0
        for d in os.listdir(corpus):
            if not d.startswith("cid="):
                continue
            cid = int(d.split("=", 1)[1])
            for f in os.listdir(os.path.join(corpus, d)):
                if f.endswith(".parquet"):
                    path = os.path.join(corpus, d, f)
                    sizes[cid] = sizes.get(cid, 0) + pq.ParquetFile(path).metadata.num_rows
                    nbytes += os.path.getsize(path)
        self._note("index_bytes", nbytes)
        rows = sum(sizes.values())
        _require(rows == self.input["rows"], f"index holds {rows} of {self.input['rows']} rows")
        return sizes


WORKLOADS = {w.name: w for w in (KMeansIvf, CorpusDedup)}
