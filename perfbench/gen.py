"""Seeded input generators for the benchmark workloads.

Everything here is NumPy + pyarrow: no Spark, so the generators can be
tested on their own. The generators return the data and the planted
truth the correctness checks compare against; the ``write_*`` functions
store the data as parquet, and the program under test only ever sees
those files. The same seed gives byte-identical files.
"""

from __future__ import annotations

import os
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row groups per parquet file: enough that a scan splits into one task
# per core on a small machine, instead of one task for the whole file.
ROW_GROUPS = 8

#: English stopwords. The quality gate scores a document's stopword
#: ratio, so "good" documents must contain them.
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"]

#: Shares of the corpus: exact copies, one-word near copies, partial
#: overlaps and low-quality docs; and the share of originals with PII.
EXACT_FRAC = 0.10
NEAR_FRAC = 0.10
PARTIAL_FRAC = 0.05
LOW_QUALITY_FRAC = 0.05
PII_FRAC = 0.05
VOCAB_SIZE = 20_000
#: Distinct values of the corpus's ``source`` column.
SOURCES = 4
#: Standard deviation of the noise added to a data point to make a query.
QUERY_NOISE = 0.5


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(
        table, path, row_group_size=max(1, -(-table.num_rows // ROW_GROUPS))
    )
    return os.path.getsize(path)


# --------------------------------------------------------------------------
# vectors
# --------------------------------------------------------------------------


def blobs(seed: int, n: int, dim: int, k: int, spread: float) -> np.ndarray:
    """``n`` float64 points in ``dim`` dimensions: unit Gaussian noise
    around ``k`` centres, which are themselves drawn with standard
    deviation ``spread``."""
    rng = np.random.default_rng(seed)
    centres = rng.normal(0.0, spread, size=(k, dim))
    return centres[rng.integers(0, k, size=n)] + rng.normal(0.0, 1.0, size=(n, dim))


def write_vectors(points: np.ndarray, path: str) -> int:
    """Write ``(vec_id bigint, embedding array<double>)`` parquet; returns
    the file's size in bytes."""
    n, dim = points.shape
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(points.reshape(-1), type=pa.float64()), dim
    ).cast(pa.list_(pa.float64()))
    table = pa.table({"vec_id": pa.array(np.arange(n), pa.int64()), "embedding": emb})
    return _write(table, path)


def queries_near(seed: int, points: np.ndarray, q: int):
    """``q`` query vectors, each a copy of a random input point with
    Gaussian noise of standard deviation :data:`QUERY_NOISE`, so every
    query has near neighbours in the data."""
    rng = np.random.default_rng(seed)
    picks = rng.integers(0, len(points), size=q)
    return points[picks] + rng.normal(0.0, QUERY_NOISE, size=(q, points.shape[1]))


# --------------------------------------------------------------------------
# text corpus
# --------------------------------------------------------------------------


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    letters = np.array(list(string.ascii_lowercase))
    words: set[str] = set()
    while len(words) < size:
        n = size - len(words)
        lengths = rng.integers(4, 10, size=n)
        chars = rng.choice(letters, size=(n, 9))
        words.update("".join(row[:k]) for row, k in zip(chars, lengths))
    # a set iterates in hash order, which varies between processes
    return sorted(words - set(STOPWORDS))


def _pii(rng: np.random.Generator, i: int) -> str:
    kind = int(rng.integers(0, 4))
    if kind == 0:
        return f"user{i}.{int(rng.integers(1000, 9999))}@example.com"
    if kind == 1:
        return f"+1-{int(rng.integers(200, 999))}-555-{int(rng.integers(1000, 9999))}"
    if kind == 2:
        return ".".join(str(int(v)) for v in rng.integers(1, 255, size=4))
    return str(int(rng.integers(10**8, 10**9)))


def corpus(seed: int, n_docs: int):
    """A document corpus with planted duplicates.

    Of ``n_docs`` documents, :data:`EXACT_FRAC` are byte-identical copies
    of an original, :data:`NEAR_FRAC` are copies with one word replaced,
    :data:`PARTIAL_FRAC` share their first two thirds with an original
    (word 3-gram Jaccard near 0.5: often LSH candidates, never
    duplicates), :data:`LOW_QUALITY_FRAC` are short symbol strings that
    fail the quality gate, and :data:`PII_FRAC` of the originals carry
    one e-mail, phone number, IPv4 address or long digit run. Doc ids are a random
    permutation, so a copy can have a lower id than its original.

    Returns ``(ids, texts, truth)`` where ``truth`` holds the sorted
    ``low_quality`` ids, the ``removed`` ids (every member of a duplicate
    group except the lowest id, which dedup keeps) and ``pii``, a map
    from each original's id to the PII string planted in it.
    """
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng, VOCAB_SIZE)
    # Zipf-like word frequencies: shared frequent words make LSH do real
    # candidate work, while 3-word shingles of unrelated docs rarely match
    cdf = np.cumsum(1.0 / (np.arange(len(vocab)) + 20.0))
    cdf /= cdf[-1]

    n_exact = int(n_docs * EXACT_FRAC)
    n_near = int(n_docs * NEAR_FRAC)
    n_partial = int(n_docs * PARTIAL_FRAC)
    n_low = int(n_docs * LOW_QUALITY_FRAC)
    n_orig = n_docs - n_exact - n_near - n_partial - n_low

    def words(length: int) -> list[str]:
        picks = np.minimum(np.searchsorted(cdf, rng.random(length), side="right"), len(cdf) - 1)
        toks = [vocab[w] for w in picks]
        spots = np.flatnonzero(rng.random(length) < 0.3)
        for j, w in zip(spots, rng.integers(0, len(STOPWORDS), size=len(spots))):
            toks[j] = STOPWORDS[w]
        return toks

    originals: list[list[str]] = []
    pii_rows = set(rng.choice(n_orig, size=int(n_orig * PII_FRAC), replace=False).tolist())
    pii: dict[int, str] = {}
    for i in range(n_orig):
        length = int(rng.integers(60, 121))
        toks = words(length)
        if i in pii_rows:
            pii[i] = _pii(rng, i)
            toks.insert(int(rng.integers(0, length)), pii[i])
        originals.append(toks)

    texts = [" ".join(t) for t in originals]
    group = list(range(n_orig))  # row -> original row (or -1 for low quality)
    for _ in range(n_exact):
        src = int(rng.integers(0, n_orig))
        texts.append(texts[src])
        group.append(src)
    for _ in range(n_near):
        src = int(rng.integers(0, n_orig))
        toks = list(originals[src])
        pos = int(rng.integers(0, len(toks)))
        new = toks[pos]
        while new == toks[pos]:
            new = vocab[int(rng.integers(0, len(vocab)))]
        toks[pos] = new
        texts.append(" ".join(toks))
        group.append(src)
    for j in range(n_partial):
        src = originals[int(rng.integers(0, n_orig))]
        keep = len(src) * 2 // 3
        texts.append(" ".join(src[:keep] + words(len(src) - keep)))
        group.append(n_orig + j)  # a group of its own: not a duplicate
    symbols = np.array(list("#$%&*+-=/|~^"))
    for _ in range(n_low):
        toks = [
            "".join(rng.choice(symbols, size=int(rng.integers(2, 6))))
            for _ in range(int(rng.integers(3, 9)))
        ]
        texts.append(" ".join(toks))
        group.append(-1)

    ids = rng.permutation(n_docs).astype(np.int64)
    members: dict[int, list[int]] = {}
    for row, g in enumerate(group):
        if g >= 0:
            members.setdefault(g, []).append(int(ids[row]))
    removed = sorted(
        d for m in members.values() if len(m) > 1 for d in m if d != min(m)
    )
    truth = {
        "low_quality": sorted(int(ids[r]) for r, g in enumerate(group) if g < 0),
        "removed": removed,
        "pii": {int(ids[r]): v for r, v in sorted(pii.items())},
    }
    order = np.argsort(ids)  # write in id order, like an ingested table
    return ids[order], [texts[i] for i in order], truth


def write_corpus(ids: np.ndarray, texts: list[str], path: str) -> int:
    """Write ``(doc_id, source, text)`` parquet; returns its byte size."""
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "source": pa.array([f"src{int(i) % SOURCES}" for i in ids]),
            "text": pa.array(texts, pa.string()),
        }
    )
    return _write(table, path)
