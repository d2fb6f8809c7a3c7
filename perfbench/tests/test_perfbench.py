"""Tests of the benchmark's own machinery. None of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import run  # noqa: E402
from spans import Span, Tracer, percentile, self_times, tail_percentile  # noqa: E402
from workloads import CheckFailed, ivf_reference, lloyd_reference, nearest_centroid  # noqa: E402


def _bytes(path):
    with open(path, "rb") as fh:
        return fh.read()


def test_generators_are_deterministic_per_seed(tmp_path):
    a = gen.corpus(7, 300)
    b = gen.corpus(7, 300)
    assert a[0].tolist() == b[0].tolist() and a[1] == b[1] and a[2] == b[2]
    assert gen.corpus(8, 300)[1] != a[1]

    gen.write_corpus(a[0], a[1], str(tmp_path / "a.parquet"))
    gen.write_corpus(b[0], b[1], str(tmp_path / "b.parquet"))
    assert _bytes(tmp_path / "a.parquet") == _bytes(tmp_path / "b.parquet")

    p1 = gen.blobs(7, 500, 8, 4, 1.0)
    p2 = gen.blobs(7, 500, 8, 4, 1.0)
    assert np.array_equal(p1, p2)
    gen.write_vectors(p1, str(tmp_path / "v1.parquet"))
    gen.write_vectors(p2, str(tmp_path / "v2.parquet"))
    assert _bytes(tmp_path / "v1.parquet") == _bytes(tmp_path / "v2.parquet")
    assert np.array_equal(gen.queries_near(3, p1, 5), gen.queries_near(3, p1, 5))


def test_corpus_truth_matches_planted_content():
    ids, texts, truth = gen.corpus(11, 400)
    by_id = dict(zip(ids.tolist(), texts))
    assert len(truth["low_quality"]) == 20
    # 40 exact + 40 near copies, each removed unless it has its group's lowest id
    assert len(truth["removed"]) == 80
    for doc, planted in truth["pii"].items():
        assert planted in by_id[doc]
    assert not set(truth["removed"]) & set(truth["low_quality"])


def test_tail_percentile_leaves_ten_samples_beyond():
    for n in range(11, 1001):
        p = tail_percentile(n)
        # samples 0..n-1: the value v has n - 1 - v samples above it
        beyond = n - 1 - percentile(range(n), p)
        assert beyond >= 10, n
        assert p == 90.0 if n >= 100 else p < 90.0


def test_tail_percentile_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        tail_percentile(10)


def test_percentile_nearest_rank():
    samples = list(range(1, 101))
    assert percentile(samples, 50) == 50
    assert percentile(samples, 90) == 90
    assert percentile([5.0], 90) == 5.0


def test_latency_reports_a_tail_only_with_ten_samples_beyond():
    assert run.latency_ms([0.001] * 10) == {"samples": 10, "p50": 1.0}
    hundred = run.latency_ms([i / 1000 for i in range(1, 101)])
    assert hundred["p90"] == pytest.approx(90.0)
    assert set(run.latency_ms([0.001] * 20)) == {"samples", "p50"}
    assert set(run.latency_ms([0.001] * 30)) == {"samples", "p50", "p66.66"}


def test_self_time_of_nested_spans():
    spans = [
        Span("op", 0.0, 10.0, None, "r"),
        Span("a", 1.0, 4.0, 0, "r"),
        Span("b", 5.0, 9.0, 0, "r"),
        Span("b.inner", 6.0, 7.0, 2, "r"),
    ]
    assert self_times(spans) == pytest.approx([3.0, 3.0, 3.0, 1.0])
    # self times of one tree add up to the root's wall time
    assert sum(self_times(spans)) == pytest.approx(10.0)


def test_self_time_counts_overlapping_children_once():
    spans = [
        Span("op", 0.0, 10.0, None, "r"),
        Span("a", 2.0, 6.0, 0, "r"),
        Span("b", 4.0, 8.0, 0, "r"),
    ]
    assert self_times(spans)[0] == pytest.approx(4.0)


def test_tracer_records_parents_and_can_be_off():
    tr = Tracer("r")
    with tr.span("op"):
        with tr.span("child"):
            pass
        tr.add("marked", 1.0, 2.0)
    assert [(s.name, s.parent) for s in tr.spans] == [
        ("op", None), ("child", 0), ("marked", 0)]
    off = Tracer("r", enabled=False)
    with off.span("op"):
        off.add("x", 0.0, 1.0)
    assert off.spans == []


def test_lloyd_reference_keeps_empty_cluster():
    pts = np.array([[0.0, 0.0], [0.0, 1.0], [10.0, 10.0]])
    init = np.array([[0.0, 0.5], [10.0, 10.0], [100.0, 100.0]])
    cents, sse = lloyd_reference(pts, init, 2)
    assert np.allclose(cents[2], [100.0, 100.0])  # no members: unchanged
    assert sse == pytest.approx(0.5)


def test_ivf_reference_searches_only_probed_cells():
    points = np.array([[1.0, 0.0], [1.0, 0.1], [0.0, 1.0], [0.1, 1.0]])
    centroids = np.array([[1.0, 0.05], [0.05, 1.0]])
    cells = nearest_centroid(points, centroids)
    assert cells.tolist() == [0, 0, 1, 1]
    # the query is nearest centroid 0, so rows 2 and 3 are never scanned
    assert ivf_reference(points, cells, centroids, np.array([1.0, 0.2]), 3, 1) == {0, 1}
    assert ivf_reference(points, cells, centroids, np.array([1.0, 0.2]), 3, 2) == {0, 1, 3}


class _FakeContext:
    def setJobGroup(self, *_):
        pass


class _FakeSpark:
    sparkContext = _FakeContext()


class _FlakyWorkload:
    """Its output fails the check on every other call; the check is slow."""

    name = "fake"

    def __init__(self):
        self.calls = 0
        self.log = {}

    def operation(self, spark, tracer, group):
        self.calls += 1
        return self.calls

    def check(self, out):
        time.sleep(0.05)
        if out % 2 == 0:
            raise CheckFailed("wrong output")


def test_failed_check_shows_in_failed_frac():
    runner = run.Runner(_FlakyWorkload(), "unused")
    runner.spark = _FakeSpark()
    walls, _ = runner.window("timed", Tracer("r", enabled=False), 0)
    walls2, _ = runner.window("timed", Tracer("r", enabled=False), 0)
    assert len(walls) == len(walls2) == 1
    # the check runs after the operation's clock has stopped
    assert max(walls + walls2) < 0.05
    assert runner.attempted == 2 and runner.failed == 1
    result = run.result_line(runner, {})
    assert result["correct"] is False
    assert result["failed"] == 1 and result["attempted"] == 2
    assert runner.failed_frac() == 0.5
