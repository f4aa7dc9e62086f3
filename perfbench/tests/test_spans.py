import pytest

from perfbench.spans import (Job, Span, length, self_region, subtract,
                             summarize, union)


def test_interval_arithmetic():
    assert union([(3, 4), (0, 2), (1, 3)]) == [(0, 4)]
    assert subtract([(0, 10)], [(2, 3), (5, 7)]) == [(0, 2), (3, 5), (7, 10)]
    assert length([(0, 2), (1, 3), (5, 6)]) == 4


def _tree():
    # root [0, 10] with children a [1, 4] and b [5, 9]; a has child c [2, 3]
    spans = [Span("root", 0.0, 10.0, None, [1, 3]),
             Span("a", 1.0, 4.0, 0, [2]),
             Span("c", 2.0, 3.0, 1, []),
             Span("b", 5.0, 9.0, 0, [])]
    return spans


def test_self_time_subtracts_children():
    spans = _tree()
    assert length(self_region(spans[0], spans)) == pytest.approx(3.0)
    assert length(self_region(spans[1], spans)) == pytest.approx(2.0)
    assert length(self_region(spans[2], spans)) == pytest.approx(1.0)
    assert length(self_region(spans[3], spans)) == pytest.approx(4.0)


def test_jobs_go_to_innermost_span_and_driver_time_excludes_them():
    spans = _tree()
    jobs = [Job(0, 0.5, 0.9, 1.5, 100),    # root self
            Job(1, 2.2, 2.6, 0.7, 0),      # c
            Job(2, 3.5, 3.8, 0.2, 10),     # a, after c
            Job(3, 5.5, 6.5, 2.0, 0),      # b
            Job(4, 6.0, 7.0, 1.0, 5)]      # b, overlapping job 3
    out = summarize(spans, jobs, names=["root", "a", "b", "c", "unused"])
    assert out["root"]["jobs"] == 1
    assert out["root"]["self_s"] == pytest.approx(3.0)
    assert out["root"]["driver_s"] == pytest.approx(3.0 - 0.4)
    assert out["root"]["shuffle_bytes"] == 100
    assert out["a"]["jobs"] == 1
    assert out["a"]["driver_s"] == pytest.approx(2.0 - 0.3)
    assert out["c"]["jobs"] == 1
    assert out["c"]["driver_s"] == pytest.approx(1.0 - 0.4)
    # b: union of [5.5, 6.5] and [6, 7] is 1.5 s busy out of 4 s
    assert out["b"]["jobs"] == 2
    assert out["b"]["executor_s"] == pytest.approx(3.0)
    assert out["b"]["driver_s"] == pytest.approx(2.5)
    assert out["unused"] == dict.fromkeys(out["unused"], 0)
    assert out["unused"]["calls"] == 0


def test_calls_and_self_time_sum_over_calls():
    spans = [Span("x", 0.0, 1.0), Span("x", 2.0, 2.5)]
    out = summarize(spans, [])
    assert out["x"]["calls"] == 2
    assert out["x"]["self_s"] == pytest.approx(1.5)
    assert out["x"]["driver_s"] == pytest.approx(1.5)
