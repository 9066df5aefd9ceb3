"""Tests for the benchmark's own span arithmetic and job attribution; no
Spark needed.  Run from the repository root:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import pytest

from perfbench.harness import quantile, tail
from perfbench.trace import Job, Span, Tracer, attribute_jobs, layer_totals, self_time, union_length


def _tree(*specs):
    """Spans from (layer, start, end, parent index or None)."""
    spans = [Span(layer, s, e, parent) for layer, s, e, parent in specs]
    for i, sp in enumerate(spans):
        if sp.parent is not None:
            spans[sp.parent].children.append(i)
    return spans


def _job(job_id, submit, end, tasks=1, shuffle=0, spill=0, failed=0):
    return Job(job_id, submit, end, tasks, failed, shuffle, spill)


def test_union_length_merges_overlaps():
    assert union_length([(1, 3), (2, 5), (7, 8)]) == 5
    assert union_length([]) == 0


def test_self_time_subtracts_union_of_children():
    # children overlap each other and one runs past the parent's end
    spans = _tree(("p", 0, 10, None), ("a", 1, 3, 0), ("b", 2, 5, 0), ("c", 8, 12, 0))
    assert self_time(spans[0], spans) == pytest.approx(10 - (4 + 2))
    assert self_time(spans[1], spans) == pytest.approx(2)


def test_jobs_go_to_innermost_span_holding_their_submission():
    spans = _tree(("outer", 0, 10, None), ("inner", 2, 4, 0), ("later", 20, 30, None))
    jobs = [
        _job(0, 1.0, 1.5),  # outer, before the child
        _job(1, 3.0, 3.5),  # inner
        _job(2, 3.9, 9.0),  # inner: submitted inside, ends after it
        _job(3, 15.0, 16.0),  # between spans: no owner
        _job(4, 25.0, 26.0),  # later
    ]
    got = {i: [j.job_id for j in js] for i, js in attribute_jobs(spans, jobs).items()}
    assert got == {0: [0], 1: [1, 2], 2: [4]}


def test_jobs_from_other_threads_attributed_by_time_not_group():
    # a job a pool thread submits while the span is open belongs to it,
    # even when another span opens and closes in between
    spans = _tree(("similarity", 0, 10, None), ("catalog", 1, 2, 0))
    jobs = [_job(7, 5.0, 6.0)]
    assert [j.job_id for j in attribute_jobs(spans, jobs)[0]] == [7]


def test_layer_totals_counts_and_driver_gap():
    spans = _tree(("pipe", 0, 10, None), ("catalog", 1, 2, 0), ("pipe", 20, 21, None))
    spans[2].failed = True
    jobs = [
        _job(0, 3, 5, tasks=4, shuffle=100),
        _job(1, 4, 6, tasks=2, spill=7),
        _job(2, 1.5, 1.8, tasks=1),
    ]
    t = layer_totals(spans, jobs, ["pipe", "catalog", "unused"])
    assert t["pipe"]["calls"] == 2
    assert t["pipe"]["self_s"] == pytest.approx(9 + 1)
    assert t["pipe"]["jobs"] == 2 and t["pipe"]["tasks"] == 6
    assert t["pipe"]["shuffle_write_bytes"] == 100 and t["pipe"]["spill_bytes"] == 7
    # 10 s of self time, of which jobs cover [3, 6]
    assert t["pipe"]["driver_gap_s"] == pytest.approx(10 - 3)
    assert t["pipe"]["failed"] == 1
    assert t["catalog"]["jobs"] == 1 and t["catalog"]["driver_gap_s"] == pytest.approx(1 - 0.3)
    assert t["unused"]["calls"] == 0


class _Reader:
    def __init__(self):
        self.calls = 0

    def new_jobs(self):
        self.calls += 1
        return []


def test_tracer_nests_pulls_jobs_after_outermost_and_marks_failures():
    reader = _Reader()
    tr = Tracer(reader)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
        assert reader.calls == 0
    assert reader.calls == 1
    with pytest.raises(ValueError):
        with tr.span("boom"):
            raise ValueError
    assert [s.layer for s in tr.spans] == ["outer", "inner", "boom"]
    assert tr.spans[0].children == [1] and tr.spans[1].parent == 0
    assert tr.spans[2].failed and not tr.spans[0].failed


def test_disabled_tracer_records_nothing():
    tr = Tracer(_Reader())
    tr.enabled = False
    with tr.span("x") as sp:
        assert sp is None
    assert tr.spans == []


@pytest.mark.parametrize("n,level", [(20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0), (1000, 99.0)])
def test_tail_level_keeps_ten_samples_beyond(n, level):
    value, p, count = tail([float(i) for i in range(n)])
    assert (p, count) == (level, n)
    assert sum(1 for i in range(n) if i > value) >= 10


@pytest.mark.parametrize("n", [1, 2, 14, 19])
def test_tail_with_few_samples_is_the_p90_estimate(n):
    xs = [float(i) for i in range(n)]
    value, p, count = tail(xs)
    assert (p, count) == (90.0, n)
    assert value == quantile(xs, 0.9)
    # it leans on the top samples without being the largest alone
    assert n == 1 or xs[max(0, n - 4)] < value < xs[-1]


def test_quantile_matches_order_statistics_on_uniform_grid():
    xs = [float(i) for i in range(101)]
    assert quantile(xs, 0.5) == pytest.approx(50.0, abs=1e-6)
    assert 89.5 < quantile(xs, 0.9) < 91.5
    assert quantile([3.0], 0.5) == 3.0
    # symmetric samples: the estimate of the median is their centre
    assert quantile([1.0, 2.0, 10.0, 18.0, 19.0], 0.5) == pytest.approx(10.0, abs=1e-6)
