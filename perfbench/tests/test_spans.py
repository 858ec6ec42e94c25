"""Self time: a span's duration minus the union of its children's
intervals, so overlapping children are not subtracted twice."""

import pytest

from spans import Span, Tracer, covered, load, self_time, self_times


def span(sid, name, start, end, parent=None):
    return Span(sid, name, start, end, parent, "r")


def test_covered_counts_overlap_once():
    assert covered([(0, 2), (1, 3)], 0, 10) == 3


def test_covered_nested_interval_adds_nothing():
    assert covered([(0, 5), (1, 2)], 0, 10) == 5


def test_covered_interval_inside_an_earlier_one_then_past_it():
    assert covered([(0, 4), (1, 2), (3, 5)], 0, 10) == 5


def test_covered_clips_to_the_span():
    assert covered([(-1, 1), (9, 12)], 0, 10) == 2


def test_covered_disjoint_and_empty():
    assert covered([(1, 2), (4, 6)], 0, 10) == 3
    assert covered([], 0, 10) == 0


def test_self_time_with_overlapping_children():
    parent = span(0, "p", 0.0, 10.0)
    kids = [span(1, "a", 1.0, 4.0, 0), span(2, "b", 3.0, 6.0, 0), span(3, "c", 8.0, 9.0, 0)]
    # children cover [1, 6] and [8, 9]: 6 of the 10 seconds
    assert self_time(parent, kids) == pytest.approx(4.0)


def test_self_times_sums_per_name_and_counts_only_direct_children():
    spans = [
        span(0, "query", 0.0, 10.0),
        span(1, "ops.build", 0.0, 4.0, 0),
        span(2, "exec.action", 2.0, 8.0, 0),  # overlaps ops.build
        span(3, "inner", 5.0, 7.0, 2),
        span(4, "query", 20.0, 21.0),
    ]
    out = self_times(spans)
    assert out["query"] == pytest.approx(2.0 + 1.0)
    assert out["ops.build"] == pytest.approx(4.0)
    assert out["exec.action"] == pytest.approx(4.0)
    assert out["inner"] == pytest.approx(2.0)


def test_tracer_records_parents_and_round_trips(tmp_path):
    tr = Tracer(enabled=True, run="pass:1")
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    off = Tracer(enabled=False)
    with off.span("ignored"):
        pass
    assert off.spans == []
    path = tmp_path / "spans.jsonl"
    tr.dump(path)
    outer, inner = load(path)
    assert (outer.name, outer.parent, inner.name, inner.parent) == ("outer", None, "inner", 0)
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert inner.run == "pass:1"
