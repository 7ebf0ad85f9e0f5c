"""Span self-time arithmetic."""

import pytest

from spans import Span, Tracer, covered, self_times, totals_by_name


def test_covered_merges_overlaps_and_clips():
    assert covered(0, 10, []) == 0
    assert covered(0, 10, [(1, 3), (2, 5), (7, 8)]) == pytest.approx(5)
    assert covered(0, 10, [(-5, 2), (9, 20)]) == pytest.approx(3)
    assert covered(0, 10, [(3, 3), (6, 4)]) == 0


def test_self_time_is_duration_minus_child_coverage():
    spans = [
        Span(0, "doc", 0.0, 10.0, -1, "u"),
        Span(1, "parse", 1.0, 4.0, 0, "u"),
        Span(2, "walk", 3.0, 6.0, 0, "u"),  # overlaps parse: union 1..6
        Span(3, "inner", 4.0, 5.0, 2, "u"),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(5.0)
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.0)
    tot = totals_by_name(spans)
    assert tot["doc"] == {"count": 1, "total_s": 10.0, "self_s": 5.0}


def test_tracer_records_parents():
    t = Tracer()
    with t.span("a", "x"):
        with t.span("b", "x"):
            pass
        with t.span("c", "x"):
            pass
    with t.span("d", "y"):
        pass
    assert [(s.name, s.parent) for s in t.spans] == [("a", -1), ("b", 0), ("c", 0), ("d", -1)]
    assert all(s.end >= s.start for s in t.spans)
