"""Span self-time: a span's duration minus the union of the intervals
its children cover inside it."""

import pytest

from tracing import Span, covered, self_time


def span(name, a, b, *children):
    s = Span(name, a, b, 0)
    s.children.extend(children)
    return s


def test_no_children_is_whole_span():
    assert self_time(span("op", 0.0, 2.0)) == 2.0


def test_disjoint_children_are_subtracted():
    s = span("op", 0.0, 10.0, span("plans", 1.0, 3.0), span("fetch", 5.0, 6.0))
    assert self_time(s) == pytest.approx(7.0)


def test_overlapping_children_count_once():
    s = span("op", 0.0, 10.0, span("a", 1.0, 5.0), span("b", 4.0, 6.0), span("c", 4.5, 5.5))
    assert self_time(s) == pytest.approx(5.0)


def test_children_are_clipped_to_the_parent():
    s = span("op", 2.0, 4.0, span("a", 0.0, 3.0), span("b", 3.5, 9.0))
    assert self_time(s) == pytest.approx(0.5)


def test_fully_covered_span_has_zero_self_time():
    s = span("op", 0.0, 1.0, span("a", 0.0, 0.6), span("b", 0.6, 1.0))
    assert self_time(s) == pytest.approx(0.0)


def test_covered_ignores_empty_intervals():
    assert covered([(3.0, 3.0), (5.0, 4.0)], 0.0, 10.0) == 0.0
