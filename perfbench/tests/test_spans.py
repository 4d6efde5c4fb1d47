import pytest

from spans import Span, Tracer, covered, median, self_time, tail


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    values = [float(v) for v in range(1, 101)]  # 1..100, shuffled below
    values = values[::2] + values[1::2]
    pct, v = tail(values)
    assert (pct, v) == (90.0, 90.0)  # 91..100 lie beyond it
    assert sum(x > v for x in values) == 10


def test_tail_with_eleven_samples_is_the_smallest():
    pct, v = tail([5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0])
    assert v == 1.0
    assert pct == pytest.approx(100 / 11)


def test_tail_needs_more_samples_than_beyond():
    with pytest.raises(ValueError):
        tail([1.0] * 10)


def test_median():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(-5, 1), (9, 20)], 0, 10) == 2
    assert covered([(3, 3), (4, 2)], 0, 10) == 0
    assert covered([], 0, 10) == 0


def _span(i, start, end, parent):
    return Span(i, f"s{i}", start, end, parent, "r")


def test_self_time_subtracts_direct_children_only():
    spans = [
        _span(0, 0.0, 10.0, None),
        _span(1, 1.0, 4.0, 0),
        _span(2, 3.0, 6.0, 0),  # overlaps its sibling: 1..6 covered
        _span(3, 1.5, 2.0, 1),  # grandchild: already inside span 1
    ]
    assert self_time(spans[0], spans) == pytest.approx(5.0)
    assert self_time(spans[1], spans) == pytest.approx(2.5)
    assert self_time(spans[3], spans) == pytest.approx(0.5)


def test_tracer_records_parents_and_disabled_records_nothing():
    t = Tracer("run", True)
    with t.span("a"):
        with t.span("b", k=1) as b:
            pass
    assert [(s.name, s.parent) for s in t.spans] == [("a", None), ("b", 0)]
    assert b.attrs == {"k": 1} and b.end >= b.start
    off = Tracer("run", False)
    with off.span("a") as s:
        assert s is None
    assert off.spans == []
