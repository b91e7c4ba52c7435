import threading

import pytest

from spans import Span, Tracer, covered, self_times


def span(sid, start, end, parent=None):
    return Span(sid, f"s{sid}", start, end, parent, None, 0)


def test_covered_merges_overlaps():
    assert covered([]) == 0.0
    assert covered([(0, 1), (2, 3)]) == 2.0
    assert covered([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert covered([(0, 4), (1, 2)]) == 4.0


def test_self_time_subtracts_child_coverage():
    spans = [
        span(1, 0.0, 10.0),
        span(2, 1.0, 4.0, parent=1),
        span(3, 3.0, 6.0, parent=1),  # overlaps its sibling: 1..6 covered
        span(4, 2.0, 3.0, parent=2),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(5.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


def test_child_outside_parent_is_clipped():
    st = self_times([span(1, 0.0, 2.0), span(2, 1.5, 3.0, parent=1)])
    assert st[1] == pytest.approx(1.5)


def test_disabled_tracer_records_nothing():
    t = Tracer(enabled=False)
    with t.span("a"):
        pass
    assert t.spans == []


def test_nesting_and_self_time_share():
    t = Tracer(enabled=True)
    with t.span("outer"):
        with t.span("inner", request=7):
            pass

    def other():
        with t.span("thread"):
            pass

    th = threading.Thread(target=other)
    th.start()
    th.join(timeout=10)
    assert not th.is_alive()
    by = {s.name: s for s in t.spans}
    assert by["inner"].parent == by["outer"].sid and by["inner"].request == 7
    assert by["thread"].parent is None
    wall = max(s.end for s in t.spans) - min(s.start for s in t.spans)
    share = t.summary(wall)["max_thread_self_share"]
    assert 0.0 < share <= 1.0 + 1e-9
