"""Span self-time arithmetic and SQL metric parsing of the traced run."""

import pytest

from perfbench.trace import Tracer, parse_metric, self_times


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_leaf_self_time_is_duration():
    assert self_times([_span(0, None, 1.0, 3.5)]) == {0: 2.5}


def test_children_are_subtracted_once_each():
    spans = [_span(0, None, 0.0, 10.0),
             _span(1, 0, 1.0, 3.0),
             _span(2, 0, 4.0, 5.0),
             _span(3, 1, 1.5, 2.0)]  # grandchild: only its parent loses it
    got = self_times(spans)
    assert got[0] == pytest.approx(7.0)
    assert got[1] == pytest.approx(1.5)
    assert got[2] == pytest.approx(1.0)
    assert got[3] == pytest.approx(0.5)


def test_overlapping_children_count_their_union():
    spans = [_span(0, None, 0.0, 10.0),
             _span(1, 0, 1.0, 4.0),
             _span(2, 0, 3.0, 6.0),
             _span(3, 0, 6.0, 7.0)]  # touches, does not overlap
    assert self_times(spans)[0] == pytest.approx(4.0)


def test_child_outside_parent_is_clipped():
    spans = [_span(0, None, 2.0, 6.0),
             _span(1, 0, 1.0, 3.0),
             _span(2, 0, 5.0, 9.0),
             _span(3, 0, 7.0, 8.0)]
    assert self_times(spans)[0] == pytest.approx(2.0)


def test_tracer_records_nesting():
    ticks = iter(range(100))
    t = Tracer(clock=lambda: float(next(ticks)))
    t.trace_id = "x"
    with t.span("job"):
        with t.span("stage", stage="a") as s:
            s["action"] = "ran"
        with t.span("stage", stage="b"):
            pass
    job, a, b = t.spans
    assert job["parent"] is None and a["parent"] == 0 and b["parent"] == 0
    assert a["action"] == "ran" and b["stage"] == "b"
    assert {s["trace"] for s in t.spans} == {"x"}
    assert self_times(t.spans) == {0: 3.0, 1: 1.0, 2: 1.0}


@pytest.mark.parametrize("text,value", [
    ("12,347", 12347.0),
    ("14 ms", 0.014),
    ("1589.0 B", 1589.0),
    ("274.1 KiB", 274.1 * 1024),
    ("total (min, med, max (stageId: taskId))\n"
     "3.3 s (810 ms, 813 ms, 856 ms (stage 6.0: task 12))", 3.3),
    ("total (min, med, max (stageId: taskId))\n"
     "933.1 KiB (221.3 KiB, 235.8 KiB, 242.3 KiB (stage 6.0: task 11))",
     933.1 * 1024),
    ("2.0 m", 120.0),
])
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)
