"""Self time of a span: its duration minus what its children cover.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spans import Span, Tracer  # noqa: E402


def test_self_time_subtracts_children_once():
    t = Tracer(enabled=True)
    t.spans = [
        Span(1, "op", None, "p", 0.0, 10.0),
        Span(2, "layer", 1, "p", 1.0, 4.0),
        Span(3, "layer", 1, "p", 3.0, 6.0),  # overlaps the first child
        Span(4, "inner", 2, "p", 1.5, 2.0),
    ]
    self_s = t.self_times()
    assert self_s["op"] == 10.0 - 5.0  # children cover [1, 6)
    assert self_s["layer"] == (3.0 - 0.5) + 3.0
    assert self_s["inner"] == 0.5


def test_disabled_tracer_records_nothing():
    t = Tracer(enabled=False)
    with t.span("x") as s:
        assert s is None
    assert t.spans == []


def test_spans_nest_and_carry_the_run_id():
    t = Tracer(enabled=True)
    t.run_id = "pass1"
    with t.span("outer"):
        with t.span("inner"):
            pass
    inner, outer = t.spans
    assert inner.parent == outer.id and outer.parent is None
    assert {inner.run_id, outer.run_id} == {"pass1"}
    assert outer.start <= inner.start <= inner.end <= outer.end
