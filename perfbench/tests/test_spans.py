"""Self-time and count arithmetic on a synthetic span tree."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spans import (  # noqa: E402
    Span, Tracer, ast_nodes, children, self_time, subtree_counts)


def tree() -> list[Span]:
    # op [0, 10]
    #   build [0, 6]
    #     compile [1, 6]
    #       parse [1, 2]
    #       load  [2, 4]   jobs=1 py4j=5
    #       load  [3.5, 5] jobs=1 (overlaps the first load)
    #   drain [6, 9]
    s = [
        Span("op", 0.0, None, "q#1", 10.0),
        Span("build", 0.0, 0, "q#1", 6.0),
        Span("compiler.compile_prql", 1.0, 1, "q#1", 6.0,
             counts={"py4j_calls": 7}),
        Span("parser.parse", 1.0, 2, "q#1", 2.0),
        Span("catalog.load", 2.0, 2, "q#1", 4.0,
             counts={"jobs": 1, "py4j_calls": 5}),
        Span("catalog.load", 3.5, 2, "q#1", 5.0, counts={"jobs": 1}),
        Span("drain", 6.0, 0, "q#1", 9.0),
    ]
    return s


def test_self_time_subtracts_union_of_children():
    s = tree()
    kids = children(s)
    # compile covers [1,6]; children cover [1,2] U [2,4] U [3.5,5] = [1,5]
    assert self_time(s, 2, kids) == pytest.approx(1.0)
    # op: children build [0,6] and drain [6,9] leave [9,10]
    assert self_time(s, 0, kids) == pytest.approx(1.0)
    # a leaf's self time is its duration
    assert self_time(s, 3, kids) == pytest.approx(1.0)


def test_self_time_clips_children_to_parent():
    s = [Span("a", 0.0, None, None, 2.0), Span("b", 1.0, 0, None, 3.0)]
    assert self_time(s, 0, children(s)) == pytest.approx(1.0)


def test_subtree_counts_stop_at_named_spans():
    s = tree()
    kids = children(s)
    assert subtree_counts(s, 2, kids, "py4j_calls") == 12
    assert subtree_counts(s, 2, kids, "py4j_calls",
                          stop=frozenset({"catalog.load"})) == 7
    assert subtree_counts(s, 0, kids, "jobs") == 2


def test_tracer_records_parents_ops_and_self_counts():
    t = Tracer()
    with t.span("off"):
        t.count("x")
    assert t.spans == []
    t.enabled, t.op = True, "op#1"
    with t.span("outer"):
        t.count("x")
        with t.span("inner"):
            t.count("x", 2)
            assert t.quiet(lambda: t.count("x", 100) or 5) == 5
            assert t.inside("out") and not t.inside("manifest.")
    outer, inner = t.spans
    assert (outer.parent, inner.parent) == (None, 0)
    assert outer.op == inner.op == "op#1"
    assert outer.counts == {"x": 1} and inner.counts == {"x": 2}
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_ast_nodes_counts_dataclass_instances():
    import dataclasses

    @dataclasses.dataclass
    class N:
        kids: list

    assert ast_nodes(N([N([]), N([N([])])])) == 4
    assert ast_nodes([N([]), "x", 3]) == 1
