"""Span self-time and self-job arithmetic."""

import types

import pytest

from spans import Span, Tracer, covered, layer_totals, self_jobs, self_time


def _span(layer, start, end, parent=None, jobs=0):
    s = Span(layer, f"{layer}@{start}", start, parent, 0, end=end,
             jobs=jobs)
    if parent is not None:
        parent.children.append(s)
    return s


def test_covered_merges_overlaps():
    assert covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert covered([]) == 0


def test_self_time_on_hand_built_tree():
    # root [0, 10) calls b [1, 4) and c [5, 9); c calls d [6, 8)
    root = _span("pipeline", 0, 10, jobs=5)
    b = _span("frame", 1, 4, root, jobs=1)
    c = _span("dedup", 5, 9, root, jobs=3)
    d = _span("relational", 6, 8, c, jobs=2)
    assert self_time(root) == 10 - 3 - 4
    assert self_time(b) == 3
    assert self_time(c) == 4 - 2
    assert self_time(d) == 2
    assert [self_jobs(s) for s in (root, b, c, d)] == [1, 1, 1, 2]
    totals = layer_totals([root, b, c, d])
    assert totals["pipeline"]["self_s"] == 3
    assert totals["dedup"]["self_s"] == 2
    assert totals["relational"] == {"calls": 1, "self_s": 2, "jobs": 2,
                                    "failed": 0}
    assert sum(t["self_s"] for t in totals.values()) == 10


def test_overlapping_children_are_not_double_counted():
    root = _span("dedup", 0, 10)
    _span("frame", 2, 6, root)
    _span("frame", 4, 8, root)      # e.g. from a pool thread
    assert self_time(root) == 4


def test_calls_count_entries_into_a_layer():
    outer = _span("snapshots", 0, 4)
    _span("snapshots", 1, 2, outer)     # internal call, same layer
    totals = layer_totals([outer, outer.children[0]])
    assert totals["snapshots"]["calls"] == 1


def test_tracer_records_nesting_and_failures():
    ticks = iter(range(100))
    jobs = iter(range(0, 1000, 10))
    tracer = Tracer(jobs=lambda: next(jobs), clock=lambda: next(ticks))
    mod = types.ModuleType("fake_layer")

    def inner():
        return 1

    def outer():
        return mod.inner() + 1

    def broken():
        raise ValueError("boom")

    mod.inner = tracer.wrap("frame", "inner", inner)
    mod.outer = tracer.wrap("pipeline", "outer", outer)
    mod.broken = tracer.wrap("dedup", "broken", broken)
    assert mod.outer() == 2
    with pytest.raises(ValueError):
        mod.broken()
    by_name = {s.name: s for s in tracer.spans}
    assert by_name["inner"].parent is by_name["outer"]
    assert by_name["outer"].end - by_name["outer"].start == 3
    assert self_time(by_name["outer"]) == 2
    assert by_name["broken"].failed
    totals = layer_totals(tracer.spans)
    assert totals["dedup"]["failed"] == 1
    assert totals["frame"]["calls"] == 1
    dumped = tracer.dump()
    assert {d["name"] for d in dumped} == {"inner", "outer", "broken"}
    assert [d["parent"] for d in dumped if d["name"] == "inner"] == [
        next(d["id"] for d in dumped if d["name"] == "outer")]


def test_inactive_tracer_records_nothing():
    tracer = Tracer()
    f = tracer.wrap("frame", "f", lambda: 3)
    tracer.active = False
    assert f() == 3
    assert tracer.spans == []
