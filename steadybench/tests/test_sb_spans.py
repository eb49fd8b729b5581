import sys
import types

import pytest
import spans as sp


def _span(name, start, end, parent=-1, main=True):
    return sp.Span("q", name, start, end, parent, main)


def test_self_time_subtracts_direct_children_only():
    spans = [
        _span("q.mk", 0.0, 10.0),
        _span("operators.dedup.a", 1.0, 6.0, parent=0),
        _span("catalog.load_table", 2.0, 3.0, parent=1),
        _span("q.action", 10.0, 12.0),
    ]
    assert sp.self_times(spans) == pytest.approx([5.0, 4.0, 1.0, 2.0])
    layers = sp.layer_self_time(spans)
    assert layers == pytest.approx(
        {"plans.mk": 5.0, "operators.dedup": 4.0, "catalog": 1.0, "plans.action": 2.0})
    # self times of one query add up to its top-level spans
    assert sum(layers.values()) == pytest.approx(12.0)


def test_thread_pool_spans_are_not_subtracted_from_the_caller():
    spans = [_span("q.mk", 0.0, 4.0), _span("operators._ckpt.x", 1.0, 3.0, main=False)]
    assert sp.layer_self_time(spans) == {"plans.mk": 4.0}


def test_outermost_total_does_not_double_count_recursion():
    spans = [
        _span("q.mk", 0.0, 10.0),
        _span("operators.quantize.a", 1.0, 5.0, parent=0),
        _span("operators.quantize.b", 2.0, 4.0, parent=1),
        _span("operators.quantize.a", 6.0, 7.0, parent=0),
    ]
    total = sp.outermost_total(spans, lambda n: n.startswith("operators.quantize."))
    assert total == pytest.approx(5.0)


def test_layer_names():
    assert sp.layer_of("q.drain") == "ckpt.drain"
    assert sp.layer_of("operators._ckpt.tracked_persist") == "operators._ckpt"
    assert sp.layer_of("sources.warehouse.scd2_merge") == "sources"
    assert sp.layer_of("ml.fit") == "ml"


def test_install_wraps_every_reference_and_records_nesting(monkeypatch):
    pkg = types.ModuleType("fakepkg")
    a = types.ModuleType("fakepkg.a")
    exec("def inner(x):\n    return x + 1\n\ndef outer(x):\n    return inner(x) * 2\n"
         "def _private():\n    return 0\n", a.__dict__)
    for f in ("inner", "outer", "_private"):
        getattr(a, f).__module__ = "fakepkg.a"
    b = types.ModuleType("fakepkg.b")
    b.outer = a.outer  # a `from fakepkg.a import outer` call site
    for m in (pkg, a, b):
        monkeypatch.setitem(sys.modules, m.__name__, m)
    tracer = sp.Tracer()
    assert sp.install(tracer, ["a"], package="fakepkg") == 3
    assert b.outer is a.outer and a._private.__name__ == "_private"
    assert b.outer(1) == 4 and tracer.spans == []  # disabled: no spans
    tracer.enabled = True
    tracer.query = "q1"
    assert b.outer(1) == 4
    names = [(s.name, s.parent) for s in tracer.take()]
    assert names == [("a.outer", -1), ("a.inner", 0)]
    assert tracer.spans == []


def test_span_context_records_only_while_enabled():
    tracer = sp.Tracer()
    with tracer.span("q.mk"):
        pass
    assert tracer.spans == []
    tracer.enabled = True
    with tracer.span("q.mk"):
        with tracer.span("q.inner"):
            pass
    assert [(s.name, s.parent) for s in tracer.spans] == [("q.mk", -1), ("q.inner", 0)]
