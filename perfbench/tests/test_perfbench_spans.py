"""Spans wrap public calls from outside, nest, set and restore job groups,
and unwrap to the original callables."""

import types

from eventlog import GROUP_PROP
from spans import Tracer


class FakeSc:
    def __init__(self):
        self.props: dict = {}
        self.calls: list = []

    def setJobGroup(self, group, description):
        self.props[GROUP_PROP] = group
        self.calls.append(group)

    def setLocalProperty(self, key, value):
        if value is None:
            self.props.pop(key, None)
        else:
            self.props[key] = value


def _module():
    mod = types.ModuleType("fake_layer")

    def inner(x):
        return mod.sc.props.get(GROUP_PROP), x

    def outer(x):
        return mod.inner(x)

    mod.inner, mod.outer = inner, outer
    return mod


class Widget:
    @classmethod
    def make(cls, n):
        return cls, n


def test_nested_spans_set_and_restore_job_groups():
    sc = FakeSc()
    mod = _module()
    mod.sc = sc
    tracer = Tracer(sc, enabled=True)
    tracer.wrap(mod, "inner", "layer.inner", attrs=lambda x: {"x": x})
    tracer.wrap(mod, "outer", "layer.outer")
    group, x = mod.outer(3)
    outer_span, inner_span = tracer.spans
    assert (outer_span["name"], inner_span["name"]) == ("layer.outer", "layer.inner")
    assert inner_span["parent"] == outer_span["id"] and outer_span["parent"] is None
    assert inner_span["x"] == 3 and x == 3
    assert group == Tracer.group_of(inner_span)  # jobs inside run under the innermost call
    assert GROUP_PROP not in sc.props  # cleared once the outermost call returns
    assert tracer.subtree(outer_span) == [outer_span, inner_span]


def test_classmethods_wrap_and_everything_unwraps():
    tracer = Tracer(FakeSc(), enabled=True)
    mod = _module()
    original = mod.inner
    raw = Widget.__dict__["make"]
    tracer.wrap(Widget, "make", "widget.make")
    tracer.wrap(mod, "inner", "layer.inner")
    assert Widget.make(2) == (Widget, 2)
    assert tracer.spans[0]["name"] == "widget.make"
    tracer.unwrap_all()
    assert Widget.__dict__["make"] is raw and mod.inner is original


def test_disabled_tracer_records_nothing():
    tracer = Tracer(None, enabled=False)
    with tracer.span("op") as sp:
        tracer.count("cache.swaps")
    assert sp is None and tracer.spans == [] and not tracer.counts


def test_set_active_toggles_wrappers_and_spans():
    tracer = Tracer(FakeSc(), enabled=True)
    mod = _module()
    mod.sc = tracer.sc
    original = mod.inner
    tracer.wrap(mod, "inner", "layer.inner")
    tracer.set_active(False)
    assert mod.inner is original and mod.inner(1) == (None, 1) and tracer.spans == []
    tracer.set_active(True)
    assert mod.inner is not original
    mod.inner(2)
    assert [s["name"] for s in tracer.spans] == ["layer.inner"]
