"""Span recording, wrapper transparency and the interval math."""

import sys
import types

import pytest

from perfbench.trace import Span, Tracer, outermost, self_time, union_length


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10)], 2, 5) == 3
    assert union_length([(3, 1), (4, 4)]) == 0
    assert union_length([]) == 0


def test_self_time_subtracts_direct_children_once():
    parent = Span(1, "plans", "q", 0.0, 10.0)
    kids = [
        Span(2, "snapshots", "commit", 1.0, 4.0, parent=1),
        Span(3, "cache", "materialize_once", 3.0, 5.0, parent=1),  # overlaps span 2
        Span(4, "snapshots", "read_version", 2.0, 3.0, parent=2),  # grandchild: inside 2
        Span(5, "lake", "write_partitioned", 9.0, 12.0, parent=1),  # runs past the parent
    ]
    assert self_time(parent, [parent] + kids) == pytest.approx(10 - 4 - 1)
    assert self_time(kids[0], [parent] + kids) == pytest.approx(3 - 1)


def test_outermost_counts_nested_same_layer_calls_once():
    spans = [
        Span(1, "plans", "q", 0, 10),
        Span(2, "snapshots", "commit_with_retry", 1, 5, parent=1),
        Span(3, "snapshots", "commit", 2, 4, parent=2),
        Span(4, "cache", "materialize_once", 5, 6, parent=1),
        Span(5, "snapshots", "read_version", 5.5, 5.8, parent=4),
    ]
    assert [s.id for s in outermost(spans, "snapshots")] == [2, 5]


def test_wrapper_returns_the_same_value_and_raises_the_same_exception():
    tracer = Tracer()
    tracer.enabled = True

    class Boom(RuntimeError):
        pass

    def ok(x, *, y=1):
        return [x, y]

    def bad():
        raise Boom("no")

    sentinel = object()
    assert tracer.wrap("lake", "ok", lambda: sentinel)() is sentinel
    assert tracer.wrap("lake", "ok", ok)(3, y=4) == [3, 4]
    with pytest.raises(Boom, match="no"):
        tracer.wrap("lake", "bad", bad)()
    assert [(s.name, s.error) for s in tracer.spans] == [("ok", None), ("ok", None), ("bad", "Boom")]
    assert tracer.wrap("lake", "ok", ok).__name__ == "ok"


def test_disabled_tracer_records_nothing():
    tracer = Tracer()
    assert tracer.wrap("lake", "f", lambda: 7)() == 7
    with tracer.span("plans", "q") as sp:
        assert sp is None
    assert tracer.spans == []


def test_patch_module_rebinds_every_import_and_restores():
    lib = types.ModuleType("perfbench_fake_lib")
    exec("def public(x):\n    return helper(x) + 1\n\ndef helper(x):\n    return x * 2\n\n"
         "def _private():\n    return 0\n", lib.__dict__)
    lib.public.__module__ = lib.helper.__module__ = lib._private.__module__ = lib.__name__
    user = types.ModuleType("perfbench_fake_user")
    user.public = lib.public  # a `from lib import public` binding
    sys.modules[lib.__name__], sys.modules[user.__name__] = lib, user
    orig = lib.public
    try:
        tracer = Tracer()
        tracer.enabled = True
        assert tracer.patch_module(lib, "lake") == 3  # lib.public, lib.helper, user.public
        assert user.public(5) == 11
        names = [(s.name, s.parent) for s in tracer.spans]
        assert names == [("helper", tracer.spans[1].id), ("public", None)]
        tracer.restore()
        assert lib.public is orig and user.public is orig
    finally:
        del sys.modules[lib.__name__], sys.modules[user.__name__]


def test_helper_thread_spans_attach_to_the_main_threads_open_span():
    import threading

    tracer = Tracer()
    tracer.enabled = True
    work = tracer.wrap("lake", "write", lambda: None)
    with tracer.span("daily_job", "update_fundamentals") as outer:
        t = threading.Thread(target=work)
        t.start()
        t.join(timeout=10)
    assert not t.is_alive()
    inner = [s for s in tracer.spans if s.name == "write"]
    assert len(inner) == 1 and inner[0].parent == outer.id
