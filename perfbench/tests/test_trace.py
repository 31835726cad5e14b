from __future__ import annotations

import sys
import threading
import types

import pytest

from perfbench.trace import (
    Instrumentation,
    NullTracer,
    Span,
    Tracer,
    layer_self_times,
    outermost,
    self_times,
)


def _span(sid, name, start, end, parent=None, op=1):
    return Span(sid, name, start, end, parent, op)


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(1, "op", 0.0, 10.0),
        _span(2, "engine.sql", 1.0, 3.0, parent=1),
        _span(3, "exec.action", 2.0, 5.0, parent=1),  # overlaps sibling
        _span(4, "exec.action", 8.0, 12.0, parent=1),  # clipped at 10
        _span(5, "dialect.rewrite", 1.5, 2.0, parent=2),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - (4.0 + 2.0))
    assert st[2] == pytest.approx(2.0 - 0.5)
    assert st[5] == pytest.approx(0.5)
    layers = layer_self_times(spans)
    assert layers["op"] == pytest.approx(4.0)
    assert layers["exec"] == pytest.approx(3.0 + 4.0)
    assert layers["engine"] == pytest.approx(1.5)
    assert layers["dialect"] == pytest.approx(0.5)


def test_outermost_counts_reentrant_calls_once():
    spans = [
        _span(1, "op", 0.0, 10.0),
        _span(2, "engine.sql", 1.0, 9.0, parent=1),
        _span(3, "prepared.execute", 2.0, 8.0, parent=2),
        _span(4, "engine.sql", 3.0, 7.0, parent=3),
    ]
    assert [s.sid for s in outermost(spans, "engine.sql")] == [2]


def test_tracer_nests_spans_per_thread_and_inherits_op():
    tr = Tracer()

    def client(op):
        with tr.span("op", op=op):
            with tr.span("engine.sql"):
                with tr.span("dialect.rewrite"):
                    pass

    threads = [threading.Thread(target=client, args=(i,)) for i in (1, 2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=10)
        assert not t.is_alive()
    by_id = {s.sid: s for s in tr.spans}
    assert len(tr.spans) == 6
    for s in tr.spans:
        if s.name == "op":
            assert s.parent is None
        else:
            parent = by_id[s.parent]
            assert parent.op == s.op
            assert parent.start <= s.start <= s.end <= parent.end
    assert {s.op for s in tr.spans} == {1, 2}


def test_null_tracer_records_nothing():
    tr = NullTracer()
    with tr.span("op", op=1):
        tr.count("x")
        tr.sample("y", 1)
    assert not tr.enabled


def test_instrumentation_patches_every_binding_and_restores():
    pkg = "perfbench_fake_pkg"
    lib = types.ModuleType(f"{pkg}.lib")
    user = types.ModuleType(f"{pkg}.user")

    def work(x):
        if x < 0:
            raise KeyError(x)
        return x * 2

    lib.work = work
    user.work = work  # ``from lib import work`` in a caller
    sys.modules[lib.__name__] = lib
    sys.modules[user.__name__] = user
    tr = Tracer()
    seen = []
    try:
        ins = Instrumentation(tr, package=pkg)
        ins.wrap_function(lib, "work", "lib.work", lambda t, a, k, out: seen.append(out))
        assert user.work(3) == 6
        assert lib.work(4) == 8
        with pytest.raises(KeyError):
            user.work(-1)
        assert [s.name for s in tr.spans] == ["lib.work"] * 3
        assert seen == [6, 8]
        assert tr.counts["lib.work:KeyError"] == 1
        ins.restore()
        assert user.work is work and lib.work is work
    finally:
        del sys.modules[lib.__name__], sys.modules[user.__name__]


def test_instrumentation_wraps_methods():
    class Thing:
        def go(self, y):
            return y + 1

    tr = Tracer()
    ins = Instrumentation(tr)
    ins.wrap_method(Thing, "go", "thing.go")
    assert Thing().go(1) == 2
    ins.restore()
    assert Thing().go(1) == 2
    assert [s.name for s in tr.spans] == ["thing.go"]
