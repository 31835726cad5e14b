"""In-memory span tracing from outside the program.

Spans are recorded by wrapping the program's public functions where
their callers bound them (``Instrumentation``), plus explicit
``Tracer.span`` blocks in the benchmark's own code.  Each span records
name, start, end, parent and op id; spans stay in memory until the run
ends.  A layer is the part of a span name before the first dot.
"""

from __future__ import annotations

import functools
import itertools
import sys
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass

PACKAGE = "data_chunk_compaction_in_duckdb_spark"


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    """Records spans (per-thread parent stack) and named counters."""

    enabled = True

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: Counter = Counter()
        self.samples: dict[str, list] = defaultdict(list)
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, op: int | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        if op is None and parent is not None:
            op = parent.op
        sp = Span(
            next(self._ids),
            name,
            time.perf_counter(),
            0.0,
            parent.sid if parent is not None else None,
            op,
        )
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    def count(self, key: str, n: float = 1) -> None:
        with self._lock:
            self.counts[key] += n

    def sample(self, key: str, value) -> None:
        with self._lock:
            self.samples[key].append(value)


class NullTracer:
    """Tracing off: every hook is a no-op."""

    enabled = False

    def span(self, name: str, op: int | None = None):
        return nullcontext()

    def count(self, key: str, n: float = 1) -> None:
        pass

    def sample(self, key: str, value) -> None:
        pass


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of its interval that its
    child spans cover (children clipped to the parent's interval)."""
    by_id = {s.sid: s for s in spans}
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        p = by_id.get(s.parent) if s.parent is not None else None
        if p is not None:
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                children[p.sid].append((lo, hi))
    return {
        s.sid: max(0.0, (s.end - s.start) - _union_length(children[s.sid]))
        for s in spans
    }


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    """Layer -> total self seconds of its spans."""
    st = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.layer] += st[s.sid]
    return dict(out)


def outermost(spans: list[Span], name: str) -> list[Span]:
    """Spans called ``name`` with no ancestor of the same name — so a
    re-entrant call (Engine.sql dispatching to itself) counts once."""
    by_id = {s.sid: s for s in spans}
    out = []
    for s in spans:
        if s.name != name:
            continue
        p = by_id.get(s.parent) if s.parent is not None else None
        while p is not None and p.name != name:
            p = by_id.get(p.parent) if p.parent is not None else None
        if p is None:
            out.append(s)
    return out


def _bindings(fn, package: str) -> set[tuple[object, str]]:
    """Every (module, attribute) of the loaded ``package`` bound to ``fn``."""
    found = set()
    for mname, mod in list(sys.modules.items()):
        if mod is None or not (mname == package or mname.startswith(package + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            if val is fn:
                found.add((mod, attr))
    return found


class Instrumentation:
    """Wraps functions and methods in spans; ``restore`` undoes it.

    ``on_return(tracer, args, kwargs, result)`` runs after a wrapped call
    returns (outside its span) to record counts taken from the result.
    Exceptions are counted as ``<span>:<ExceptionType>`` and re-raised.
    """

    def __init__(self, tracer: Tracer, package: str = PACKAGE) -> None:
        self.tracer = tracer
        self.package = package
        self._undo: list[tuple[object, str, object]] = []

    def _wrapper(self, fn, span: str, on_return=None):
        tracer = self.tracer

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(span):
                try:
                    out = fn(*args, **kwargs)
                except Exception as e:
                    tracer.count(f"{span}:{type(e).__name__}")
                    raise
            if on_return is not None:
                on_return(tracer, args, kwargs, out)
            return out

        return wrapper

    def _set(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def wrap_function(self, module, attr: str, span: str, on_return=None) -> None:
        """Wrap ``module.attr`` and every other binding of the same
        function object in the loaded package (``from x import f``)."""
        fn = getattr(module, attr)
        wrapper = self._wrapper(fn, span, on_return)
        for owner, name in _bindings(fn, self.package) | {(module, attr)}:
            self._set(owner, name, wrapper)

    def wrap_method(self, cls: type, attr: str, span: str, on_return=None) -> None:
        self._set(cls, attr, self._wrapper(cls.__dict__[attr], span, on_return))

    def restore(self) -> None:
        while self._undo:
            owner, attr, value = self._undo.pop()
            setattr(owner, attr, value)
