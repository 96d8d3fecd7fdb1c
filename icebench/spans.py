"""Outside-in tracing of the engine's layers for the traced run.

The tracer wraps public functions of each layer from outside the
product code. Modules hold their own references (``sources/iceberg.py``
imports ``load_table_scan`` by name), so a module function is replaced
at every module attribute that resolves to it; class methods are
replaced on the class. Lazy ``from .x import f`` imports inside
functions then resolve to the wrapper too.

A span records name, layer, parent, thread, op id, start and end. Spans
stay in memory until the run ends. Self time is a span's duration minus
the union of its children's intervals on the same thread; spans on
other threads (the manifest-decode pool) count as busy time of their
layer and leave the waiting time in their caller's self time.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Callable, Optional

PKG = "duckdb_iceberg_spark"
# the engine's entry module, outside the package, holds its own
# references to the analytics entry functions
ENTRY_MODULE = "__spark_entry__"


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    parent: Optional[int]
    thread: int
    op: Optional[int]
    t0: float
    t1: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, end = 0.0, None
    start = None
    for a, b in sorted(intervals):
        if end is None or a > end:
            if end is not None:
                total += end - start
            start, end = a, b
        else:
            end = max(end, b)
    if end is not None:
        total += end - start
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its same-thread children
    (each child clipped to the parent's interval)."""
    by_id = {s.sid: s for s in spans}
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        p = by_id.get(s.parent) if s.parent is not None else None
        if p is not None and p.thread == s.thread:
            a, b = max(s.t0, p.t0), min(s.t1, p.t1)
            if b > a:
                kids[p.sid].append((a, b))
    return {s.sid: s.dur - union_length(kids.get(s.sid, [])) for s in spans}


class Tracer:
    """Collects spans and counters; ``install`` wraps the layers."""

    def __init__(self):
        self.spans: list[Span] = []
        self.main_thread = threading.get_ident()
        self.op: Optional[int] = None
        self.counters: dict = defaultdict(float)
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self._undo: list[tuple[object, str, object]] = []

    # -- spans ------------------------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        st = self._stack()
        with self._lock:
            self._next += 1
            sid = self._next
        s = Span(
            sid, name, layer, st[-1].sid if st else None, threading.get_ident(),
            self.op, time.perf_counter(), attrs=attrs,
        )
        st.append(s)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            st.pop()
            self.spans.append(s)

    def count(self, key: str, n: float = 1.0) -> None:
        with self._lock:
            self.counters[(key, self.op)] += n

    # -- wrapping ---------------------------------------------------------

    def wrap(self, fn: Callable, layer: str, name: str, on_call: Optional[Callable] = None) -> Callable:
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name, layer) as s:
                try:
                    out = fn(*args, **kwargs)
                except Exception as e:
                    tracer.count(f"raised.{type(e).__name__}")
                    raise
                if on_call is not None:
                    on_call(tracer, s, args, kwargs, out)
                return out

        traced.__wrapped_original__ = fn
        return traced

    def _set(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def patch_function(self, module: str, attr: str, layer: str, on_call=None) -> None:
        """Replace ``module.attr`` at every package module attribute
        (and entry module attribute) that is the same object."""
        orig = getattr(sys.modules[module], attr)
        wrapped = self.wrap(orig, layer, attr, on_call)
        for mname, mod in list(sys.modules.items()):
            if mod is None or not (mname in (PKG, ENTRY_MODULE) or mname.startswith(PKG + ".")):
                continue
            for k, v in list(vars(mod).items()):
                if v is orig:
                    self._set(mod, k, wrapped)

    def patch_method(self, cls, attr: str, layer: str, on_call=None) -> None:
        orig = cls.__dict__[attr]
        if isinstance(orig, classmethod):
            self._set(cls, attr, classmethod(self.wrap(orig.__func__, layer, attr, on_call)))
        else:
            self._set(cls, attr, self.wrap(orig, layer, attr, on_call))

    def patch_counter(self, cls, attr: str, key: str) -> None:
        """Count calls of a method without a span (py4j commands)."""
        orig = cls.__dict__[attr]
        tracer = self

        @functools.wraps(orig)
        def counted(*args, **kwargs):
            if tracer.op is not None:
                tracer.count(key)
            return orig(*args, **kwargs)

        self._set(cls, attr, counted)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, value = self._undo.pop()
            setattr(owner, attr, value)


# -- layer accounting -------------------------------------------------------


def layer_totals(spans: list[Span], main_thread: int, ops: Optional[set] = None) -> dict:
    """Per layer: driver-thread self seconds, all-thread busy seconds
    (outermost span of the layer per thread) and span count."""
    st = self_times(spans)
    by_id = {s.sid: s for s in spans}
    out: dict = defaultdict(lambda: {"self_s": 0.0, "busy_s": 0.0, "calls": 0})
    for s in spans:
        if ops is not None and s.op not in ops:
            continue
        row = out[s.layer]
        row["calls"] += 1
        if s.thread == main_thread:
            row["self_s"] += st[s.sid]
        p = by_id.get(s.parent) if s.parent is not None else None
        if p is None or p.layer != s.layer:
            row["busy_s"] += s.dur
    return dict(out)
