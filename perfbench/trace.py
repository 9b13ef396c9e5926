"""Spans recorded around calls into the engine's layers.

The traced run replaces a layer's public functions with wrappers that
record a span (name, start, end, parent, operation id) and then call the
original.  Spans are kept in memory and summarised when the run ends.
Nothing in the engine changes: the wrappers are installed from the
benchmark's process by rebinding every reference to the original
function (module attributes and names imported elsewhere), and removed
again by ``Tracer.uninstall``.
"""

from __future__ import annotations

import functools
import itertools
import sys
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    op: str | None
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._roots: dict[str, int] = {}
        self._patched: list[tuple[object, str, object]] = []

    # -- recording -----------------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def set_op(self, op: str | None) -> None:
        """Bind the calling thread to operation ``op``; a span opened with
        an empty stack in this thread gets the op's root span as parent."""
        self._local.op = op

    def begin(self, name: str, op: str | None = None) -> Span:
        st = self._stack()
        op = op or (st[-1].op if st else getattr(self._local, "op", None))
        parent = st[-1].id if st else self._roots.get(op) if op else None
        sp = Span(next(self._ids), name, op, parent, time.perf_counter())
        with self._lock:
            self.spans.append(sp)
            if parent is None and op is not None:
                self._roots.setdefault(op, sp.id)
        st.append(sp)
        return sp

    def end(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()

    def span(self, name: str, op: str | None = None):
        tracer = self

        class _Ctx:
            def __enter__(self_inner):
                self_inner.sp = tracer.begin(name, op)
                return self_inner.sp

            def __exit__(self_inner, *exc):
                tracer.end(self_inner.sp)

        return _Ctx()

    # -- installing wrappers --------------------------------------------

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Record ``name`` around ``owner.attr`` and every module-level
        alias of the same function object.  ``on_result(result)`` may
        return a replacement result (used to time a lazy result's
        ``collect``)."""
        orig = getattr(owner, attr)
        func = orig.__func__ if isinstance(orig, staticmethod) else orig
        tracer = self

        @functools.wraps(func)
        def wrapper(*args, **kwargs):
            sp = tracer.begin(name)
            try:
                res = func(*args, **kwargs)
            finally:
                tracer.end(sp)
            return on_result(res) if on_result else res

        targets = [(owner, attr)]
        if not isinstance(owner, type):
            for mod in list(sys.modules.values()):
                d = getattr(mod, "__dict__", None)
                if mod is owner or not d or not (getattr(mod, "__name__", "") or "").startswith("qurio_spark"):
                    continue
                for k, v in list(d.items()):
                    if v is func:
                        targets.append((mod, k))
        for obj, k in targets:
            self._patched.append((obj, k, obj.__dict__[k] if isinstance(obj, type) else getattr(obj, k)))
            setattr(obj, k, wrapper)

    def timed_collect(self, name: str):
        """``on_result`` hook: wraps a DataFrame's ``collect`` in a span."""
        tracer = self

        def hook(df):
            orig = df.collect

            def collect():
                with tracer.span(name):
                    return orig()

            df.collect = collect
            return df

        return hook

    def uninstall(self) -> None:
        for obj, k, orig in reversed(self._patched):
            setattr(obj, k, orig)
        self._patched.clear()

    # -- summaries ------------------------------------------------------

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end]

    def self_ms(self) -> dict[str, float]:
        """Total self time per span name: a span's duration minus the part
        of its interval that its child spans cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None and s.end:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if not s.end:
                continue
            covered = 0.0
            cur_s = cur_e = None
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                cs, ce = max(c.start, s.start), min(c.end, s.end)
                if ce <= cs:
                    continue
                if cur_e is None or cs > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = cs, ce
                else:
                    cur_e = max(cur_e, ce)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start - covered) * 1000.0
        return out
