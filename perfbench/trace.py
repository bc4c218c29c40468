"""In-memory spans around the benchmark's calls into each layer.

A :class:`Tracer` records one :class:`Span` per wrapped call: layer, name,
start, end, parent span and op id.  :meth:`Tracer.patch_module` wraps a
module's public functions and rebinds EVERY ``sys.modules`` name that refers
to them, because callers import layer functions by name
(``from ...lake import write_partitioned``) and a patch of the defining
module alone would miss those bindings.  :meth:`Tracer.restore` puts every
original back.

Spans live in memory until the run ends and the caller writes out
:meth:`Tracer.dump`.  The pure helpers at the bottom (:func:`union_length`,
:func:`self_time`) do the interval math the ledger needs.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import itertools
import sys
import threading
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    layer: str
    name: str
    start: float
    end: float = 0.0
    parent: "int | None" = None
    op: "int | None" = None
    error: "str | None" = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder.  ``enabled`` gates recording, so a wrapper left bound
    somewhere after :meth:`restore` costs one attribute check."""

    def __init__(self):
        self.spans: list[Span] = []
        self.enabled = False
        self.op: "int | None" = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[Span] = []
        self._patches: list[tuple] = []

    # -- recording ---------------------------------------------------------
    def _stack(self) -> list:
        if threading.current_thread() is self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, layer: str, name: str) -> Span:
        stack = self._stack()
        # a span opened on a helper thread with nothing open there belongs
        # to whatever the main thread is running (ops run one at a time)
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        sp = Span(next(self._ids), layer, name, time.time(),
                  parent=parent.id if parent else None, op=self.op)
        stack.append(sp)
        return sp

    def end(self, sp: Span, error: "BaseException | None" = None) -> None:
        sp.end = time.time()
        if error is not None:
            sp.error = type(error).__name__
        stack = self._stack()
        if stack and stack[-1] is sp:
            stack.pop()
        elif sp in stack:
            stack.remove(sp)
        self.spans.append(sp)

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        """Context manager form of :meth:`begin`/:meth:`end`; yields the
        span (or ``None`` when disabled)."""
        if not self.enabled:
            yield None
            return
        sp = self.begin(layer, name)
        try:
            yield sp
        except BaseException as e:
            self.end(sp, e)
            raise
        self.end(sp)

    def wrap(self, layer: str, name: str, fn, after=None):
        """A transparent wrapper: same return value, same exception.
        ``after(span, args, result)`` may add attrs once the call returns."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            sp = self.begin(layer, name)
            try:
                out = fn(*args, **kwargs)
            except BaseException as e:
                self.end(sp, e)
                raise
            if after is not None:
                after(sp, args, out)
            self.end(sp)
            return out

        return traced

    # -- patching ----------------------------------------------------------
    def patch_module(self, module, layer: str, names=None) -> int:
        """Wrap ``module``'s public functions (or just ``names``) and rebind
        every ``sys.modules`` reference to them.  Returns the number of
        rebound references."""
        if names is None:
            names = [
                n for n, f in vars(module).items()
                if not n.startswith("_") and inspect.isfunction(f)
                and f.__module__ == module.__name__
            ]
        originals = {id(getattr(module, n)): getattr(module, n) for n in names}
        wrappers = {k: self.wrap(layer, f.__name__, f) for k, f in originals.items()}
        n_bound = 0
        for mod in list(sys.modules.values()):
            d = getattr(mod, "__dict__", None)
            if not isinstance(d, dict):
                continue
            for attr, val in list(d.items()):
                w = wrappers.get(id(val))
                if w is not None:
                    self._patches.append((d, attr, val))
                    d[attr] = w
                    n_bound += 1
        return n_bound

    def patch_method(self, cls, meth: str, layer: str, name: str, after=None) -> None:
        orig = cls.__dict__[meth]
        self._patches.append((cls, meth, orig))
        setattr(cls, meth, self.wrap(layer, name, orig, after=after))

    def restore(self) -> None:
        for target, attr, orig in reversed(self._patches):
            if isinstance(target, dict):
                target[attr] = orig
            else:
                setattr(target, attr, orig)
        self._patches = []

    def dump(self) -> list:
        return [asdict(s) for s in self.spans]


# ---------------------------------------------------------------------------
# interval math
# ---------------------------------------------------------------------------

def union_length(intervals, lo: float = float("-inf"), hi: float = float("inf")) -> float:
    """Total length covered by ``intervals`` ((start, end) pairs), clipped to
    ``[lo, hi]``; overlaps count once."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, spans) -> float:
    """``span``'s duration minus the part of it its direct children cover
    (a grandchild lies inside its parent, so direct children suffice)."""
    kids = [(s.start, s.end) for s in spans if s.parent == span.id]
    return span.duration - union_length(kids, span.start, span.end)


def outermost(spans, layer: str) -> list:
    """Spans of ``layer`` with no ancestor of the same layer, so nested
    calls (``commit_with_retry`` -> ``commit``) are timed once."""
    by_id = {s.id: s for s in spans}
    out = []
    for s in spans:
        if s.layer != layer:
            continue
        p = by_id.get(s.parent)
        while p is not None and p.layer != layer:
            p = by_id.get(p.parent)
        if p is None:
            out.append(s)
    return out
