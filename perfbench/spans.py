"""In-memory spans around calls into the engine's modules.

A span records a layer name, a detail (function or query name), start
and end (epoch seconds), its parent span and the run id. Spans are kept
in memory and written once, when the benchmark ends.

``Tracer.instrument`` wraps the public functions of the engine modules
it is given and rebinds every module attribute that holds the original
function object, because plan modules bind names at import
(``from …readers import read_table``) and would otherwise keep calling
the unwrapped function. Only calls made on the thread that created the
tracer open spans: the LDA sweep fits models on worker threads, and a
span there would overlap its siblings and break self-time accounting.
Spark jobs those threads submit are still attributed by time, to the
span that encloses them on the main thread (see ``attribute_jobs``).

Wrappers pickle as the function they wrap, so a wrapped function that
reaches a Spark UDF closure ships untraced to the Python workers.
"""

from __future__ import annotations

import bisect
import functools
import inspect
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    detail: str
    start: float
    end: float
    parent: int | None
    run: str

    def as_dict(self) -> dict:
        return dict(self.__dict__)


def _identity(fn):
    return fn


class _Traced:
    """Callable stand-in for a traced function."""

    def __init__(self, fn, tracer: Tracer, layer: str):
        functools.update_wrapper(self, fn)
        self._tracer = tracer
        self._layer = layer

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._layer, self.__wrapped__.__name__):
            return self.__wrapped__(*args, **kwargs)

    def __reduce__(self):
        return _identity, (self.__wrapped__,)


class NullTracer:
    """Tracing off: spans cost one context-manager entry."""

    @contextmanager
    def span(self, name: str, detail: str = ""):
        yield None


class Tracer:
    def __init__(self, run_id: str, clock=time.time):
        self.run_id = run_id
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._owner = threading.get_ident()
        self._rebound: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, detail: str = ""):
        if threading.get_ident() != self._owner:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, detail, self.clock(), 0.0, parent, self.run_id)
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()

    def instrument(self, layers: dict[str, object], scope: str) -> int:
        """Wrap every public function defined in each module of
        ``layers`` (layer name -> module) and rebind it in every loaded
        module whose name starts with ``scope``. Returns the number of
        attributes rebound."""
        wrappers: dict[int, _Traced] = {}
        for layer, mod in layers.items():
            for attr, fn in vars(mod).items():
                if (
                    inspect.isfunction(fn)
                    and not attr.startswith("_")
                    and fn.__module__ == mod.__name__
                    and not hasattr(fn, "evalType")  # a pandas/Python UDF object
                ):
                    wrappers[id(fn)] = _Traced(fn, self, layer)
        for name, mod in list(sys.modules.items()):
            if not name.startswith(scope) or mod is None:
                continue
            for attr, value in list(vars(mod).items()):
                w = wrappers.get(id(value))
                if w is not None and w.__wrapped__ is value:
                    self._rebound.append((mod, attr, value))
                    setattr(mod, attr, w)
        return len(self._rebound)

    def restore(self) -> None:
        for mod, attr, value in reversed(self._rebound):
            setattr(mod, attr, value)
        self._rebound.clear()


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        covered = [
            (max(a, s.start), min(b, s.end)) for a, b in kids.get(s.id, ()) if b > s.start and a < s.end
        ]
        out[s.id] = (s.end - s.start) - union_length(covered)
    return out


def attribute_jobs(spans: list[Span], submit_times: dict[int, float]) -> dict[int, int | None]:
    """Job id -> id of the innermost span open at the job's submission
    time (epoch seconds), or None when no span encloses it. Spans nest,
    so the innermost enclosing span is the one that started last."""
    ordered = sorted(spans, key=lambda s: s.start)
    starts = [s.start for s in ordered]
    out: dict[int, int | None] = {}
    for job, t in submit_times.items():
        best = None
        for i in range(bisect.bisect_right(starts, t) - 1, -1, -1):
            s = ordered[i]
            if s.end >= t:
                best = s.id
                break
            if s.parent is None:
                break  # an earlier top-level span ended before t
        out[job] = best
    return out


def ancestors(by_id: dict[int, Span], span_id: int | None) -> list[Span]:
    """The span and its ancestors, innermost first."""
    chain = []
    while span_id is not None:
        s = by_id[span_id]
        chain.append(s)
        span_id = s.parent
    return chain
