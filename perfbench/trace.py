"""In-memory span tracer, the wrappers that feed it, and self-time
arithmetic.

A span is (id, name, layer, start, end, parent, op).  ``op`` is the id
shared by every span of one operation (the request's X-Request-ID); the
parent is the span open on the same thread when this one started.  The
tracer wraps the public functions of the engine's modules from here, so
the engine itself is never edited: ``install`` swaps every binding of a
function (its defining module and each ``from x import f`` copy) for a
timing wrapper, and ``uninstall`` puts the originals back.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import sys
import threading
import time
from dataclasses import asdict, dataclass


#: op-id prefix of the ops a traced run leaves untraced (the baseline
#: its tracing overhead is measured against)
UNTRACED = "plain-"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    def __init__(self):
        self.enabled = False
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- per-thread context --------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current_op(self) -> str | None:
        return getattr(self._local, "op", None)

    def set_op(self, op: str | None) -> None:
        self._local.op = op

    def call(self, name: str, layer: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span (a plain call when disabled, when no
        operation is current on this thread, or when the op is one of
        the untraced ``plain-`` ops)."""
        op = self.current_op()
        if not self.enabled or op is None or op.startswith(UNTRACED):
            return fn(*args, **kwargs)
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            end = time.time()
            stack.pop()
            self.add(Span(sid, name, layer, start, end, parent, op))

    def add(self, span: Span) -> None:
        with self._lock:
            self.spans.append(span)


def write_spans(path: str, spans: list[Span]) -> None:
    with open(path, "w") as fh:
        for s in spans:
            fh.write(json.dumps(asdict(s)) + "\n")


class Installed:
    """The bindings ``install`` replaced, so they can be restored."""

    def __init__(self):
        self.patches: list[tuple[object, str, object]] = []

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self.patches):
            setattr(owner, attr, original)
        self.patches.clear()


def install(
    tracer: Tracer, package: str, targets: list[tuple[str, str, str]], callers: list[str]
) -> Installed:
    """Wrap each ``(module, qualname, layer)`` target.  ``qualname`` is a
    function name or ``Class.method``.  Every loaded module of
    ``package`` that holds the same function object under some name gets
    the wrapper, so call sites that imported the function directly are
    traced too; ``callers`` are imported first so their bindings exist."""
    for name in callers:
        importlib.import_module(name)
    done = Installed()
    for mod_name, qual, layer in targets:
        mod = importlib.import_module(mod_name)
        if "." in qual:
            cls_name, meth = qual.split(".")
            cls = getattr(mod, cls_name)
            original = cls.__dict__[meth]
            setattr(cls, meth, _wrap(tracer, original, f"{cls_name}.{meth}", layer))
            done.patches.append((cls, meth, original))
            continue
        original = getattr(mod, qual)
        wrapper = _wrap(tracer, original, qual, layer)
        for m in list(sys.modules.values()):
            if m is None or not getattr(m, "__name__", "").startswith(package):
                continue
            for attr, val in list(vars(m).items()):
                if val is original:
                    setattr(m, attr, wrapper)
                    done.patches.append((m, attr, original))
    return done


def _wrap(tracer: Tracer, fn, name: str, layer: str):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        return tracer.call(f"{layer}.{name}", layer, fn, *args, **kwargs)

    return wrapper


class ServiceProxy:
    """Stands in for a service object in ``serve.make_handler``: each
    method call tags the handler thread's Spark jobs with the request's
    id (``setJobGroup``) and, when tracing, records the call as a span
    of the ``layer`` layer."""

    def __init__(self, target, layer: str, tracer: Tracer, spark_context):
        self._target = target
        self._layer = layer
        self._tracer = tracer
        self._sc = spark_context

    def __getattr__(self, name):
        attr = getattr(self._target, name)
        if not callable(attr):
            return attr
        tracer, sc, layer = self._tracer, self._sc, self._layer

        def call(*args, **kwargs):
            op = kwargs.get("request_id")
            sc.setJobGroup(op or "untagged", f"{layer}.{name}", False)
            tracer.set_op(op)
            try:
                return tracer.call(f"{layer}.{name}", layer, attr, *args, **kwargs)
            finally:
                tracer.set_op(None)

        return call


# -- self time ----------------------------------------------------------------


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
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
    """Span id -> its duration minus the time its direct children cover
    (children may overlap each other; their union counts once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - covered(kids.get(s.id, []), s.start, s.end)
        for s in spans
    }


def innermost(spans: list[Span], t: float) -> Span | None:
    """The deepest span containing time ``t`` (latest start wins)."""
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.start >= best.start):
            best = s
    return best
