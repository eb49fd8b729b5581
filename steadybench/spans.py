"""In-memory spans around calls into the engine's public functions.

:func:`install` replaces each public function of the named modules with a
wrapper that records ``(query, name, start, end, parent)`` while the tracer
is enabled. The replacement is made in every loaded module of the package
that holds a reference to the function, so ``from x import f`` call sites
are covered as well as ``x.f`` ones. Nothing is written until the run ends.
"""

from __future__ import annotations

import functools
import inspect
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

PACKAGE = "etl_housing_spark"
_LOCK = threading.Lock()


@dataclass
class Span:
    query: str
    name: str
    start: float
    end: float
    parent: int  # index of the enclosing span, -1 at top level
    main_thread: bool = True  # spans from engine thread pools overlap their caller

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.query = ""
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str) -> int:
        stack = self._stack()
        parent = stack[-1] if stack else -1
        main = threading.current_thread() is threading.main_thread()
        with _LOCK:
            self.spans.append(
                Span(self.query, name, time.perf_counter(), 0.0, parent, main)
            )
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._stack().pop()

    def take(self) -> list[Span]:
        """Hand over the recorded spans and start a fresh list."""
        spans, self.spans = self.spans, []
        return spans

    def span(self, name: str):
        """Context manager recording one span; a no-op while disabled."""
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.idx = tracer.open(name) if tracer.enabled else None

            def __exit__(self, *exc):
                if self.idx is not None:
                    tracer.close(self.idx)

        return _Ctx()

    def wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            idx = tracer.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(idx)

        wrapper.__wrapped_by_tracer__ = True
        return wrapper


def public_functions(module) -> dict[str, object]:
    """Functions defined in ``module`` whose names do not start with ``_``."""
    return {
        n: f for n, f in vars(module).items()
        if inspect.isfunction(f) and not n.startswith("_") and f.__module__ == module.__name__
    }


def install(tracer: Tracer, modules: list[str], package: str = PACKAGE) -> int:
    """Wrap every public function of each ``<package>.<module>``; returns the
    number of references replaced."""
    originals: dict[int, tuple[object, object]] = {}
    for short in modules:
        mod = sys.modules.get(f"{package}.{short}")
        if mod is None:
            __import__(f"{package}.{short}")
            mod = sys.modules[f"{package}.{short}"]
        for name, fn in public_functions(mod).items():
            if getattr(fn, "__wrapped_by_tracer__", False):
                continue
            originals[id(fn)] = (fn, tracer.wrap(f"{short}.{name}", fn))
    replaced = 0
    for mname, mod in list(sys.modules.items()):
        if mod is None or not (mname == package or mname.startswith(package + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            hit = originals.get(id(val))
            if hit is not None and hit[0] is val:
                setattr(mod, attr, hit[1])
                replaced += 1
    return replaced


def wrap_method(tracer: Tracer, cls, method: str, name: str) -> None:
    setattr(cls, method, tracer.wrap(name, getattr(cls, method)))


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the durations of its direct children."""
    own = [s.dur for s in spans]
    for s in spans:
        if s.parent >= 0:
            own[s.parent] -= s.dur
    return own


def layer_of(name: str) -> str:
    """Layer a span's self time is charged to: ``q.mk`` -> ``plans.mk``
    (plan construction outside any module call), ``q.drain`` -> ``ckpt.drain``,
    ``operators.dedup.minhash_near_dups`` -> ``operators.dedup``,
    ``catalog.load_table`` -> ``catalog``, ``ml.fit`` -> ``ml``."""
    harness = {"q.mk": "plans.mk", "q.action": "plans.action", "q.drain": "ckpt.drain",
               "q.catalyst_probe": "trace.catalyst_probe"}
    if name in harness:
        return harness[name]
    parts = name.split(".")
    if parts[0] == "operators":
        return ".".join(parts[:2])
    return parts[0]


def layer_self_time(spans: list[Span]) -> dict[str, float]:
    """Self time per layer over main-thread spans; their sum equals the sum
    of the top-level spans' durations."""
    out: dict[str, float] = defaultdict(float)
    for s, own in zip(spans, self_times(spans)):
        if s.main_thread:
            out[layer_of(s.name)] += own
    return dict(out)


def outermost_total(spans: list[Span], match) -> float:
    """Total duration of main-thread spans accepted by ``match(name)`` that
    are not nested inside another accepted span (no double counting)."""
    total = 0.0
    for s in spans:
        if not (s.main_thread and match(s.name)):
            continue
        p = s.parent
        while p >= 0 and not match(spans[p].name):
            p = spans[p].parent
        if p < 0:
            total += s.dur
    return total


def count(spans: list[Span], name: str) -> int:
    return sum(1 for s in spans if s.name == name)
