"""Span recording around the program's layer entry points (traced runs only).

:func:`install` wraps the layer entry points the benchmark reports on
(``io.load`` and the public functions of every ``operators`` module) and
rebinds every module global that holds one of them: query
modules bind names such as ``load`` at import time (``from ..io import
load``), so patching the defining module alone would miss those calls.
Spans stay in memory in a :class:`Tracer`; the caller reads them after
each pass.
"""

from __future__ import annotations

import contextlib
import importlib
import inspect
import pkgutil
import sys
import time
from dataclasses import dataclass, field

PKG = "big_data__instagram_analysis_spark"

@dataclass
class Span:
    name: str
    start: float
    parent: Span | None
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)  # launched in self time
    children: list[Span] = field(default_factory=list)
    attrs: dict = field(default_factory=dict)  # set by the caller

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        return self.duration - sum(c.duration for c in self.children)

    def all_jobs(self) -> list[int]:
        out = list(self.jobs)
        for c in self.children:
            out.extend(c.all_jobs())
        return out


class Tracer:
    """Records a tree of spans; the probe attributes each Spark job to the
    innermost span open when the job was first seen."""

    def __init__(self, probe) -> None:
        self._probe = probe
        self._open: list[Span] = []
        self.roots: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        jobs = self._probe.advance()  # jobs seen between spans are dropped
        if parent is not None:
            parent.jobs.extend(jobs)
        s = Span(name, time.perf_counter(), parent)
        (parent.children if parent else self.roots).append(s)
        self._open.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()
            s.jobs.extend(self._probe.advance())

    def take(self) -> list[Span]:
        roots, self.roots = self.roots, []
        return roots


class _Traced:
    """Callable stand-in for one entry point. Pickles as the original, so
    a wrapped function shipped to a Python worker runs unwrapped there."""

    def __init__(self, tracer: Tracer, name: str, fn) -> None:
        self._tracer, self._name, self.__wrapped__ = tracer, name, fn
        self.__name__, self.__doc__ = fn.__name__, fn.__doc__

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._name):
            return self.__wrapped__(*args, **kwargs)

    def __reduce__(self):
        return getattr, (sys.modules[self.__wrapped__.__module__], self.__name__)


def _public_functions(module) -> list:
    return [
        f
        for n, f in vars(module).items()
        if inspect.isfunction(f) and f.__module__ == module.__name__ and not n.startswith("_")
    ]


def entry_points():
    """(span name, functions) for each layer the benchmark reports on."""
    io = importlib.import_module(f"{PKG}.io")
    yield "io.load", [io.load]
    ops = importlib.import_module(f"{PKG}.operators")
    for info in pkgutil.iter_modules(ops.__path__):
        module = importlib.import_module(f"{ops.__name__}.{info.name}")
        yield f"operators.{info.name}", _public_functions(module)


def install(tracer: Tracer):
    """Wrap every entry point and rebind each package global that holds one.

    Returns a function that puts the original functions back.
    """
    swap: dict[int, _Traced] = {}
    for span_name, fns in entry_points():
        for fn in fns:
            swap[id(fn)] = _Traced(tracer, span_name, fn)
    rebound = []
    for mod_name, module in list(sys.modules.items()):
        if mod_name != PKG and not mod_name.startswith(PKG + "."):
            continue
        for attr, value in list(vars(module).items()):
            wrapper = swap.get(id(value))
            if wrapper is not None and wrapper.__wrapped__ is value:
                setattr(module, attr, wrapper)
                rebound.append((module, attr, value))

    def uninstall() -> None:
        for module, attr, value in rebound:
            setattr(module, attr, value)

    return uninstall
