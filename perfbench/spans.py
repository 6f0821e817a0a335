"""In-memory spans around the calls into each ``minivectordb_spark`` module.

The traced run wraps, from the benchmark's side, every public function and
public method that a package module defines, and re-binds every reference
to them that package modules and ``__spark_entry__`` imported.  Each call
then records a span: name, start, end, parent.  Spans stay in memory and
are handed to the report at exit.

Spark jobs get the operation's label twice: as the job description and as
a job tag (``spark.addTag``), so the event log names the operation that
launched them.  Jobs launched from helper threads carry neither; they are
charged by time window (see ``eventlog.charge_jobs``) and counted.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import pkgutil
import sys
import threading
import time
from contextlib import contextmanager

from eventlog import Span

PACKAGE = "minivectordb_spark"


def layer_of(module_name: str) -> str:
    """``minivectordb_spark.operators.dedup`` -> ``operators.dedup``;
    every ``streaming`` submodule is the one ``streaming`` layer."""
    rel = module_name[len(PACKAGE) + 1:]
    if rel.startswith("operators."):
        return rel
    return rel.split(".")[0]


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.recording = False
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: Span | None = None

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, layer: str):
        st = self._stack()
        if st:
            parent = st[-1].sid
        else:
            # a helper thread's first span hangs under the open operation
            parent = self._root.sid if self._root is not None else 0
        s = Span(next(self._ids), parent, name, layer, time.time(), 0.0)
        st.append(s)
        try:
            yield s
        finally:
            s.t1 = time.time()
            st.pop()
            with self._lock:
                self.spans.append(s)

    @contextmanager
    def op(self, label: str, record: bool = True):
        """One labelled operation.  With ``record`` it is also the root
        span of the package spans it calls."""
        sc = self.spark.sparkContext
        sc.setJobDescription(label)
        self.spark.addTag(label)
        try:
            if record:
                self.recording = True
                with self.span(label, "op") as root:
                    self._root = root
                    try:
                        yield root
                    finally:
                        self._root = None
                        self.recording = False
            else:
                yield None
        finally:
            self.spark.removeTag(label)
            sc.setJobDescription(None)

    def calibrate(self, calls: int = 20000, labels: int = 50) -> tuple[float, float]:
        """Seconds one span adds to a wrapped call, and seconds one label
        (description + tag, set and cleared) adds to an operation."""
        noop = _wrap(self, lambda: None, "calibrate", "calibrate")
        kept = len(self.spans)
        t0 = time.perf_counter()
        self.recording = True
        for _ in range(calls):
            noop()
        self.recording = False
        t1 = time.perf_counter()
        for _ in range(calls):
            noop()
        t2 = time.perf_counter()
        del self.spans[kept:]
        for _ in range(labels):
            with self.op("calibrate", record=False):
                pass
        t3 = time.perf_counter()
        return max(0.0, ((t1 - t0) - (t2 - t1)) / calls), (t3 - t2) / labels


def _wrap(tracer: Tracer, fn, name: str, layer: str):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        if not tracer.recording:
            return fn(*args, **kwargs)
        with tracer.span(name, layer):
            return fn(*args, **kwargs)

    return traced


def instrument(tracer: Tracer) -> None:
    """Wrap the package's public functions and methods.

    A wrapper keeps the original's module and qualified name, and the
    module attribute points at the wrapper, so cloudpickle still pickles
    it by reference and executors import the unwrapped original.
    """
    pkg = importlib.import_module(PACKAGE)
    for info in pkgutil.walk_packages(pkg.__path__, PACKAGE + "."):
        importlib.import_module(info.name)
    modules = [m for n, m in sorted(sys.modules.items())
               if n == PACKAGE or n.startswith(PACKAGE + ".")]
    replaced: dict[int, object] = {}
    for mod in modules:
        layer = layer_of(mod.__name__) if mod.__name__ != PACKAGE else "package"
        for name, obj in list(vars(mod).items()):
            if name.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                continue
            if inspect.isfunction(obj):
                w = _wrap(tracer, obj, f"{layer}.{name}", layer)
                replaced[id(obj)] = w
                setattr(mod, name, w)
            elif inspect.isclass(obj):
                for attr, raw in list(vars(obj).items()):
                    if attr.startswith("_"):
                        continue
                    label = f"{layer}.{name}.{attr}"
                    if isinstance(raw, staticmethod):
                        setattr(obj, attr, staticmethod(_wrap(tracer, raw.__func__, label, layer)))
                    elif isinstance(raw, classmethod):
                        setattr(obj, attr, classmethod(_wrap(tracer, raw.__func__, label, layer)))
                    elif inspect.isfunction(raw):
                        setattr(obj, attr, _wrap(tracer, raw, label, layer))
    # re-bind `from module import name` copies held by other modules
    holders = modules + [sys.modules[n] for n in ("__spark_entry__",) if n in sys.modules]
    for mod in holders:
        for name, obj in list(vars(mod).items()):
            w = replaced.get(id(obj))
            if w is not None and getattr(w, "__wrapped__", None) is obj:
                setattr(mod, name, w)
