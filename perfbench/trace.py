"""Spans around the calls into each layer of blow_spark, recorded from outside.

``Tracer.install`` replaces every public module-level function of the
traced modules with a wrapper that records a span while the tracer is
active, and rebinds the references other ``blow_spark`` modules took with
``from module import name``. It also wraps the pyspark DataFrame methods
that materialize (``localCheckpoint``, ``checkpoint``, ``cache``,
``persist``), so checkpoints taken outside ``materialize.py`` are counted.

Wrappers keep the wrapped function's ``__module__`` and ``__qualname__``
and are what the module attribute now holds, so pickling a wrapper (a UDF
that closes over a traced function) resolves by reference to the plain
function in executor-side workers.

Spans stay in memory; self time is a span's duration minus the part of it
that its child spans cover.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import os
import sys
import threading
import time
from dataclasses import dataclass

#: blow_spark modules whose public functions get spans, as ``<layer>.<fn>``.
TRACED_MODULES = (
    "materialize",
    "ops",
    "dedup",
    "similarity",
    "functions",
    "acmatch",
    "sources",
    "streaming",
    "datasource",
    "pipeline",
)

#: pyspark DataFrame methods that materialize a plan or pin it in memory.
DATAFRAME_METHODS = ("localCheckpoint", "checkpoint", "cache", "persist")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    query: str | None

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    """Records spans of the current query while ``active`` is set."""

    def __init__(self) -> None:
        self.active = False
        self.query: str | None = None
        self.spans: list[Span] = []
        #: localCheckpoint/checkpoint calls made outside materialize.py
        self.raw_checkpoints = 0
        self._lock = threading.Lock()
        self._stacks = threading.local()

    def _stack(self) -> list[int]:
        stack = getattr(self._stacks, "ids", None)
        if stack is None:
            stack = self._stacks.ids = []
        return stack

    def begin(self, name: str) -> int:
        stack = self._stack()
        span = Span(name, time.time(), 0.0, stack[-1] if stack else None, self.query)
        with self._lock:
            self.spans.append(span)
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx].end = time.time()
        self._stack().pop()

    def call(self, name: str, fn, args, kwargs):
        idx = self.begin(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.end(idx)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            return self.call(name, fn, args, kwargs)

        return traced

    def _wrap_checkpoint(self, name: str, fn):
        materialize_py = os.sep + os.path.join("blow_spark", "materialize.py")

        @functools.wraps(fn)
        def traced(df, *args, **kwargs):
            if not self.active:
                return fn(df, *args, **kwargs)
            if not sys._getframe(1).f_code.co_filename.endswith(materialize_py):
                with self._lock:
                    self.raw_checkpoints += 1
            return self.call(name, fn, (df, *args), kwargs)

        return traced

    def install(self) -> None:
        """Wrap the traced modules and DataFrame methods (once per process)."""
        originals: dict[int, object] = {}
        for mod_name in TRACED_MODULES:
            mod = importlib.import_module(f"blow_spark.{mod_name}")
            for attr, fn in list(vars(mod).items()):
                if attr.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != mod.__name__:
                    continue
                wrapped = self.wrap(f"{mod_name}.{attr}", fn)
                setattr(mod, attr, wrapped)
                originals[id(fn)] = wrapped
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith("blow_spark"):
                continue
            for attr, value in list(vars(mod).items()):
                wrapped = originals.get(id(value))
                if wrapped is not None and value is not wrapped:
                    setattr(mod, attr, wrapped)
        from pyspark.sql.classic.dataframe import DataFrame

        for meth in DATAFRAME_METHODS:
            fn = getattr(DataFrame, meth)
            if meth in ("localCheckpoint", "checkpoint"):
                setattr(DataFrame, meth, self._wrap_checkpoint(f"pyspark.{meth}", fn))
            else:
                setattr(DataFrame, meth, self.wrap(f"pyspark.{meth}", fn))


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)`` intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span], skip=lambda span: False) -> list[float]:
    """Each span's duration minus the union of its children's intervals
    (clipped to the span); children for which ``skip`` is true count as
    part of their parent's self time."""
    children: dict[int, list[tuple[float, float]]] = {}
    for span in spans:
        if span.parent is not None and not skip(span):
            parent = spans[span.parent]
            lo, hi = max(span.start, parent.start), min(span.end, parent.end)
            if hi > lo:
                children.setdefault(span.parent, []).append((lo, hi))
    return [
        (span.end - span.start) - union_length(children.get(i, []))
        for i, span in enumerate(spans)
    ]


def innermost(spans: list[Span], query: str, t: float) -> Span | None:
    """The deepest span of ``query`` whose interval contains time ``t``."""
    best = None
    for span in spans:
        if span.query == query and span.start <= t <= span.end:
            if best is None or span.start >= best.start:
                best = span
    return best


def ancestors(spans: list[Span], span: Span):
    """``span`` and then each enclosing span up to the root."""
    while span is not None:
        yield span
        span = spans[span.parent] if span.parent is not None else None
