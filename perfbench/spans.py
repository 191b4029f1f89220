"""Spans around the program's layer entry points, kept in memory.

A span is (id, name, start, end, parent) plus the pass and query
execution it belongs to. While a span is open its thread's Spark job
group reads ``<workload>:<pass>:<query>:<name>#<span id>``, so the
event log can hang every Spark job under the span that submitted it.
Each thread keeps its own span stack: pool threads (as in
``scratch.run_parallel``) start from the span that handed them work,
because Spark job groups are thread-local and not inherited.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import itertools
import sys
import threading
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field
from typing import Any

GROUP_KEY = "spark.jobGroup.id"

#: Layers whose public functions the traced run wraps.
LAYER_MODULES = (
    "tables",
    "sources.staging",
    "sources.catalog",
    "sources.csv",
    "scratch",
)


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    pass_no: int | None = None
    query: str | None = None
    exec_id: int | None = None
    attrs: dict[str, Any] = field(default_factory=dict)


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it covered by its children."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - union_length(children.get(s.id, []), s.start, s.end)
        for s in spans
    }


class Tracer:
    """Records spans and keeps each thread's Spark job group in step.

    ``set_group`` is the function that sets (or, given None, clears) the
    calling thread's job group; a real run passes the SparkContext's
    ``setLocalProperty``, tests pass a recorder."""

    def __init__(self, workload: str, set_group: Callable[[str | None], None]) -> None:
        self.workload = workload
        self.spans: list[Span] = []
        self.pass_no: int | None = None
        self.query: str | None = None
        self.exec_id: int | None = None
        self._set_group = set_group
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[Any, str, Any]] = []

    def _stack(self) -> list[tuple[Span, str]]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> Span | None:
        stack = self._stack()
        if stack:
            return stack[-1][0]
        return getattr(self._local, "base", None)

    def group_of(self, span: Span) -> str:
        return f"{self.workload}:{span.pass_no}:{span.query}:{span.name}#{span.id}"

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[Span]:
        parent = self.current()
        with self._lock:
            sid = next(self._ids)
        sp = Span(sid, name, time.time(), 0.0, parent.id if parent else None,
                  self.pass_no, self.query, self.exec_id)
        stack = self._stack()
        group = self.group_of(sp)
        self._set_group(group)
        stack.append((sp, group))
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            self._set_group(stack[-1][1] if stack else getattr(self._local, "base_group", None))
            with self._lock:
                self.spans.append(sp)

    def wrap(self, name: str, fn: Callable[..., Any]) -> Callable[..., Any]:
        @functools.wraps(fn)
        def traced(*args: Any, **kwargs: Any) -> Any:
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def wrap_pool(self, name: str, fn: Callable[..., Any]) -> Callable[..., Any]:
        """Wrapper for a function that runs its callable arguments on
        pool threads: each callable runs under the wrapper's span."""

        @functools.wraps(fn)
        def traced(*thunks: Callable[[], Any]) -> Any:
            with self.span(name) as sp:
                group = self.group_of(sp)
                return fn(*(self._adopt(sp, group, th) for th in thunks))

        return traced

    def _adopt(self, sp: Span, group: str, thunk: Callable[[], Any]) -> Callable[[], Any]:
        def run() -> Any:
            if self.current() is sp:  # same thread (single-thunk fast path)
                return thunk()
            self._local.base, self._local.base_group = sp, group
            self._set_group(group)
            try:
                return thunk()
            finally:
                self._local.base = self._local.base_group = None
                self._set_group(None)

        return run

    def install(self, package: str = "spark_hive_spark") -> list[str]:
        """Wrap every public function of the layer modules, in the module
        that defines it and in every ``package`` module that imported it
        by name. Returns the wrapped names."""
        wrapped = []
        for short in LAYER_MODULES:
            mod = importlib.import_module(f"{package}.{short}")
            for attr, fn in list(vars(mod).items()):
                if attr.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != mod.__name__:
                    continue
                name = f"{short}.{attr}"
                new = (self.wrap_pool if name == "scratch.run_parallel" else self.wrap)(name, fn)
                for m in list(sys.modules.values()):
                    if getattr(m, "__name__", "").startswith(package):
                        for a, v in list(vars(m).items()):
                            if v is fn:
                                setattr(m, a, new)
                                self._patched.append((m, a, fn))
                wrapped.append(name)
        return wrapped

    def uninstall(self) -> None:
        for m, a, fn in reversed(self._patched):
            setattr(m, a, fn)
        self._patched.clear()
