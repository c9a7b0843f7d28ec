"""Spans around the package's layer functions, tied to Spark job groups.

Used only by a traced run (``--trace 1``). :func:`install` replaces every
public function of the layer modules with a wrapper, in every package
module that holds a reference to it (so ``from .x import f`` call sites
are covered too) and in the closures of registered query functions; the
registered queries of the ``plans`` modules get spans named
``plans.<module>.<key>``. While the tracer is active each call records a span
(name, start, end, parent, run id) in memory and runs under the Spark
job group ``perfbench:<run>:<span id>``; the event-log parser maps each
job back to the innermost span that launched it.

A lazy function's span covers only the time to build its plan; the plan
executes in the span of the action that consumes it.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import sys
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass

PACKAGE = "maap_data_pipelines_spark"
GROUP_PREFIX = "perfbench"

# module paths (relative to the package) whose public functions get spans;
# a span is named "<module>.<function>"
LAYER_MODULES = (
    "pipelines",
    "plans.stac",
    "plans.llm",
    "operators.dedup",
    "operators.curation",
    "operators.text",
    "operators.ann",
    "operators.kmeans",
    "operators.pq",
    "functions.joins",
    "sinks",
    "sources.catalog",
    "table",
    "streaming.cascade",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run: str
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


def group_id(run: str, span_id: int) -> str:
    return f"{GROUP_PREFIX}:{run}:{span_id}"


def parse_group(group: str | None) -> tuple[str, int] | None:
    """Inverse of :func:`group_id`; None for jobs outside any run."""
    if not group or not group.startswith(GROUP_PREFIX + ":"):
        return None
    _, run, span_id = group.rsplit(":", 2)
    return run, int(span_id)


class Tracer:
    """In-memory span recorder. Span id 0 of each run is the run itself."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self.active = False
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    @contextmanager
    def run(self, run_id: str, traced: bool):
        """Root span of one workload run; inner spans only if ``traced``."""
        root = Span(0, "run", None, run_id, time.perf_counter())
        self._stack.append(root)
        self.sc.setJobGroup(group_id(run_id, 0), "run")
        self.active = traced
        try:
            yield root
        finally:
            self.active = False
            root.end = time.perf_counter()
            self._stack.pop()
            self.sc._jsc.clearJobGroup()
            self.spans.append(root)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1]
        s = Span(next(self._ids), name, parent.id, parent.run, time.perf_counter())
        self._stack.append(s)
        self.sc.setJobGroup(group_id(s.run, s.id), name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.sc.setJobGroup(group_id(parent.run, parent.id), parent.name)
            self.spans.append(s)

    def wrap(self, name: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


def install(tracer: Tracer) -> None:
    """Wrap the layer modules' public functions, for the process's life."""
    wrapped: dict[Callable, Callable] = {}
    for rel in LAYER_MODULES:
        mod = importlib.import_module(f"{PACKAGE}.{rel}")
        for attr, fn in vars(mod).items():
            if (
                not attr.startswith("_")
                and inspect.isfunction(fn)
                and fn.__module__ == mod.__name__
            ):
                wrapped[fn] = tracer.wrap(f"{rel}.{attr}", fn)

    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == PACKAGE or name.startswith(PACKAGE + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            if inspect.isfunction(val) and val in wrapped:
                setattr(mod, attr, wrapped[val])

    # registered queries: a span per key, and wrapped operators inside
    # (e.g. plans.llm's ``_emb_plan(op)`` closures)
    for rel in LAYER_MODULES:
        registered = getattr(importlib.import_module(f"{PACKAGE}.{rel}"), "QUERIES", {})
        for key, fn in list(registered.items()):
            for cell in fn.__closure__ or ():
                if inspect.isfunction(cell.cell_contents) and cell.cell_contents in wrapped:
                    cell.cell_contents = wrapped[cell.cell_contents]
            registered[key] = tracer.wrap(f"{rel}.{key}", fn)


def self_times(spans: list[Span]) -> dict[tuple[str, int], float]:
    """(run, span id) -> duration minus the part of it that the span's
    children cover (overlapping children are counted once)."""
    children: dict[tuple[str, int], list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault((s.run, s.parent), []).append(s)
    out = {}
    for s in spans:
        covered, cursor = 0.0, s.start
        for c in sorted(children.get((s.run, s.id), ()), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[(s.run, s.id)] = s.duration - covered
    return out
