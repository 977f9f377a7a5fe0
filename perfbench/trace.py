"""Span tracing from outside the program.

The tracer installs wrappers at the names callers look up — module
attributes such as ``jobs.write_silver`` and every module that imported
the same function object, or class attributes such as
``ManifestLakeTable.merge_into`` — and records one span per call: name,
start, end, parent span and op id. Spans stay in memory and are written
out when the run ends.

Spark work is counted per span through a job group: a counted span sets
its own group on entry and restores its parent's on exit, and once the
run is over ``statusTracker()`` maps each group to its jobs, their stages
and the stages' tasks. Spark runs lazily, so a DataFrame's cost lands on
the span of the call that triggers the action, not the call that built
the plan.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PKG = "fred_economic_data_pipeline_local_spark"


@dataclass
class Span:
    span_id: int
    parent: int | None
    op_id: int | None
    name: str
    start: float
    end: float = 0.0
    group: str | None = None  # Spark job group, for counted spans
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    children_s: float = field(default=0.0)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.children_s


class Tracer:
    """Records spans when enabled; a disabled tracer installs nothing and
    its ``span`` is an empty context."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self.op_id: int | None = None
        self._tag = f"pb{os.getpid()}"

    # --- spans ---------------------------------------------------------------

    @contextmanager
    def span(self, name: str, counted: bool = False):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent.span_id if parent else None,
                 self.op_id, name, time.perf_counter())
        self.spans.append(s)
        sc = self.spark.sparkContext
        if counted:
            s.group = f"{self._tag}-{s.span_id}"
            sc.setJobGroup(s.group, name)
        self._stack.append(s)
        try:
            yield s
        finally:
            self._stack.pop()
            if counted:
                outer = next((p.group for p in reversed(self._stack) if p.group), None)
                if outer:
                    sc.setJobGroup(outer, "")
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
            s.end = time.perf_counter()
            if parent is not None:
                parent.children_s += s.dur

    # --- wrappers ------------------------------------------------------------

    def _wrapper(self, fn, name: str, counted: bool):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name, counted):
                return fn(*args, **kwargs)

        return traced

    def wrap_function(self, fn, name: str, counted: bool = False) -> None:
        """Replace ``fn`` at every name bound to it in the package's loaded
        modules, so each caller's lookup finds the wrapper."""
        if not self.enabled:
            return
        w = self._wrapper(fn, name, counted)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PKG or mod_name.startswith(PKG + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self._patches.append((mod, attr, val))
                    setattr(mod, attr, w)

    def wrap_method(self, cls, attr: str, name: str, counted: bool = False) -> None:
        if not self.enabled:
            return
        orig = cls.__dict__[attr]
        self._patches.append((cls, attr, orig))
        setattr(cls, attr, self._wrapper(orig, name, counted))

    def wrap_module(self, module, prefix: str) -> None:
        """Wrap every public function a module defines."""
        for attr, val in list(vars(module).items()):
            if (
                not attr.startswith("_")
                and inspect.isfunction(val)
                and val.__module__ == module.__name__
            ):
                self.wrap_function(val, f"{prefix}.{attr}")

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # --- Spark counts --------------------------------------------------------

    def resolve_spark_counts(self) -> None:
        """Fill job/stage/task counts of counted spans (call once the
        timed work is over, so the listener has seen every job)."""
        from py4j.protocol import Py4JError

        sc = self.spark.sparkContext
        try:
            sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Py4JError:  # private API; the listener drains within ms anyway
            time.sleep(1.0)
        st = sc.statusTracker()
        for s in self.spans:
            if not s.group:
                continue
            for j in st.getJobIdsForGroup(s.group):
                info = st.getJobInfo(j)
                if info is None:
                    continue
                s.jobs += 1
                for sid in info.stageIds:
                    si = st.getStageInfo(sid)
                    if si is not None:  # skipped stages never ran
                        s.stages += 1
                        s.tasks += si.numTasks

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "span": s.span_id, "parent": s.parent, "op": s.op_id,
                    "name": s.name, "start": s.start, "end": s.end,
                    "self_s": s.self_s, "jobs": s.jobs, "stages": s.stages,
                    "tasks": s.tasks,
                }) + "\n")


def subtree(spans: list[Span], root: Span) -> list[Span]:
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.span_id, ()))
    return out


def dir_snapshot(*roots: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every file under the roots."""
    out = {}
    for root in roots:
        for dirpath, _, files in os.walk(root):
            for f in files:
                p = os.path.join(dirpath, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written(before: dict, after: dict, under: str) -> tuple[int, int]:
    """(files, bytes) created or rewritten under a directory between two
    snapshots."""
    files = nbytes = 0
    for p, meta in after.items():
        if p.startswith(under) and before.get(p) != meta:
            files += 1
            nbytes += meta[0]
    return files, nbytes
