"""Spans and counters recorded from outside the package.

``Tracer.install`` swaps wrappers in for the public entry points of each
layer and ``Tracer.uninstall`` puts the originals back:

* ``io.load_table`` (every module that imported the name),
* ``Lakehouse.upsert`` and ``Lakehouse.table``,
* every public ``pipelines.flows.*_flow``,
* the ``catalog._HadoopFS`` filesystem methods (counted, not timed).

A span records its op, its parent span, wall start/end (epoch seconds, the
clock Spark's event log uses) and its self time (wall minus child spans in
the same thread). While a span runs, the calling thread's Spark job
description is ``e2e|<op>|<span id>``, so the event-log reader can charge
each job to the span and op that caused it. Descriptions are thread-local
in PySpark's pinned-thread mode, which is why each wrapper sets its own
rather than relying on the op's: ``run_daily`` runs its stages on a
thread pool.

When ``active`` is false the wrappers call straight through, so traced and
untraced units can alternate in one process.
"""

from __future__ import annotations

import functools
import itertools
import sys
import threading
import time
from collections import Counter

DESC_KEY = "spark.job.description"
DESC_PREFIX = "e2e|"

# _HadoopFS method -> counted kind; mtime probes count as existence checks
FS_KINDS = {
    "list_subdirs": "list", "glob_dir_leaves": "list", "list_files": "list", "list_dir": "list",
    "read_text": "read", "read_bytes": "read",
    "write_text": "write", "write_bytes": "write", "write_text_atomic": "write",
    "write_bytes_atomic": "write", "create_exclusive": "write", "mkdirs": "write",
    "rename_exact": "rename", "link_exact": "rename",
    "delete": "delete",
    "exists": "exists", "mtime": "exists", "max_mtime": "exists",
}
FS_COUNTS = ("list", "read", "write", "rename", "delete", "exists")


class Span:
    __slots__ = ("sid", "parent", "op", "name", "t0", "t1", "child_s")

    def __init__(self, sid, parent, op, name, t0):
        self.sid, self.parent, self.op, self.name, self.t0 = sid, parent, op, name, t0
        self.t1 = t0
        self.child_s = 0.0

    @property
    def self_s(self) -> float:
        return self.t1 - self.t0 - self.child_s


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._lock = threading.Lock()
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._patches: list[tuple[object, str, object]] = []
        self.active = False
        self.op: str | None = None
        self.spans: list[Span] = []
        self.fs: Counter = Counter()  # (op, kind) -> calls

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def run_span(self, name: str, fn, *args, **kwargs):
        stack = self._stack()
        span = Span(next(self._ids), stack[-1].sid if stack else None, self.op, name, time.time())
        prev = self._sc.getLocalProperty(DESC_KEY)
        self._sc.setLocalProperty(DESC_KEY, f"{DESC_PREFIX}{self.op}|{span.sid}")
        stack.append(span)
        try:
            return fn(*args, **kwargs)
        finally:
            stack.pop()
            span.t1 = time.time()
            if stack:
                stack[-1].child_s += span.t1 - span.t0
            self._sc.setLocalProperty(DESC_KEY, prev)
            with self._lock:
                self.spans.append(span)

    def begin_op(self, op: str) -> Span:
        """Open the root span of one traced unit on the calling thread."""
        self.op, self.active = op, True
        span = Span(0, None, op, "op", time.time())
        self._sc.setLocalProperty(DESC_KEY, f"{DESC_PREFIX}{op}|0")
        return span

    def end_op(self, span: Span) -> None:
        span.t1 = time.time()
        self._sc.setLocalProperty(DESC_KEY, None)
        self.active, self.op = False, None

    def spans_of(self, op: str) -> list[Span]:
        with self._lock:
            return [s for s in self.spans if s.op == op]

    # -- patching ----------------------------------------------------------
    def _patch(self, owner, attr: str, wrapper) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def _timed(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            return tracer.run_span(name, fn, *args, **kwargs)

        return wrapper

    def _counted(self, kind: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            local = tracer._local
            depth = getattr(local, "fs_depth", 0)
            if tracer.active and depth == 0:
                with tracer._lock:
                    tracer.fs[(tracer.op, kind)] += 1
            local.fs_depth = depth + 1
            try:
                return fn(*args, **kwargs)
            finally:
                local.fs_depth = depth

        return wrapper

    def install(self) -> None:
        from at_data_pipelines_spark import catalog, io
        from at_data_pipelines_spark.pipelines import flows

        load_table = io.load_table
        wrapped = self._timed("io.load_table", load_table)
        for name, mod in list(sys.modules.items()):
            if name.startswith("at_data_pipelines_spark") and getattr(mod, "load_table", None) is load_table:
                self._patch(mod, "load_table", wrapped)
        self._patch(catalog.Lakehouse, "upsert", self._timed("catalog.upsert", catalog.Lakehouse.upsert))
        self._patch(catalog.Lakehouse, "table", self._timed("catalog.table", catalog.Lakehouse.table))
        for name in sorted(vars(flows)):
            if name.endswith("_flow") and not name.startswith("_") and callable(getattr(flows, name)):
                self._patch(flows, name, self._timed(f"flow.{name}", getattr(flows, name)))
        for meth, kind in FS_KINDS.items():
            if hasattr(catalog._HadoopFS, meth):
                self._patch(catalog._HadoopFS, meth, self._counted(kind, getattr(catalog._HadoopFS, meth)))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)
