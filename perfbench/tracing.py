"""Span tracing and Spark counters, installed from outside the program.

``Tracer.install`` wraps public functions of the engine's layers
(plans, engine, plans.writes, graph, sources, operators) by replacing
the module or class attribute with a wrapper; no program file is
edited. Each span is ``[name, start, end, parent, op]``: the parent is
the index of the enclosing span (or None), and ``op`` the id of the
benchmark operation that caused it. Spans stay in memory and are
written as JSON once, at the end of the run.

``SparkCounters`` reads per-job-group counters (jobs, stages, tasks,
stage wall, shuffle and spill bytes) from the status tracker and the
in-process AppStatusStore. It is called between operations, outside
any timed region.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import sys
import time

#: (module, owner attribute path, span name). The owner is the module
#: itself for functions, or "Class.method" for methods.
TRACED = [
    ("postgraph_spark.plans.parser", "parse", "plans.parse"),
    ("postgraph_spark.plans.compiler", "Compiler.compile_query", "plans.compile"),
    # the write path compiles its MATCH/RETURN clauses one by one
    ("postgraph_spark.plans.compiler", "Compiler.compile_clause", "plans.compile"),
    ("postgraph_spark.plans.compiler", "Compiler.compile_projection", "plans.compile"),
    ("postgraph_spark.engine", "CypherEngine.execute", "engine.execute"),
    ("postgraph_spark.plans.writes", "WriteRunner.run", "writes.run"),
    ("postgraph_spark.graph", "Graph.persist", "graph.persist"),
    ("postgraph_spark.graph", "Graph.persist_append", "graph.persist"),
    ("postgraph_spark.graph", "Graph.persist_partitions", "graph.persist"),
    ("postgraph_spark.graph", "Graph.alloc_entry_ids", "graph.alloc_ids"),
    ("postgraph_spark.graph", "tpch_graph", "graph.build"),
    ("postgraph_spark.sources.loader", "load_vertices", "sources.load"),
    ("postgraph_spark.sources.loader", "load_edges", "sources.load"),
    ("postgraph_spark.operators.vle", "vle", "operators.vle"),
]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[list] = []
        self.op: int | None = None
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = [name, time.perf_counter(), None, self._stack[-1] if self._stack else None, self.op]
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec[2] = time.perf_counter()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self, targets=TRACED) -> None:
        """Wrap every target. A function imported by name into another
        engine module (``from ... import parse``) is replaced there too,
        so calls through either binding are traced."""
        for mod_name, path, span_name in targets:
            __import__(mod_name)
            mod = sys.modules[mod_name]
            if "." in path:
                cls_name, attr = path.split(".")
                owner = getattr(mod, cls_name)
                self._patch(owner, attr, self.wrap(span_name, getattr(owner, attr)))
                continue
            orig = getattr(mod, path)
            wrapped = self.wrap(span_name, orig)
            for name, other in list(sys.modules.items()):
                if name.startswith("postgraph_spark") and getattr(other, path, None) is orig:
                    self._patch(other, path, wrapped)

    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- analysis ---------------------------------------------------------

    def self_times(self) -> list[float]:
        """Per span: duration minus the time its direct children cover."""
        child = [0.0] * len(self.spans)
        for name, start, end, parent, _op in self.spans:
            if parent is not None and end is not None:
                child[parent] += end - start
        return [
            (end - start) - child[i] if end is not None else 0.0
            for i, (_n, start, end, _p, _o) in enumerate(self.spans)
        ]

    def total(self, name: str, ops: set[int] | None = None) -> tuple[float, int]:
        """(summed seconds, count) of spans called `name`, optionally
        only those caused by the given operations. A span nested in a
        span of the same name (a persist calling persist) is already
        covered by the outer one and not counted again."""
        secs, n = 0.0, 0
        for name_, start, end, parent, op in self.spans:
            if name_ != name or end is None or (ops is not None and op not in ops):
                continue
            while parent is not None and self.spans[parent][0] != name:
                parent = self.spans[parent][3]
            if parent is None:
                secs += end - start
                n += 1
        return secs, n

    def ops_with(self, name: str) -> set[int]:
        return {s[4] for s in self.spans if s[0] == name}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {"fields": ["name", "start", "end", "parent", "op"], "spans": self.spans}, f
            )


def wrapper_cost_s() -> float:
    """Seconds one traced call adds over an untraced one, measured on a
    no-op function (median of five batches of 20,000 calls)."""

    def noop():
        return None

    calls, samples = 20000, []
    for _ in range(5):
        traced = Tracer().wrap("noop", noop)
        t0 = time.perf_counter()
        for _ in range(calls):
            noop()
        plain = time.perf_counter() - t0
        t0 = time.perf_counter()
        for _ in range(calls):
            traced()
        samples.append((time.perf_counter() - t0 - plain) / calls)
    return max(statistics.median(samples), 0.0)


class SparkCounters:
    """Counters of the jobs one job group ran, read after the group's
    last action. A stage that was skipped (its shuffle output reused)
    has no store entry and is not counted."""

    FIELDS = ("jobs", "stages", "tasks", "stage_wall_ms", "shuffle_bytes", "spill_bytes")

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._store = self.sc._jsc.sc().statusStore().store()
        self._job_cls = jvm.java.lang.Class.forName("org.apache.spark.status.JobDataWrapper")
        self._stage_cls = jvm.java.lang.Class.forName("org.apache.spark.status.StageDataWrapper")

    def read(self, group: str) -> dict[str, float]:
        out = dict.fromkeys(self.FIELDS, 0.0)
        gw = self.sc._gateway
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            out["jobs"] += 1
            sids = self._store.read(self._job_cls, jid).info().stageIds()
            for k in range(sids.size()):
                key = gw.new_array(gw.jvm.int, 2)
                key[0], key[1] = sids.apply(k), 0
                try:
                    info = self._store.read(self._stage_cls, key).info()
                except Exception:  # skipped stage: no entry in the store
                    continue
                out["stages"] += 1
                out["tasks"] += info.numTasks()
                out["shuffle_bytes"] += info.shuffleWriteBytes()
                out["spill_bytes"] += info.diskBytesSpilled()
                first, done = info.firstTaskLaunchedTime(), info.completionTime()
                if first.isDefined() and done.isDefined():
                    out["stage_wall_ms"] += done.get().getTime() - first.get().getTime()
        return out
