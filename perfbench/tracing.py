"""Traced mode: spans and counts recorded around the engine's public entry
points, from the benchmark's side only (the engine is not modified).

A span has a name, start, end, parent span and the id of the timed
operation it ran under. Spans stay in memory and are written out as JSON
when the run ends. A layer's self time is its span durations minus the
time their traced child spans cover, so the self times of one operation
partition its wall time.

Wrapped boundaries (span name -> entry point):

- ``plans.execute``        MzSession.execute
- ``plans.parse``          plans.parser.parse_statement
- ``plans.rewrite``        plans.dialect.rewrite
- ``spark.analyze``        SparkSession.sql
- ``spark.optimize``       QueryExecution.executedPlan(), forced before collect
- ``spark.execute``        DataFrame.collect
- ``ckpt.break``           ckpt.lineage_break / ckpt.fresh_break
- ``catalog.register_table``  Catalog.register_table
- ``streaming.on_batch``   on_batch of the delta_ivm, retraction, ivm_join
                           and semijoin operators
- ``sources.tick``         MzSession.tick_sources
- ``sources.poll``         KafkaWireStream.poll

Counted, not spanned: py4j round trips and the time spent in them
(``ClientServerConnection.send_command``), Spark jobs and tasks per
operation (status tracker), and compactions (a ``SpilledPartsState``
fold from ``full_frame`` to ``replace``).
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        # [name, start, end, parent index, op id]
        self.spans: list[list] = []
        self.op_id: int | None = None
        self._tls = threading.local()
        self.py4j_calls: dict[int, int] = defaultdict(int)
        self.py4j_wait: dict[int, float] = defaultdict(float)
        self.jobs: dict[int, int] = defaultdict(int)
        self.tasks: dict[int, int] = defaultdict(int)
        self.compactions: list[tuple[int, float]] = []  # (op id, seconds)
        self._fold_start: dict[int, float] = {}
        self._undo: list[tuple[object, str, object]] = []
        self._next_job = 0
        self._sc = None

    # -- spans ---------------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def enter(self, name: str) -> int:
        st = self._stack()
        idx = len(self.spans)
        self.spans.append([name, time.perf_counter(), None,
                           st[-1] if st else None, self.op_id])
        st.append(idx)
        return idx

    def exit(self, idx: int) -> None:
        self.spans[idx][2] = time.perf_counter()
        self._stack().pop()

    def traced(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            idx = tracer.enter(name)
            try:
                return fn(*a, **kw)
            finally:
                tracer.exit(idx)
        return wrapper

    # -- installing wrappers -------------------------------------------------
    def _set(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def wrap_function(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` at every engine import site: modules
        that did ``from module import attr`` hold their own reference."""
        original = getattr(module, attr)
        wrapper = self.traced(name, original)
        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", "")
            if not mname.startswith("materialize_spark"):
                continue
            for key, val in list(vars(mod).items()):
                if val is original:
                    self._set(mod, key, wrapper)

    def wrap_method(self, cls, attr: str, name: str) -> None:
        self._set(cls, attr, self.traced(name, cls.__dict__[attr]))

    def install(self, spark) -> None:
        import importlib

        import py4j.clientserver as cs
        from pyspark.sql import SparkSession
        from pyspark.sql.classic.dataframe import DataFrame

        from materialize_spark import catalog, ckpt
        from materialize_spark.plans import dialect, parser, sqlfront
        from materialize_spark.sources import kafka_wire
        from materialize_spark.streaming import state_spill

        self._sc = spark.sparkContext
        self._scan_jobs(None)
        # load every module that imports the wrapped functions, so the
        # import-site scan sees them
        for m in ("delta_ivm", "retraction", "ivm_join", "semijoin",
                  "history", "dedup_stream"):
            importlib.import_module(f"materialize_spark.streaming.{m}")
        importlib.import_module("materialize_spark.operators.letrec")

        self.wrap_method(sqlfront.MzSession, "execute", "plans.execute")
        self.wrap_method(sqlfront.MzSession, "tick_sources", "sources.tick")
        self.wrap_function(parser, "parse_statement", "plans.parse")
        self.wrap_function(dialect, "rewrite", "plans.rewrite")
        self.wrap_function(ckpt, "lineage_break", "ckpt.break")
        self.wrap_function(ckpt, "fresh_break", "ckpt.break")
        self.wrap_method(catalog.Catalog, "register_table",
                         "catalog.register_table")
        self.wrap_method(kafka_wire.KafkaWireStream, "poll", "sources.poll")
        self.wrap_method(SparkSession, "sql", "spark.analyze")
        for m in ("delta_ivm", "retraction", "ivm_join", "semijoin"):
            mod = sys.modules[f"materialize_spark.streaming.{m}"]
            for _, cls in inspect.getmembers(mod, inspect.isclass):
                if cls.__module__ == mod.__name__ and "on_batch" in vars(cls):
                    self.wrap_method(cls, "on_batch", "streaming.on_batch")

        plan = self.traced("spark.optimize",
                           lambda df: df._jdf.queryExecution().executedPlan())
        execute = self.traced("spark.execute", DataFrame.collect)

        @functools.wraps(DataFrame.collect)
        def traced_collect(df):
            plan(df)
            return execute(df)
        self._set(DataFrame, "collect", traced_collect)

        tracer = self
        send = cs.ClientServerConnection.send_command

        @functools.wraps(send)
        def counted_send(conn, *a, **kw):
            op = tracer.op_id
            if op is None or getattr(tracer._tls, "internal", False):
                return send(conn, *a, **kw)
            t0 = time.perf_counter()
            try:
                return send(conn, *a, **kw)
            finally:
                tracer.py4j_wait[op] += time.perf_counter() - t0
                tracer.py4j_calls[op] += 1
        self._set(cs.ClientServerConnection, "send_command", counted_send)

        full_frame = state_spill.SpilledPartsState.full_frame
        replace = state_spill.SpilledPartsState.replace

        @functools.wraps(full_frame)
        def fold_input(state, *a, **kw):
            tracer._fold_start.setdefault(id(state), time.perf_counter())
            return full_frame(state, *a, **kw)

        @functools.wraps(replace)
        def fold_install(state, *a, **kw):
            t0 = tracer._fold_start.pop(id(state), None) \
                or time.perf_counter()
            out = replace(state, *a, **kw)
            if tracer.op_id is not None:
                tracer.compactions.append(
                    (tracer.op_id, time.perf_counter() - t0))
            return out
        self._set(state_spill.SpilledPartsState, "full_frame", fold_input)
        self._set(state_spill.SpilledPartsState, "replace", fold_install)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, old = self._undo.pop()
            setattr(owner, attr, old)

    # -- operations ------------------------------------------------------------
    def begin_op(self, op_id: int) -> None:
        self._fold_start.clear()
        self.op_id = op_id

    def end_op(self) -> None:
        """Close the current operation and attribute the Spark jobs it
        started (job ids are sequential and operations do not overlap)."""
        op, self.op_id = self.op_id, None
        if op is not None:
            self._scan_jobs(op)

    def _scan_jobs(self, op: int | None) -> None:
        """Walk job ids from the last one seen until three in a row are
        unknown to the status tracker, crediting jobs and tasks to ``op``."""
        self._tls.internal = True
        try:
            jst = self._sc._jsc.statusTracker()
            job, misses = self._next_job, 0
            while misses < 3:
                info = jst.getJobInfo(job)
                job += 1
                if info is None:
                    misses += 1
                    continue
                misses = 0
                self._next_job = job
                if op is None:
                    continue
                self.jobs[op] += 1
                for stage in info.stageIds():
                    st = jst.getStageInfo(stage)
                    if st is not None:
                        self.tasks[op] += st.numTasks()
        finally:
            self._tls.internal = False

    # -- summaries -------------------------------------------------------------
    def self_times(self) -> dict[str, tuple[float, int]]:
        """Per span name: (summed self time, span count) over spans that
        ran inside timed operations."""
        child = [0.0] * len(self.spans)
        for name, t0, t1, parent, op in self.spans:
            if parent is not None and t1 is not None:
                child[parent] += t1 - t0
        out: dict[str, list] = defaultdict(lambda: [0.0, 0])
        for i, (name, t0, t1, parent, op) in enumerate(self.spans):
            if op is None or t1 is None:
                continue
            out[name][0] += (t1 - t0) - child[i]
            out[name][1] += 1
        return {k: (v[0], v[1]) for k, v in out.items()}

    def root_time(self, op_id: int) -> float:
        """Wall time covered by the root spans of one operation."""
        return sum(t1 - t0 for _, t0, t1, parent, op in self.spans
                   if op == op_id and parent is None and t1 is not None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"fields": ["name", "start", "end", "parent", "op"],
                       "spans": self.spans}, f)
