"""Traced mode: spans around calls into the engine and pyspark, and Spark
status-store readers.

Nothing here runs in an untraced run. ``Tracer.install`` wraps

- every public function (and public method of a public class) defined in
  each ``nettopologysuite_spark.engine`` module listed in ``ENGINE_MODULES``,
  in every loaded module namespace that holds a reference to it;
- pyspark's eager DataFrame actions listed in ``EAGER_METHODS``.

``Tracer.uninstall`` puts every original object back. Spans are kept in
memory (name, layer, start, end, parent, pass, query, jobs launched) and
written out by the caller at exit. Kernels run in executor Python workers,
which the wrappers never reach; their cost shows in the ``python.*``
metrics read from Spark's SQL status store.
"""

from __future__ import annotations

import importlib
import inspect
import re
import sys
import time
import types

ENGINE_PACKAGE = "nettopologysuite_spark.engine"
ENGINE_MODULES = (
    "docs", "tiling", "joins", "polygons", "aggregates", "zonal", "interval",
    "cluster", "dedup", "ann", "text", "media", "lineage",
)
EAGER_METHODS = (
    "collect", "count", "localCheckpoint", "checkpoint", "toPandas", "isEmpty",
    "first", "take",
)
MATERIALIZE_METHODS = ("localCheckpoint", "checkpoint")
_MISSING = object()


def _dataframe_class():
    from pyspark.sql.classic.dataframe import DataFrame

    return DataFrame


class _Wrapper:
    """Callable stand-in for a traced function or method.

    Pickles as a reference to the original by module and qualified name, so
    a UDF closure that captured it ships the unwrapped function to the
    executors.
    """

    def __init__(self, fn, layer: str, tracer: "Tracer"):
        self.__wrapped__ = fn
        self.__module__ = fn.__module__
        self.__qualname__ = fn.__qualname__
        self.__name__ = fn.__name__
        self.__doc__ = fn.__doc__
        self._layer = layer
        self._tracer = tracer

    def __call__(self, *args, **kwargs):
        return self._tracer.call(self._layer, self.__name__, self.__wrapped__,
                                 args, kwargs)

    def __get__(self, obj, objtype=None):
        return self if obj is None else types.MethodType(self, obj)

    def __reduce__(self):
        return self.__qualname__


def _is_function(obj) -> bool:
    return inspect.isfunction(obj) or isinstance(obj, _Wrapper)


def _public_callables(mod):
    """(owner, attribute name, current object, underlying function) for
    each public function of ``mod`` and public method of its classes,
    wrapped or not."""
    for name, obj in list(vars(mod).items()):
        if name.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
            continue
        if _is_function(obj):
            yield mod, name, obj, obj
        elif inspect.isclass(obj):
            for mname, m in list(vars(obj).items()):
                if mname.startswith("_"):
                    continue
                fn = m.__func__ if isinstance(m, (classmethod, staticmethod)) else m
                if _is_function(fn):
                    yield obj, f"{name}.{mname}", m, fn


def engine_objects() -> dict:
    """{qualified name: current object} for every object ``install`` wraps —
    compared before and after a run to prove nothing stayed wrapped."""
    out = {}
    for short in ENGINE_MODULES:
        mod = importlib.import_module(f"{ENGINE_PACKAGE}.{short}")
        for _owner, name, obj, _fn in _public_callables(mod):
            out[f"{mod.__name__}.{name}"] = obj
    cls = _dataframe_class()
    for name in EAGER_METHODS:
        out[f"DataFrame.{name}"] = cls.__dict__.get(name, _MISSING)
    return out


class Tracer:
    """Records spans; see the module docstring."""

    def __init__(self, spark):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple] = []
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()
        self.pass_id = None
        self.query = None
        self.tracer_s = 0.0  # bookkeeping time spent at span boundaries

    # -- spans -------------------------------------------------------------

    def _jobs(self) -> int:
        return self._dag.numTotalJobs()

    def open(self, layer: str, name: str) -> int:
        b = time.perf_counter()
        span = {
            "layer": layer, "name": name, "pass": self.pass_id,
            "query": self.query, "parent": self._stack[-1] if self._stack else None,
            "jobs0": self._jobs(),
        }
        self.spans.append(span)
        self._stack.append(len(self.spans) - 1)
        span["start"] = time.perf_counter()
        self.tracer_s += span["start"] - b
        return self._stack[-1]

    def close(self, idx: int, error: BaseException | None = None) -> None:
        end = time.perf_counter()
        span = self.spans[idx]
        span["end"] = end
        span["jobs"] = self._jobs() - span["jobs0"]
        if error is not None:
            span["error"] = type(error).__name__
        self._stack.pop()
        self.tracer_s += time.perf_counter() - end

    def unwind(self, idx: int, error: BaseException) -> None:
        """Close every span opened inside span ``idx`` (after an exception)."""
        while self._stack[-1] != idx:
            self.close(self._stack[-1], error)

    def call(self, layer, name, fn, args, kwargs):
        if layer.startswith("eager.") and not self._in_build_outermost_eager():
            return fn(*args, **kwargs)
        idx = self.open(layer, name)
        try:
            out = fn(*args, **kwargs)
        except BaseException as e:
            self.close(idx, e)
            raise
        self.close(idx)
        return out

    def _in_build_outermost_eager(self) -> bool:
        """Eager actions count only during a query's build and only at the
        outermost level (``first`` calls ``take``, which calls ``collect``)."""
        layers = [self.spans[i]["layer"] for i in self._stack]
        return "build" in layers and not any(x.startswith("eager.") for x in layers)

    # -- install / uninstall -----------------------------------------------

    def _patch(self, owner, attr, new) -> None:
        self._patches.append((owner, attr, owner.__dict__.get(attr, _MISSING)))
        setattr(owner, attr, new)

    def install(self) -> None:
        """Wrap every object ``engine_objects`` lists (once; call on an
        uninstalled tracer)."""
        for short in ENGINE_MODULES:
            mod = importlib.import_module(f"{ENGINE_PACKAGE}.{short}")
            for owner, name, obj, fn in _public_callables(mod):
                w = _Wrapper(fn, f"engine.{short}", self)
                if owner is mod:
                    # every namespace that imported the function by name
                    for m in list(sys.modules.values()):
                        ns = getattr(m, "__dict__", None)
                        if (ns is None or not m.__name__.startswith(
                                ("nettopologysuite_spark", "__spark_entry__"))):
                            continue
                        for attr, val in list(ns.items()):
                            if val is obj:
                                self._patch(m, attr, w)
                else:
                    attr = name.split(".", 1)[1]
                    if isinstance(obj, classmethod):
                        w = classmethod(w)
                    elif isinstance(obj, staticmethod):
                        w = staticmethod(w)
                    self._patch(owner, attr, w)
        cls = _dataframe_class()
        for name in EAGER_METHODS:
            self._patch(cls, name, _Wrapper(getattr(cls, name), f"eager.{name}", self))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            if orig is _MISSING:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._patches.clear()

    # -- reduction -----------------------------------------------------------

    def layer_totals(self, pass_id) -> dict:
        """Per-layer self time, span count and self jobs for one pass.

        A span's self time is its duration minus the durations of its child
        spans; its self jobs are the jobs launched while it was the innermost
        engine span (eager spans are not engine spans, so their jobs count
        for the engine call that made them)."""
        idx = [i for i, s in enumerate(self.spans) if s["pass"] == pass_id]
        child_dur = {i: 0.0 for i in idx}
        child_jobs = {i: 0 for i in idx}
        for i in idx:
            s = self.spans[i]
            p = s["parent"]
            if p is not None and p in child_dur:
                child_dur[p] += s["end"] - s["start"]
                if s["layer"].startswith("engine."):
                    child_jobs[p] += s["jobs"]
        out: dict = {}
        for i in idx:
            s = self.spans[i]
            t = out.setdefault(s["layer"], {"self_s": 0.0, "total_s": 0.0, "calls": 0, "jobs": 0})
            dur = s["end"] - s["start"]
            t["self_s"] += dur - child_dur[i]
            t["total_s"] += dur
            t["calls"] += 1
            t["jobs"] += s["jobs"] - child_jobs[i]
        return out


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")
PY_METRICS = {
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_recv",
    "time to run Python workers": "python.udf_s",
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.boot_s",
}


def parse_metric(text: str) -> float:
    """A formatted SQL metric ("1,000", "5.6 KiB", "1.1 s", or the
    "total (min, med, max ...)\\n<total> (...)" form) → bytes, seconds or a
    count. Sizes and times carry the status store's rounding (about two or
    three significant digits); counts are exact."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if not m:
        return 0.0
    num, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    return num


class StatusReader:
    """Per-query Spark metrics from the app and SQL status stores, which
    work with the UI disabled. Job and SQL execution ids are sequential and
    the benchmark runs one query at a time, so a query owns the ids
    created between its ``mark`` and its ``read``."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._dag = sc._jsc.sc().dagScheduler()
        self._app = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._tracker = sc.statusTracker()

    def mark(self) -> tuple[int, int]:
        n = self._sql.executionsCount()
        last = self._sql.executionsList(n - 1, 1).apply(0).executionId() if n else -1
        return self._dag.numTotalJobs(), last

    def _new_executions(self, last_id: int) -> list:
        # executions are listed in id order; old ones may have been evicted,
        # so widen the window from the end until it reaches last_id
        n, k = self._sql.executionsCount(), 16
        while True:
            lst = self._sql.executionsList(max(0, n - k), k)
            ids = [lst.apply(i) for i in range(lst.size())]
            if not ids or ids[0].executionId() <= last_id or k >= n:
                return [e for e in ids if e.executionId() > last_id]
            k *= 2

    def read(self, mark: tuple[int, int]) -> dict:
        job0, last_exec = mark
        job1 = self._dag.numTotalJobs()
        out = {"spark.jobs": job1 - job0, "spark.stages": 0, "spark.tasks": 0,
               "spark.shuffle_write_bytes": 0, "spark.spill_bytes": 0}
        for jid in range(job0, job1):
            info = self._tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                st = self._app.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":  # output reused, never ran
                    continue
                out["spark.stages"] += 1
                out["spark.tasks"] += st.numTasks()
                out["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        for v in set(PY_METRICS.values()) | {"python.rows_recv", "joins.candidate_rows",
                                              "joins.kept_rows"}:
            out[v] = 0.0
        for e in self._new_executions(last_exec):
            self._read_plan(e.executionId(), out)
        return out

    def _read_plan(self, eid: int, out: dict) -> None:
        values = self._sql.executionMetrics(eid)  # accumulator id → text
        graph = self._sql.planGraph(eid)
        nodes, metrics = {}, {}
        all_nodes = graph.allNodes()
        for i in range(all_nodes.size()):
            n = all_nodes.apply(i)
            nid = n.id()
            nodes[nid] = n.name()
            ms = {}
            node_metrics = n.metrics()
            for j in range(node_metrics.size()):
                m = node_metrics.apply(j)
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    ms[m.name()] = parse_metric(v.get())
            metrics[nid] = ms
        parent = {}
        edges = graph.edges()
        for i in range(edges.size()):
            e = edges.apply(i)
            parent[e.fromId()] = e.toId()
        for nid, ms in metrics.items():
            if "data sent to Python workers" not in ms:
                continue
            for name, key in PY_METRICS.items():
                out[key] += ms.get(name, 0.0)
            rows = ms.get("number of output rows", 0.0)
            out["python.rows_recv"] += rows
            if nodes[nid] == "ArrowEvalPython":
                # a scalar UDF whose result feeds a Filter is a refine
                # predicate: its input rows are candidates, the Filter's
                # output rows are the kept ones
                up = parent.get(nid)
                while up is not None and nodes.get(up) == "Project":
                    up = parent.get(up)
                if up is not None and nodes.get(up) == "Filter":
                    out["joins.candidate_rows"] += rows
                    out["joins.kept_rows"] += metrics[up].get("number of output rows", 0.0)
