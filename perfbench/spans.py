"""In-memory span tracing for the benchmark's traced runs.

Spans are recorded from outside the program, around calls into its public
functions: ``sources.tables.load_table``, ``frontend.read_parquet`` (both as
the ``sources`` layer, named by table) and the ``frontend`` facade (classes
and module-level functions) are wrapped in place for the life of a run; the
benchmark opens the ``operators.build`` and ``operators.exec`` spans itself
around the catalog call and the noop-sink materialization. Planning time is
read from the noop write's own query execution (``ExecutionLog``), so a
traced op is planned once. Each span records (name, layer, start, end, parent,
op id); a layer's self time is its spans' durations minus the time their child
spans cover.

Spark work is attributed with job groups: a span that owns jobs sets the group
``pb<op>.<layer>`` for its duration and restores the enclosing one, and the
per-stage task metrics of those jobs are read back from the application status
store (which is populated with the web UI disabled).
"""

from __future__ import annotations

import functools
import inspect
import os
import sys
import threading
import time
from collections import Counter
from dataclasses import dataclass

_GROUP_PROP = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int
    op: int


class Tracer:
    """Span recorder with per-layer job groups. Disabled tracers record
    nothing, so wrapped functions cost one attribute test per call."""

    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.op = -1
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._groups: list[str | None] = []
        self.groups_by_op: dict[int, set[str]] = {}

    def begin(self, layer: str, name: str, group: str | None = None) -> int:
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(Span(name, layer, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(idx)
        if group is not None:
            gid = f"pb{self.op}.{group}"
            self._groups.append(self.sc.getLocalProperty(_GROUP_PROP))
            self.sc.setJobGroup(gid, gid)
            self.groups_by_op.setdefault(self.op, set()).add(gid)
        else:
            self._groups.append(_KEEP)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._stack.pop()
        prev = self._groups.pop()
        if prev is not _KEEP:
            self.sc.setLocalProperty(_GROUP_PROP, prev)

    def inside(self, layer: str) -> bool:
        return any(self.spans[i].layer == layer for i in self._stack)

    def jobs(self, op: int, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(f"pb{op}.{group}"))


_KEEP = object()


def _wrap_facade(tracer: Tracer, fn, name: str):
    """Span only the outermost facade call: nested facade calls are part of
    its self time."""

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        if not tracer.enabled or tracer.inside("frontend"):
            return fn(*args, **kwargs)
        idx = tracer.begin("frontend", name, "frontend")
        try:
            return fn(*args, **kwargs)
        finally:
            tracer.end(idx)

    traced.__wrapped_by_perfbench__ = True
    return traced


# Dunders Python or pandas-style introspection call implicitly; wrapping them
# would record spans for attribute probes rather than facade calls.
_SKIP_DUNDERS = {
    "__getattr__", "__getattribute__", "__setattr__", "__delattr__", "__repr__",
    "__str__", "__format__", "__hash__", "__eq__", "__ne__", "__bool__", "__del__",
    "__dir__", "__init_subclass__", "__class_getitem__", "__reduce__",
    "__reduce_ex__", "__getstate__", "__setstate__", "__sizeof__", "__new__",
    "__array__", "__array_ufunc__", "__copy__", "__deepcopy__",
}


def _rebind(orig, new) -> None:
    """Point every loaded project module's reference to ``orig`` at ``new``
    (operator modules import public functions by name)."""
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("legate_pandas_spark"):
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, new)


def _wrap_load_table(tracer: Tracer, fn):
    @functools.wraps(fn)
    def traced(spark, sf_dir, name):
        if not tracer.enabled:
            return fn(spark, sf_dir, name)
        idx = tracer.begin("sources", name, "sources")
        try:
            return fn(spark, sf_dir, name)
        finally:
            tracer.end(idx)

    return traced


def _wrap_read_parquet(tracer: Tracer, fn):
    @functools.wraps(fn)
    def traced(path, *args, **kwargs):
        if not tracer.enabled:
            return fn(path, *args, **kwargs)
        table = os.path.basename(str(path)).removesuffix(".parquet")
        idx = tracer.begin("sources", table, "sources")
        try:
            return fn(path, *args, **kwargs)
        finally:
            tracer.end(idx)

    return traced


def install(tracer: Tracer, frontend: bool) -> int:
    """Wrap the two source readers ``load_table`` and ``read_parquet`` (span
    name = table name) and, with ``frontend``, the frontend facade; returns
    the number of wrapped callables. Wrappers stay inert while
    ``tracer.enabled`` is off."""
    import legate_pandas_spark.frontend as fe
    from legate_pandas_spark.frontend import io
    from legate_pandas_spark.sources import tables

    _rebind(tables.load_table, _wrap_load_table(tracer, tables.load_table))
    _rebind(io.read_parquet, _wrap_read_parquet(tracer, io.read_parquet))
    n = 2
    if not frontend:
        return n
    classes = set()
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith("legate_pandas_spark.frontend"):
            continue
        for obj in vars(mod).values():
            if (
                inspect.isclass(obj)
                and obj.__module__ == mod_name
                and not issubclass(obj, BaseException)
            ):
                classes.add(obj)
    for cls in classes:
        for attr, val in list(vars(cls).items()):
            if not inspect.isfunction(val) or getattr(val, "__wrapped_by_perfbench__", False):
                continue
            if attr.startswith("_") and not (attr.endswith("__") and attr not in _SKIP_DUNDERS):
                continue
            setattr(cls, attr, _wrap_facade(tracer, val, f"{cls.__name__}.{attr}"))
            n += 1
    for attr, val in list(vars(fe).items()):
        if inspect.isfunction(val) and not attr.startswith("_") and val.__module__.startswith(fe.__name__):
            _rebind(val, _wrap_facade(tracer, val, attr))
            n += 1
    return n


def self_times(spans: list[Span]) -> dict[str, float]:
    """Self time per layer: span duration minus the time its children cover
    (children of one span run sequentially on the main thread)."""
    child = [0.0] * len(spans)
    for s in spans:
        if s.parent >= 0:
            child[s.parent] += s.end - s.start
    out: Counter = Counter()
    for i, s in enumerate(spans):
        out[s.layer] += (s.end - s.start) - child[i]
    return dict(out)


_STAGE_FIELDS = (
    "numTasks", "executorRunTime", "executorCpuTime", "jvmGcTime",
    "memoryBytesSpilled", "diskBytesSpilled", "shuffleWriteBytes", "inputBytes",
    "numFailedTasks",
)


def stage_totals(sc, job_ids: list[int]) -> Counter:
    """Summed task metrics of every stage the given jobs ran (skipped stages
    contribute nothing), read from the application status store."""
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    tot: Counter = Counter()
    seen = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        tot["jobs"] += 1
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - stage never attempted (skipped)
                continue
            if str(sd.status()) == "SKIPPED":
                continue
            tot["stages"] += 1
            for f in _STAGE_FIELDS:
                tot[f] += getattr(sd, f)()
    return tot


def drain_listener(sc) -> None:
    """Wait until the status store has seen every event posted so far."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


class ExecutionLog:
    """Query executions that finish while the tracer is on, captured with a
    ``QueryExecutionListener`` (a Py4J callback: the listener bus calls it
    on a callback thread after each SQL execution ends)."""

    def __init__(self, spark, tracer: Tracer):
        from pyspark.java_gateway import ensure_callback_server_started

        self._tracer = tracer
        self._lock = threading.Lock()
        self._qes: list = []
        ensure_callback_server_started(spark.sparkContext._gateway)
        self._manager = spark._jsparkSession.listenerManager()
        self._manager.register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 - Java interface
        if self._tracer.enabled:
            with self._lock:
                self._qes.append(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 - Java interface
        pass

    def clear(self) -> None:
        with self._lock:
            self._qes.clear()

    def take(self) -> list:
        with self._lock:
            out, self._qes = self._qes, []
        return out

    def close(self) -> None:
        self._manager.unregister(self)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def planning_s(qe) -> float:
    """Analysis + optimization + physical planning time of a query execution,
    from its phase tracker."""
    it = qe.tracker().phases().iterator()
    ms = 0
    while it.hasNext():
        ms += it.next()._2().durationMs()
    return ms / 1e3


def formatted_plan(spark, qe) -> str:
    """``EXPLAIN FORMATTED`` text of an executed query (no re-planning: the
    query execution's physical plan is already materialized)."""
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return qe.explainString(mode)
