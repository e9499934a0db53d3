"""Span tracer for the traced run.

Nothing here runs in an untraced run. ``Tracer.install`` wraps every
public function of the engine's layer modules (``session``, ``sources.*``,
``plans.*``, ``operators.*``, ``streaming.*``, ``functions.*``) at every
place it is bound, so calls made through ``from x import f`` or a
registry dict are traced too, and counts the py4j commands the driver sends. Each call becomes a
span: name, start, end, parent, workload and pass id, plus the py4j
commands sent while it was open. Spans stay in memory until the run
writes them out.

Spark's own status stores supply what happened inside a span: the SQL
executions (``sharedState.statusStore``) and the stages with their task
time, shuffle and spill (``SparkContext.statusStore``). Both are kept
with ``spark.ui.enabled=false``. They are read once at the end of each
traced pass, outside the pass's span, and matched to spans by time.
"""

from __future__ import annotations

import functools
import os
import sys
import threading
import time
import types
from contextlib import contextmanager

PACKAGE = "etl_his_spark"
LAYERS = ("session", "sources", "plans", "operators", "streaming", "functions")

# py4j asks the JVM to drop a Python-side reference with this command.
# When it is sent depends on Python's garbage collector, so counting it
# would make the per-span count vary between identical runs.
_RELEASE_PREFIX = "m\nd\n"


def layer_of(module_name: str) -> str | None:
    """``etl_his_spark.sources.writers`` -> ``sources.writers``; None if not a layer."""
    if not module_name.startswith(PACKAGE + "."):
        return None
    rest = module_name[len(PACKAGE) + 1:]
    return rest if rest.split(".")[0] in LAYERS else None


class Py4jCounter:
    """Counts py4j commands sent to the JVM, skipping object releases."""

    def __init__(self) -> None:
        self.count = 0
        self._lock = threading.Lock()
        self._patched: list[tuple[type, object]] = []

    def observe(self, command: str) -> None:
        if not command.startswith(_RELEASE_PREFIX):
            with self._lock:
                self.count += 1

    def install(self) -> None:
        from py4j.clientserver import ClientServerConnection
        from py4j.java_gateway import GatewayConnection

        for cls in (ClientServerConnection, GatewayConnection):
            original = cls.send_command

            def send_command(conn, command, *args, _original=original, **kwargs):
                self.observe(command)
                return _original(conn, command, *args, **kwargs)

            cls.send_command = send_command
            self._patched.append((cls, original))

    def uninstall(self) -> None:
        for cls, original in self._patched:
            cls.send_command = original
        self._patched.clear()


class Tracer:
    """In-memory spans around the engine's public functions."""

    def __init__(self, workload: str) -> None:
        self.workload = workload
        self.pass_id: int | None = None
        self.spans: list[dict] = []
        self.py4j = Py4jCounter()
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()
        self._bindings: list[tuple[dict, object, object]] = []

    # -- spans -----------------------------------------------------------
    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def _open(self, name: str, label: str | None, own: bool = False) -> dict:
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            # A pool thread's first span belongs to whatever the main
            # thread has open (publish_atomic's writes, for example).
            parent = self._main_stack[-1] if self._main_stack else None
        with self._lock:
            span = {
                "id": len(self.spans),
                "name": name,
                "label": label,
                "own": own,
                "parent": parent,
                "workload": self.workload,
                "pass": self.pass_id,
                "start": time.time(),
                "end": None,
                "py4j_start": self.py4j.count,
            }
            self.spans.append(span)
        stack.append(span["id"])
        return span

    def _close(self, span: dict) -> None:
        span["end"] = time.time()
        span["py4j"] = self.py4j.count - span.pop("py4j_start")
        self._stack().pop()

    @contextmanager
    def span(self, name: str, label: str | None = None, own: bool = False):
        """A span the benchmark opens itself; ``own`` marks one that is not
        an engine layer (it is left out of the layer coverage)."""
        s = self._open(name, label, own)
        try:
            yield s
        finally:
            self._close(s)

    # -- wrapping --------------------------------------------------------
    def _wrap(self, fn: types.FunctionType, name: str):
        tracer = self
        label_of = _LABELS.get(name)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            s = tracer._open(name, label_of(args, kwargs) if label_of else None)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(s)

        return traced

    def install(self) -> None:
        """Wrap every public layer function wherever it is bound: module
        attributes and the values of module-level dicts."""
        modules = [m for n, m in list(sys.modules.items())
                   if n.startswith(PACKAGE) and m is not None]
        wrappers: dict[int, object] = {}
        for mod in modules:
            layer = layer_of(mod.__name__)
            if layer is None:
                continue
            for attr, obj in list(vars(mod).items()):
                if (isinstance(obj, types.FunctionType) and not attr.startswith("_")
                        and obj.__module__ == mod.__name__):
                    wrappers[id(obj)] = self._wrap(obj, f"{layer}.{attr}")
        # functools.wraps keeps __module__/__qualname__, so a wrapper that
        # reaches a Python worker inside a pickled closure is pickled by
        # reference and the worker imports the plain function.
        for mod in modules:
            for attr, obj in list(vars(mod).items()):
                wrapper = wrappers.get(id(obj))
                if wrapper is not None:
                    self._bindings.append((vars(mod), attr, obj))
                    setattr(mod, attr, wrapper)
                elif isinstance(obj, dict) and not attr.startswith("__"):
                    # dispatch tables such as the query registry
                    for key, value in list(obj.items()):
                        wrapper = wrappers.get(id(value))
                        if wrapper is not None:
                            self._bindings.append((obj, key, value))
                            obj[key] = wrapper
        self.py4j.install()

    def uninstall(self) -> None:
        for table, key, obj in reversed(self._bindings):
            table[key] = obj
        self._bindings.clear()
        self.py4j.uninstall()


def _table_label(args, kwargs):
    path = kwargs.get("path", args[1] if len(args) > 1 else None)
    return os.path.basename(str(path)) if path is not None else None


# Spans whose name alone is ambiguous get a label from their arguments.
_LABELS = {"sources.writers.write_table": _table_label}


# -- Spark status stores -------------------------------------------------
def _seq(jvm, scala_seq):
    return jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq)


def sql_executions(spark, since_s: float) -> list[dict]:
    """SQL executions submitted at or after ``since_s`` (epoch seconds)."""
    jvm = spark._jvm
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    for e in _seq(jvm, store.executionsList()):
        start = e.submissionTime() / 1000.0
        if start < since_s:
            continue
        done = e.completionTime()
        end = done.get().getTime() / 1000.0 if done.isDefined() else time.time()
        out.append({"id": e.executionId(), "start": start, "end": end})
    return out


def files_read(spark, execution_id: int) -> int:
    """Sum of the scan nodes' "number of files read" metric for one execution."""
    jvm = spark._jvm
    store = spark._jsparkSession.sharedState().statusStore()
    values = {int(k): v for k, v in
              jvm.scala.jdk.javaapi.CollectionConverters.asJava(
                  store.executionMetrics(execution_id)).items()}
    total = 0
    for node in _seq(jvm, store.planGraph(execution_id).allNodes()):
        if not node.name().startswith("Scan"):
            continue
        for m in _seq(jvm, node.metrics()):
            if m.name() == "number of files read":
                v = values.get(m.accumulatorId())
                if v is not None:
                    total += int(str(v).replace(",", ""))
    return total


def stage_totals(spark) -> dict:
    """Task time, task count, shuffle write and spill over every stage
    this SparkContext has run."""
    jvm = spark._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    task_ms = tasks = shuffle = spill = 0
    no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    stages = store.stageList(jvm.java.util.ArrayList(), False, False,
                             no_quantiles, jvm.java.util.ArrayList())
    for st in _seq(jvm, stages):
        task_ms += st.executorRunTime()
        tasks += st.numCompleteTasks()
        shuffle += st.shuffleWriteBytes()
        spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return {
        "operators.task_s": task_ms / 1000.0,
        "operators.tasks": tasks,
        "operators.shuffle_write_mb": shuffle / 2**20,
        "operators.spill_mb": spill / 2**20,
    }


def add_self_times(spans: list[dict]) -> None:
    """Set each closed span's ``self`` to its duration minus what its
    children cover."""
    from .stats import self_time

    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for s in spans:
        if s["end"] is not None:
            s["self"] = self_time(s["start"], s["end"], children.get(s["id"], []))
