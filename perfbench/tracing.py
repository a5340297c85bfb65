"""Tracing installed from the benchmark's own files.

Nothing in the package is edited. In a traced run the child process:

- wraps every public function and method of the layer modules
  (``LAYERS``) so each call records a span (name, layer, op, start, end,
  parent, self time, py4j round trips, error);
- counts py4j round trips by wrapping the py4j connections'
  ``send_command``, charging each to the innermost open span;
- tags Spark jobs with the job group ``<op>|<layer>|<phase>`` of the
  innermost span, so the event log attributes jobs, tasks, shuffle, GC,
  spill and Python-worker counters to a layer;
- keeps spans in memory and writes them when the run ends.

``parse_event_log`` turns the uncompressed, non-rolling event log into
per-layer counters.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import time
from contextlib import contextmanager

# benchmark layer name -> package modules whose public API is that layer
LAYERS = {
    "session": ("hgraphstorage_spark.session",),
    "sources": ("hgraphstorage_spark.sources.tpch_graph", "hgraphstorage_spark.sources.hackage"),
    "compiler": ("hgraphstorage_spark.compiler",),
    "analytics": ("hgraphstorage_spark.analytics",),
    "engine": ("hgraphstorage_spark.engine",),
    "mutations": ("hgraphstorage_spark.mutations",),
    "store": ("hgraphstorage_spark.store",),
    "pipeline.text": ("hgraphstorage_spark.pipeline.text",),
    "pipeline.dedup": ("hgraphstorage_spark.pipeline.dedup",),
    "pipeline.similarity": ("hgraphstorage_spark.pipeline.similarity",),
    "pipeline.search": ("hgraphstorage_spark.pipeline.search",),
}
JOB_GROUP = "spark.jobGroup.id"


class Span:
    __slots__ = ("id", "parent", "name", "layer", "op", "phase", "start", "end",
                 "py4j", "child_s", "child_py4j", "error")

    def __init__(self, sid, parent, name, layer, op, phase, start):
        self.id, self.parent, self.name, self.layer = sid, parent, name, layer
        self.op, self.phase, self.start = op, phase, start
        self.end = None
        self.py4j = self.child_s = self.child_py4j = 0
        self.error = None

    def record(self) -> dict:
        dur = self.end - self.start
        return {
            "id": self.id, "parent": self.parent, "name": self.name, "layer": self.layer,
            "op": self.op, "phase": self.phase, "start": self.start, "end": self.end,
            "self_s": dur - self.child_s, "py4j_self": self.py4j - self.child_py4j,
            "error": self.error,
        }


class Tracer:
    """Span recorder. ``op`` and ``phase`` are set by the benchmark around
    each operation; spans opened by wrapped package calls inherit them."""

    def __init__(self):
        self.spans: list[dict] = []
        self.stack: list[Span] = []
        self.py4j = 0
        self.op = "setup"
        self.phase = "build"
        self._next = 0
        self._sc = None
        self._group = None
        self._counting = True
        self.hook_s = 0.0  # wall spent inside the tracer itself

    # -- spans ---------------------------------------------------------------
    def enter(self, name: str, layer: str, phase: str | None = None) -> Span:
        t0 = time.perf_counter()
        parent = self.stack[-1] if self.stack else None
        sp = Span(self._next, parent.id if parent else None, name, layer, self.op,
                  phase or (parent.phase if parent else self.phase), 0.0)
        self._next += 1
        sp.py4j = self.py4j
        self.stack.append(sp)
        self._tag(sp)
        sp.start = time.perf_counter()
        self.hook_s += sp.start - t0
        return sp

    def exit(self, sp: Span, error: BaseException | None = None) -> None:
        sp.end = time.perf_counter()
        sp.py4j = self.py4j - sp.py4j
        if error is not None:
            sp.error = type(error).__name__
        self.stack.pop()
        parent = self.stack[-1] if self.stack else None
        if parent is not None:
            parent.child_s += sp.end - sp.start
            parent.child_py4j += sp.py4j
        self.spans.append(sp.record())
        self._tag(parent)
        self.hook_s += time.perf_counter() - sp.end

    @contextmanager
    def span(self, name: str, layer: str, phase: str | None = None):
        sp = self.enter(name, layer, phase)
        try:
            yield sp
        except BaseException as e:
            self.exit(sp, e)
            raise
        self.exit(sp)

    # -- job groups ----------------------------------------------------------
    def bind(self, spark) -> None:
        self._sc = spark.sparkContext
        self._tag(self.stack[-1] if self.stack else None)

    def _tag(self, sp: Span | None) -> None:
        if self._sc is None:
            return
        group = f"{sp.op}|{sp.layer}|{sp.phase}" if sp else f"{self.op}|bench|{self.phase}"
        if group != self._group:
            self._group = group
            self._counting = False
            try:
                self._sc.setLocalProperty(JOB_GROUP, group)
            finally:
                self._counting = True

    # -- py4j ----------------------------------------------------------------
    def install_py4j(self) -> None:
        from py4j import clientserver, java_gateway

        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            orig = cls.send_command

            def send_command(conn, command, *a, _orig=orig, **k):
                if self._counting:
                    self.py4j += 1
                return _orig(conn, command, *a, **k)

            cls.send_command = send_command

    # -- package wrapping ----------------------------------------------------
    def install(self) -> None:
        """Wrap the layer modules' public functions and methods."""
        import importlib

        replaced: dict[int, object] = {}
        for layer, modnames in LAYERS.items():
            for modname in modnames:
                mod = importlib.import_module(modname)
                for name, obj in list(vars(mod).items()):
                    if name.startswith("_") or getattr(obj, "__module__", None) != modname:
                        continue
                    if inspect.isfunction(obj):
                        w = self._wrap(obj, layer, f"{layer}.{name}")
                        replaced[id(obj)] = w
                        setattr(mod, name, w)
                    elif inspect.isclass(obj) and not issubclass(obj, BaseException):
                        self._wrap_class(obj, layer)
        # durable engines are classes built per call by a factory
        store = sys.modules["hgraphstorage_spark.store"]
        factory = store._durable_engine_cls

        def durable_engine_cls(*a, **k):
            cls = factory(*a, **k)
            if not getattr(cls, "_perfbench_wrapped", False):
                self._wrap_class(cls, "store")
                # the private hooks the engine's commit and time travel call:
                # checkpoint materialization and replay are the store's work
                for hook in ("_try_publish", "_reconstruct"):
                    setattr(cls, hook, self._wrap(vars(cls)[hook], "store", f"store.DurableGraphEngine.{hook}"))
                cls._perfbench_wrapped = True
            return cls

        store._durable_engine_cls = durable_engine_cls
        # `from module import fn` copies elsewhere in the package
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("hgraphstorage_spark"):
                continue
            for name, obj in list(vars(mod).items()):
                if id(obj) in replaced and obj is not replaced[id(obj)]:
                    setattr(mod, name, replaced[id(obj)])

    def _wrap_class(self, cls, layer: str) -> None:
        for name, obj in list(vars(cls).items()):
            if name.startswith("_") or not inspect.isfunction(obj):
                continue
            setattr(cls, name, self._wrap(obj, layer, f"{layer}.{cls.__name__.lstrip('_')}.{name}"))

    def _wrap(self, fn, layer: str, qualname: str):
        @functools.wraps(fn)
        def traced(*a, **k):
            with self.span(qualname, layer):
                return fn(*a, **k)

        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "py4j_total": self.py4j, "hook_s": self.hook_s}, f)


# -- event log -----------------------------------------------------------------

PY_SENT = "data sent to Python workers"
# ms per task. "time to initialize Python workers" is left out: on a
# reused worker its task updates grow past the task's own run time.
PY_BOOT = "time to start Python workers"


def parse_event_log(path: str) -> dict[str, dict]:
    """Per job group: jobs, failed jobs, tasks, failed tasks, shuffle bytes
    written, fetch wait, GC, spill, bytes sent to Python workers and Python
    worker start time (all from task-end events)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def bucket(group: str) -> dict:
        return out.setdefault(group, {
            "jobs": 0, "failed_jobs": 0, "tasks": 0, "failed_tasks": 0,
            "shuffle_write_bytes": 0, "fetch_wait_s": 0.0, "gc_s": 0.0, "spill_bytes": 0,
            "python_bytes_sent": 0, "python_boot_s": 0.0,
        })

    job_group: dict[int, str] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(JOB_GROUP) or "unattributed|bench|build"
                job_group[ev["Job ID"]] = group
                bucket(group)["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerJobEnd":
                if (ev.get("Job Result") or {}).get("Result") != "JobSucceeded":
                    bucket(job_group.get(ev["Job ID"], "unattributed|bench|build"))["failed_jobs"] += 1
            elif kind == "SparkListenerTaskEnd":
                b = bucket(stage_group.get(ev.get("Stage ID"), "unattributed|bench|build"))
                b["tasks"] += 1
                info = ev.get("Task Info") or {}
                if info.get("Failed"):
                    b["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                b["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                b["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                b["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                b["fetch_wait_s"] += (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0) / 1000.0
                for acc in info.get("Accumulables") or []:
                    name, upd = acc.get("Name"), acc.get("Update")
                    if name == PY_SENT:
                        b["python_bytes_sent"] += int(upd)
                    elif name == PY_BOOT:
                        b["python_boot_s"] += int(upd) / 1000.0
    return out
