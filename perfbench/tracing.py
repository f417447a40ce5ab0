"""Outside-in layer tracing for the benchmark.

Nothing inside ``usgs_lidar_spark`` changes. ``Tracer.install`` replaces
the public functions of each package layer with wrappers, in every
package module that holds a reference to them, and ``uninstall`` puts the
originals back:

* ``catalog``   -- public functions of ``catalog.py``;
* ``operators`` -- public functions of ``operators/*.py`` and
  ``multimodal/binary_ops.py``;
* ``functions`` -- public functions of ``functions/*.py``.

The benchmark itself opens the ``query``, ``plans`` (building the
DataFrame) and ``exec`` (the forcing action) spans around each query run.

Each span records name, layer, start, end, parent, pass and query-run id.
Spans stay in memory and are written out when the run ends. A span owns
the Spark job group ``pb<span id>``, set lazily: the gateway client's
``send_command`` is wrapped, and before the first py4j command a span
sends, the group is switched to it. Jobs, stages and tasks are therefore
charged to the innermost span that issued them, and py4j commands are
counted per span (py4j's own object-release messages are not counted).

``parse_event_log`` reads the uncompressed, unrolled event log that the
traced session writes (``EVENTLOG_CONF``) and totals jobs, stages and
task metrics per job group.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import inspect
import json
import os
import sys
import threading
import time
from collections import defaultdict

PACKAGE = "usgs_lidar_spark"

#: Session settings for a traced run: a plain-text, single-file event log
#: (Spark 4.1 writes zstd-compressed, rolled logs by default).
EVENTLOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

_GROUP_KEY = "spark.jobGroup.id"
_MEMORY_COMMAND = "m\n"  # py4j's release-object command prefix


def _layer_modules() -> list[tuple[str, str]]:
    """(layer, module name) for every traced package module."""
    import pkgutil

    import usgs_lidar_spark.functions as fpkg
    import usgs_lidar_spark.operators as opkg

    out = [("catalog", f"{PACKAGE}.catalog"),
           ("operators", f"{PACKAGE}.multimodal.binary_ops")]
    for layer, pkg in (("operators", opkg), ("functions", fpkg)):
        for info in pkgutil.iter_modules(pkg.__path__):
            out.append((layer, f"{pkg.__name__}.{info.name}"))
    return out


class Span:
    __slots__ = ("id", "name", "layer", "parent", "pass_no", "qrun",
                 "t0", "t1", "py4j")

    def __init__(self, sid, name, layer, parent, pass_no, qrun):
        self.id, self.name, self.layer = sid, name, layer
        self.parent, self.pass_no, self.qrun = parent, pass_no, qrun
        self.t0 = time.perf_counter()
        self.t1 = None
        self.py4j = 0

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}


class Tracer:
    """Spans, lazy job groups and py4j counts for one traced session."""

    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc
        self._client = spark.sparkContext._gateway._gateway_client
        self._main = threading.get_ident()
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._group_set: str | None = None
        self._internal = False
        self._patched: list[tuple[object, str, object]] = []
        self.pass_no = -1
        self._qrun = 0

    # -- spans -------------------------------------------------------------

    def open(self, name: str, layer: str) -> Span:
        parent = self._stack[-1] if self._stack else None
        if layer == "query":
            self._qrun += 1
        s = Span(len(self.spans), name, layer,
                 parent.id if parent else None, self.pass_no, self._qrun)
        self.spans.append(s)
        self._stack.append(s)
        return s

    def close(self, s: Span) -> None:
        s.t1 = time.perf_counter()
        popped = self._stack.pop()
        if popped is not s:
            raise RuntimeError(f"span {s.name} closed out of order")

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        s = self.open(name, layer)
        try:
            yield s
        finally:
            self.close(s)

    # -- py4j ---------------------------------------------------------------

    def _send(self, orig, command, *args, **kwargs):
        if (self._internal or threading.get_ident() != self._main
                or command.startswith(_MEMORY_COMMAND)):
            return orig(command, *args, **kwargs)
        top = self._stack[-1] if self._stack else None
        want = f"pb{top.id}" if top else None
        if want != self._group_set:
            self._internal = True
            try:
                self._jsc.setLocalProperty(_GROUP_KEY, want)
            finally:
                self._internal = False
            self._group_set = want
        if top is not None:
            top.py4j += 1
        return orig(command, *args, **kwargs)

    # -- install -----------------------------------------------------------

    def _wrap(self, fn, span_name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            s = tracer.open(span_name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(s)

        return traced

    def install(self) -> None:
        """Wrap py4j sends and every public function of the traced layers."""
        import importlib

        orig_send = self._client.send_command
        self._client.send_command = functools.partial(self._send, orig_send)
        self._patched.append((self._client, "send_command", None))

        wrappers: dict[int, tuple] = {}  # id(original) -> (original, wrapper)
        for layer, modname in _layer_modules():
            mod = importlib.import_module(modname)
            short = modname.rsplit(".", 1)[1]
            for attr, obj in list(vars(mod).items()):
                if (attr.startswith("_") or not inspect.isfunction(obj)
                        or obj.__module__ != modname):
                    continue
                name = (f"catalog.{attr}" if layer == "catalog"
                        else f"{layer}.{short}.{attr}")
                wrappers[id(obj)] = (obj, self._wrap(obj, name, layer))
        # Rebind every package-level reference (including names imported
        # with ``from x import f``) so that all call sites hit the wrapper.
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname == PACKAGE
                                   or modname.startswith(PACKAGE + ".")):
                continue
            for attr, obj in list(vars(mod).items()):
                hit = wrappers.get(id(obj))
                if hit is not None and hit[0] is obj:
                    setattr(mod, attr, hit[1])
                    self._patched.append((mod, attr, obj))

    def uninstall(self) -> None:
        for target, attr, orig in reversed(self._patched):
            if orig is None:
                delattr(target, attr)  # drops the instance-level send wrapper
            else:
                setattr(target, attr, orig)
        self._patched.clear()
        self._internal = True
        try:
            self._jsc.setLocalProperty(_GROUP_KEY, None)
        finally:
            self._internal = False
        self._group_set = None

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.as_dict()) + "\n")


# -- event log ---------------------------------------------------------------

#: Task-level numbers totalled per job group. Times in seconds, sizes in
#: bytes.
TASK_FIELDS = ("tasks", "failed", "run_s", "cpu_s", "gc_s", "shuffle_read",
               "shuffle_write", "fetch_wait_s", "spill", "input_bytes",
               "input_rows", "result_bytes", "py_run_s", "py_sent",
               "py_returned")

#: Python-worker SQL metrics: accumulable name -> (field, scale from the
#: logged ms or bytes to s or bytes). Spark 4.1 derives "time to start" and
#: "time to initialize Python workers" from the worker process's boot
#: timestamp, so a reused worker reports its age there; they are not read.
_PY_ACCUMS = {
    "time to run Python workers": ("py_run_s", 1e-3),
    "data sent to Python workers": ("py_sent", 1),
    "data returned from Python workers": ("py_returned", 1),
}


def event_log_file(log_dir: str) -> str:
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {files}")
    if files[0].endswith((".zstd", ".lz4", ".snappy", ".lzf")):
        raise RuntimeError(f"event log is compressed: {files[0]}")
    return files[0]


def parse_event_log(path: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages and the task totals in TASK_FIELDS."""
    groups: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(("jobs", "stages") + TASK_FIELDS, 0))
    stage_group: dict[int, str] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get(_GROUP_KEY)
                if g:
                    groups[g]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                g = (ev.get("Properties") or {}).get(_GROUP_KEY)
                if g:
                    stage_group[ev["Stage Info"]["Stage ID"]] = g
                    groups[g]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"])
                if g is None:
                    continue
                _add_task(groups[g], ev)
    return dict(groups)


def _add_task(acc: dict[str, float], ev: dict) -> None:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    acc["tasks"] += 1
    if info.get("Failed") or (ev.get("Task End Reason") or {}).get(
            "Reason", "Success") != "Success":
        acc["failed"] += 1
    acc["run_s"] += m.get("Executor Run Time", 0) / 1e3
    acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    acc["result_bytes"] += m.get("Result Size", 0)
    acc["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
        "Disk Bytes Spilled", 0)
    rd = m.get("Shuffle Read Metrics") or {}
    acc["shuffle_read"] += rd.get("Remote Bytes Read", 0) + rd.get(
        "Local Bytes Read", 0)
    acc["fetch_wait_s"] += rd.get("Fetch Wait Time", 0) / 1e3
    acc["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0)
    inp = m.get("Input Metrics") or {}
    acc["input_bytes"] += inp.get("Bytes Read", 0)
    acc["input_rows"] += inp.get("Records Read", 0)
    for a in info.get("Accumulables") or ():
        hit = _PY_ACCUMS.get(a.get("Name"))
        if hit is not None:
            acc[hit[0]] += float(a.get("Update") or 0) * hit[1]
