"""The traced run's instruments, all outside the engine's code.

- ``Tracer`` records spans around calls into the engine's public
  functions. It rebinds each function in every ``yamr_spark`` module
  that holds it by name and puts the originals back on ``restore()``.
  Spans stay in memory until the run ends.
- ``CatalystListener`` is a JVM ``QueryExecutionListener`` (through the
  py4j callback server) that reads each finished query's
  ``QueryExecution.tracker()`` phase times.
- ``read_event_log`` folds Spark's event log into per-job-description
  stage and task totals.
"""

from __future__ import annotations

import glob
import importlib
import json
import sys
import threading
import time
from collections import defaultdict

from stats import self_time


class Tracer:
    """Span recorder. A span is ``[name, start, end, parent, tag]``;
    ``tag`` is what the harness last assigned to ``self.tag`` (the pass and
    query), and ``parent`` the index of the enclosing span. Only the
    thread that created the tracer records; other threads pass through."""

    def __init__(self):
        self.spans: list[list] = []
        self.enabled = False
        self.tag = None
        self._stack: list[int] = []
        self._tid = threading.get_ident()
        self._patched: list[tuple[object, str, object]] = []

    def begin(self, name: str) -> int | None:
        if not self.enabled or threading.get_ident() != self._tid:
            return None
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.perf_counter(), None, parent, self.tag])
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def end(self, idx: int | None) -> None:
        if idx is not None:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def call(self, name: str, fn, *args, **kwargs):
        idx = self.begin(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.end(idx)

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            return self.call(name, fn, *args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def patch(self, module: str, attr: str, name: str) -> None:
        """Trace ``module.attr`` wherever a ``yamr_spark`` module holds it."""
        orig = getattr(importlib.import_module(module), attr)
        traced = self.wrap(name, orig)
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("yamr_spark") or mod is None:
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, key, traced)
                    self._patched.append((mod, key, orig))

    def restore(self) -> None:
        for mod, key, orig in reversed(self._patched):
            setattr(mod, key, orig)
        self._patched.clear()

    def layer_totals(self, tag_of) -> dict:
        """Per group (``tag_of(tag)``; None drops the span): for each
        span name, call count, total duration and total self time."""
        children = defaultdict(list)
        for s in self.spans:
            if s[3] is not None:
                children[s[3]].append((s[1], s[2]))
        out: dict = defaultdict(lambda: defaultdict(lambda: [0, 0.0, 0.0]))
        for i, (name, start, end, _parent, tag) in enumerate(self.spans):
            group = tag_of(tag)
            if group is None or end is None:
                continue
            acc = out[group][name]
            acc[0] += 1
            acc[1] += end - start
            acc[2] += self_time(start, end, children[i])
        return out


class CatalystListener:
    """Collects ``(analysis, optimization, planning)`` milliseconds of
    every query execution the session finishes while registered, tagged
    with the harness's current tag. Call ``flush()`` before changing the tag: the
    JVM delivers these events asynchronously."""

    PHASES = ("analysis", "optimization", "planning")

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.tag = None
        self.records: list[tuple] = []
        self._spark = spark
        ensure_callback_server_started(spark.sparkContext._gateway)

    def register(self) -> None:
        self._spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (JVM interface)
        phases = qe.tracker().phases()
        ms = []
        for p in self.PHASES:
            opt = phases.get(p)
            ms.append(opt.get().durationMs() if opt.isDefined() else 0)
        self.records.append((self.tag, *ms))

    def record_built(self, df) -> None:
        """Add the analysis time Spark recorded on a built DataFrame's own
        ``QueryExecution``: analysis runs eagerly while the query
        function builds it, before any command executes."""
        opt = df._jdf.queryExecution().tracker().phases().get("analysis")
        self.records.append((self.tag, opt.get().durationMs() if opt.isDefined() else 0, 0, 0))

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (JVM interface)
        self.records.append((self.tag, 0, 0, 0))

    def flush(self) -> None:
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def unregister(self) -> None:
        self._spark._jsparkSession.listenerManager().unregister(self)


def _acc_value(accumulables: list, name: str) -> int:
    total = 0
    for a in accumulables:
        if a.get("Name") == name:
            try:
                total += int(a.get("Update", 0))
            except (TypeError, ValueError):
                pass
    return total


PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


def read_event_log(log_dir: str) -> dict:
    """Fold the single event-log file under ``log_dir`` into a dict
    keyed by job description, each holding job/stage/task records:

    ``{"jobs": [(submit_ms, end_ms, first_task_launch_ms)],
       "stages": [(n_tasks, submit_ms, done_ms, max_task_ms)],
       "tasks": {tasks_n, run_ms, cpu_ns, gc_ms, task_ms, shuffle_write_b,
                 shuffle_read_b, spill_b, py_bytes, py_run_ms}}``

    ``py_bytes`` is the data tasks moved to and from Python workers
    (pandas/Arrow UDFs) and ``py_run_ms`` those tasks' executor run
    time."""
    files = glob.glob(f"{log_dir}/*")
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    stage_desc: dict[int, str] = {}
    job_desc: dict[int, str] = {}
    job_submit: dict[int, int] = {}
    job_stages: dict[int, list[int]] = {}
    stage_first_launch: dict[int, int] = {}
    stage_max_task: dict[int, int] = defaultdict(int)
    out: dict = defaultdict(
        lambda: {"jobs": [], "stages": [], "tasks": defaultdict(int)}
    )
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description")
                jid = ev["Job ID"]
                job_desc[jid] = desc
                job_submit[jid] = ev.get("Submission Time", 0)
                job_stages[jid] = ev.get("Stage IDs", [])
                for sid in job_stages[jid]:
                    stage_desc.setdefault(sid, desc)
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                desc = job_desc.get(jid)
                launches = [
                    stage_first_launch[s] for s in job_stages.get(jid, []) if s in stage_first_launch
                ]
                first = min(launches) if launches else None
                out[desc]["jobs"].append((job_submit[jid], ev.get("Completion Time", 0), first))
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                info = ev.get("Task Info", {})
                m = ev.get("Task Metrics") or {}
                launch, finish = info.get("Launch Time", 0), info.get("Finish Time", 0)
                prev = stage_first_launch.get(sid)
                stage_first_launch[sid] = launch if prev is None else min(prev, launch)
                stage_max_task[sid] = max(stage_max_task[sid], finish - launch)
                acc = info.get("Accumulables", [])
                py_bytes = _acc_value(acc, PY_SENT) + _acc_value(acc, PY_RETURNED)
                t = out[stage_desc.get(sid)]["tasks"]
                t["tasks_n"] += 1
                t["run_ms"] += m.get("Executor Run Time", 0)
                t["cpu_ns"] += m.get("Executor CPU Time", 0)
                t["gc_ms"] += m.get("JVM GC Time", 0)
                t["task_ms"] += finish - launch
                sw = m.get("Shuffle Write Metrics", {})
                sr = m.get("Shuffle Read Metrics", {})
                t["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
                t["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                t["spill_b"] += m.get("Disk Bytes Spilled", 0)
                if py_bytes:
                    t["py_bytes"] += py_bytes
                    t["py_run_ms"] += m.get("Executor Run Time", 0)
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                out[stage_desc.get(sid)]["stages"].append(
                    (
                        si.get("Number of Tasks", 0),
                        si.get("Submission Time", 0),
                        si.get("Completion Time", 0),
                        stage_max_task.get(sid, 0),
                    )
                )
    return out
