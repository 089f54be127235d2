"""Outside-in tracing for the benchmark's traced run.

Three sources, none of which changes the program under test:

- spans: the benchmark times each call it makes into a layer, and wraps
  the public functions of ``detectors``, ``agentic.tools`` and
  ``agentic.timeline`` so calls made by the investigation loop are
  counted and timed;
- Spark's event log: every job carries the benchmark's current span (a
  local property) and PySpark's call site (``callSite.short``, the first
  frame outside pyspark), so job, stage and task time is attributed both
  to the layer step and to the program module that submitted the job;
- per-query ``queryExecution().tracker().phases()`` (see workloads.py).

Spans live in memory and are written as one JSON file when the run ends.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import sys
import threading
import time

SPAN_PROPERTY = "perfbench.span"
LAYER_PROPERTY = "perfbench.layer"  # innermost wrapped layer call on the thread
_MODULE_RE = re.compile(r"(db_loganalyzer_spark/[\w/]+|__spark_entry__|perfbench/\w+)\.py")
_T0 = time.perf_counter()  # module import, early in the process
LOGGED_SPANS = {"setup", "check", "load", "investigate", "report", "retrieval.index",
                "detectors"}
PY_BOUNDARY_METRICS = ("data sent to Python workers", "data returned from Python workers")


class Tracer:
    """Records spans and tags Spark jobs with the span that caused them.

    A disabled tracer still runs every ``span`` body but records nothing
    and sets no job property, so untraced and traced runs share code."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.calls: dict[str, list[tuple[float, float]]] = {}  # (start, seconds)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._t0 = time.perf_counter()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[str]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str):
        return _Span(self, name)

    def _set_property(self, value: str | None) -> None:
        self.spark.sparkContext.setLocalProperty(SPAN_PROPERTY, value)

    def wrap_module(self, module, names, layer: str) -> None:
        """Count and time calls to ``module.<name>`` for each name."""
        if not self.enabled:
            return
        for name in names:
            fn = getattr(module, name)
            self._patched.append((module, name, fn))
            setattr(module, name, self._timed(fn, f"{layer}.{name}"))

    def _timed(self, fn, key: str):
        layer = key.split(".", 1)[0]
        sc = self.spark.sparkContext

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            outer = sc.getLocalProperty(LAYER_PROPERTY)
            sc.setLocalProperty(LAYER_PROPERTY, layer)
            t = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                sc.setLocalProperty(LAYER_PROPERTY, outer)
                with self._lock:
                    self.calls.setdefault(key, []).append(
                        (t - self._t0, time.perf_counter() - t))
        return wrapper

    def record(self, name: str, start: float, end: float, parent: str | None) -> None:
        """Add a span measured elsewhere (perf_counter() start and end)."""
        if self.enabled:
            with self._lock:
                self.spans.append({
                    "name": f"{parent}/{name}" if parent else name, "parent": parent,
                    "thread": threading.get_ident(),
                    "start": start - self._t0, "end": end - self._t0,
                })

    def first_call(self, key: str, after: float = 0.0) -> float | None:
        """perf_counter() time of the first recorded call to ``key`` that
        starts at or after perf_counter() time ``after``."""
        starts = [start for start, _ in self.calls.get(key, [])
                  if self._t0 + start >= after]
        return self._t0 + min(starts) if starts else None

    def unwrap(self) -> None:
        for module, name, fn in reversed(self._patched):
            setattr(module, name, fn)
        self._patched.clear()

    def write(self, path: str, jobs: list[dict], metrics: dict) -> None:
        """Spans, wrapped-call durations, event-log jobs and every measured
        metric (a superset of the reported ones) as one file."""
        brief = [{k: j[k] for k in ("id", "span", "module", "call_site", "wall_s")}
                 | {"stages": len(j["stages"])} for j in jobs]
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "calls": self.calls, "jobs": brief,
                       "metrics": metrics}, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name
        self.elapsed = 0.0

    def __enter__(self):
        tr = self.tracer
        stack = tr._stack()
        self.parent = stack[-1] if stack else None
        self.path = f"{self.parent}/{self.name}" if self.parent else self.name
        stack.append(self.path)
        if tr.enabled:
            tr._set_property(self.path)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        self.elapsed = end - self.start
        tr = self.tracer
        tr._stack().pop()
        if self.parent is None and self.name in LOGGED_SPANS:
            log(f"{self.name} {self.elapsed:.2f} s")
        if tr.enabled:
            tr._set_property(self.parent)
            with tr._lock:
                tr.spans.append({
                    "name": self.path, "parent": self.parent,
                    "thread": threading.get_ident(),
                    "start": self.start - tr._t0, "end": end - tr._t0,
                })
        return False


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start-up."""
    print(f"perfbench: +{time.perf_counter() - _T0:.1f}s {msg}", file=sys.stderr)


def call_site_module(call_site: str | None) -> str | None:
    """'collect at .../db_loganalyzer_spark/agentic/investigation.py:603'
    -> 'agentic/investigation'. Only some PySpark actions (collect,
    toPandas, ...) record a Python call site; the jobs of the others are
    attributed to the innermost wrapped layer call (see ``read_event_log``)."""
    m = _MODULE_RE.search(call_site or "")
    return m.group(1).replace("db_loganalyzer_spark/", "") if m else None


def read_event_log(log_dir: str) -> list[dict]:
    """Jobs from the application event log under ``log_dir``: id, span,
    call-site module, wall seconds, and per-stage task aggregates."""
    files = sorted(
        (p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
         if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")),
        key=_log_order,
    )
    if not files:
        raise RuntimeError(f"no event log under {log_dir}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    for line in _lines(files):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = {
                "id": jid,
                "span": props.get(SPAN_PROPERTY) or "",
                "module": (call_site_module(props.get("callSite.short"))
                           or props.get(LAYER_PROPERTY) or "other"),
                "call_site": props.get("callSite.short"),
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
                "stages": [],
            }
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(ev["Stage ID"], _empty_stage())
            _add_task(st, ev)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stages.setdefault(info["Stage ID"], _empty_stage())
            st["num_tasks"] = info.get("Number of Tasks", 0)
            st["completed"] = True
    for sid, st in stages.items():
        jid = stage_job.get(sid)
        if jid in jobs and st.get("completed"):
            jobs[jid]["stages"].append(st)
    for j in jobs.values():
        j["wall_s"] = (j["end"] - j["start"]) if j["end"] is not None else 0.0
    return sorted(jobs.values(), key=lambda j: j["id"])


def _log_order(path: str) -> tuple:
    """Rolling event logs are events_<n>_<app id>; order by n."""
    m = re.match(r"events_(\d+)_", os.path.basename(path))
    return (int(m.group(1)) if m else 0, path)


def _lines(files):
    for path in files:
        with open(path) as f:
            yield from f


def _empty_stage() -> dict:
    return {"tasks": 0, "num_tasks": 0, "task_s": 0.0, "gc_s": 0.0, "spill_b": 0,
            "shuffle_b": 0, "input_b": 0, "output_b": 0, "arrow_b": 0,
            "completed": False}


def _add_task(st: dict, ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    st["tasks"] += 1
    st["task_s"] += m.get("Executor Run Time", 0) / 1000.0
    st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    st["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    st["shuffle_b"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                        + sw.get("Shuffle Bytes Written", 0))
    st["input_b"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    st["output_b"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        if acc.get("Name") in PY_BOUNDARY_METRICS:
            try:
                st["arrow_b"] += int(acc.get("Update") or 0)
            except (TypeError, ValueError):
                pass


def summarize(jobs: list[dict]) -> dict:
    """Totals over a set of jobs."""
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "task_s": 0.0, "gc_s": 0.0,
           "spill_mb": 0.0, "shuffle_mb": 0.0, "arrow_mb": 0.0, "input_mb": 0.0,
           "output_mb": 0.0, "job_s": 0.0, "single_task_stages": 0}
    for j in jobs:
        out["job_s"] += j["wall_s"]
        for st in j["stages"]:
            out["stages"] += 1
            out["tasks"] += st["tasks"]
            out["task_s"] += st["task_s"]
            out["gc_s"] += st["gc_s"]
            out["spill_mb"] += st["spill_b"] / 1e6
            out["shuffle_mb"] += st["shuffle_b"] / 1e6
            out["arrow_mb"] += st["arrow_b"] / 1e6
            out["input_mb"] += st["input_b"] / 1e6
            out["output_mb"] += st["output_b"] / 1e6
            out["single_task_stages"] += int(st["num_tasks"] == 1)
    return out
