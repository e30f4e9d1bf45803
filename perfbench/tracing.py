"""Tracing for the benchmark's traced run.

Two sources:

* **Spans** recorded from the benchmark's own code: around each
  operation (run → operation, tagged with workload phase and pass →
  construct/action/verify) and, by wrapping them, around calls into the
  ``session`` and ``sources`` layers' public functions.  Spans live in
  memory and are written out when the run ends.  (The ``streaming``
  layer's batches come from each stream query's progress reports.)
* **Spark's event log** (uncompressed, not rolled) for the ``engine``
  and ``pyworker`` layers: TaskEnd metrics and the Python-worker SQL
  metrics, attributed to operations through a local property the
  benchmark sets around each one (stream queries' threads inherit it).
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import sys
import time
from collections import defaultdict

#: (layer, module, public functions) wrapped in the traced run.
LAYER_FUNCTIONS = (
    ("session", "i3cols_spark.session", ("get_spark", "configure")),
    ("sources", "i3cols_spark.sources.tables", ("table",)),
    ("sources", "i3cols_spark.sources.npy_cols", ("read_npy_columns", "write_npy_columns", "stream_npy_columns")),
    ("sources", "i3cols_spark.sources.ingest", ("write_columns", "read_columns")),
)


class Tracer:
    """In-memory span recorder.  ``span()`` is a context manager;
    ``wrap_layers()`` patches the layer functions in every loaded
    ``i3cols_spark`` module so calls made inside queries are seen."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def wrap_layers(self) -> None:
        import importlib

        originals = {}  # id(function) -> (span name, function)
        for layer, mod_name, fns in LAYER_FUNCTIONS:
            mod = importlib.import_module(mod_name)
            for fn in fns:
                originals[id(getattr(mod, fn))] = (f"{layer}.{fn}", getattr(mod, fn))
        # Patch every module-level reference, including the names that
        # other modules bound with ``from ... import``.
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("i3cols_spark") or mod is None:
                continue
            for attr, value in list(vars(mod).items()):
                hit = originals.get(id(value))
                if hit is not None:
                    setattr(mod, attr, self._wrapped(*hit))
                    self._patched.append((mod, attr, hit[1]))

    def unwrap_layers(self) -> None:
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()

    def _wrapped(self, name: str, fn):
        @functools.wraps(fn)
        def inner(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return inner

    def durations(self, name: str, since: float = 0.0) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["start"] >= since]

    def write(self, path: str, engine: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "engine": engine}, fh)


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs

    def __enter__(self):
        t = self.tracer
        self.rec = {
            "id": len(t.spans), "parent": t._stack[-1] if t._stack else None,
            "name": self.name, "start": time.time(), "end": None, **self.attrs,
        }
        t.spans.append(self.rec)
        t._stack.append(self.rec["id"])
        return self.rec

    def __exit__(self, exc_type, exc, tb):
        self.rec["end"] = time.time()
        if exc_type is not None:
            self.rec["error"] = exc_type.__name__
        self.tracer._stack.pop()
        return False


#: Python-worker SQL metrics (Spark 4.1 names): sizes in bytes, times in ms.
#: Start and init are reported per task; a task that reuses a worker
#: reports no start time.
_PY_METRICS = {
    "data sent to Python workers": "sent_b",
    "data returned from Python workers": "received_b",
    "time to start Python workers": "start_ms",
    "time to initialize Python workers": "init_ms",
    "time to run Python workers": "run_ms",
}


def read_event_log(log_dir: str, since_ms: int, op_property: str) -> dict:
    """Aggregate the event log of one application from ``since_ms`` on.

    Returns ``{operation: counters}``, a job's operation being its
    ``op_property`` local property, else its job group;
    ``stage_skew_max`` is the worst stage's max/median task run time
    within the operation."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if not f.endswith(".inprogress")]
    if not files:
        raise FileNotFoundError(f"no completed event log in {log_dir}")
    stage_group: dict[int, str] = {}
    stage_submit: dict[int, int] = {}
    stage_first_launch: dict[int, int] = {}
    stage_task_ms: dict[int, list[int]] = defaultdict(list)
    by_group: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(max(files, key=os.path.getmtime)) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                if ev.get("Submission Time", 0) < since_ms:
                    continue
                props = ev.get("Properties") or {}
                group = props.get(op_property) or props.get("spark.jobGroup.id") or "-"
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
                by_group[group]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                if info["Stage ID"] in stage_group:
                    stage_submit[info["Stage ID"]] = info.get("Submission Time") or 0
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                if sid in stage_group:
                    by_group[stage_group[sid]]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                if sid not in stage_group:
                    continue
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                launch = info["Launch Time"]
                stage_first_launch[sid] = min(stage_first_launch.get(sid, launch), launch)
                stage_task_ms[sid].append(m.get("Executor Run Time", 0))
                row = {
                    "tasks": 1,
                    "failed_tasks": 1 if info.get("Failed") else 0,
                    "executor_run_s": m.get("Executor Run Time", 0) / 1e3,
                    "executor_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1e3,
                    "spill_mb": (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 1e6,
                    "input_mb": (m.get("Input Metrics") or {}).get("Bytes Read", 0) / 1e6,
                    "output_mb": (m.get("Output Metrics") or {}).get("Bytes Written", 0) / 1e6,
                    "shuffle_write_mb": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6,
                    "shuffle_read_mb": sum(
                        (m.get("Shuffle Read Metrics") or {}).get(k, 0)
                        for k in ("Remote Bytes Read", "Local Bytes Read")
                    ) / 1e6,
                }
                py = {
                    _PY_METRICS[a["Name"]]: float(a.get("Update") or 0)
                    for a in info.get("Accumulables", [])
                    if a.get("Name") in _PY_METRICS
                }
                if not py.get("start_ms"):
                    # A reused worker reports as "init" the time since its
                    # previous task ended (idle included): count init only
                    # for tasks that started their worker.
                    py.pop("init_ms", None)
                row.update({"py_" + k: v for k, v in py.items()})
                for k, v in row.items():
                    by_group[stage_group[sid]][k] += v
    for sid, first in stage_first_launch.items():
        g = by_group[stage_group[sid]]
        g["scheduler_delay_s"] += max(0, first - stage_submit.get(sid, first)) / 1e3
        ms = stage_task_ms[sid]
        if len(ms) >= 2:
            skew = max(ms) / max(1, statistics.median(ms))
            g["stage_skew_max"] = max(g["stage_skew_max"], skew)
    return {g: dict(c) for g, c in by_group.items()}
