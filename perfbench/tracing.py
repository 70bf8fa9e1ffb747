"""Traced runs: spans around the package's public entry points, JVM codegen
counters per span, and the Spark event log read back into per-layer totals.

Tracing is wired in from the benchmark's own files only: ``Tracer.install``
replaces the listed public functions and methods with wrappers at runtime
and ``Tracer.uninstall`` puts the originals back. Spans are kept in memory
and written once, when the run ends. Untraced runs use ``NULL`` and pay
nothing but a no-op context manager per call.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import sys
import threading
import time
from pathlib import Path

#: (module, class, method) entry points wrapped in a traced run.
METHODS = (
    ("kafka_exercise_spark.ksql", "KsqlEngine", "execute"),
    ("kafka_exercise_spark.sources.incremental", "TimestampModeSource", "poll_once"),
    ("kafka_exercise_spark.sources.incremental", "TimestampModeSource", "commit"),
    ("kafka_exercise_spark.connectors", "ConnectorRegistry", "run_source_to_sink"),
    ("kafka_exercise_spark.serving", "ServingLayer", "register_dataset"),
    ("kafka_exercise_spark.serving", "ServingLayer", "sql"),
)

#: (module, function) entry points; modules that imported the function by
#: name get the wrapper too.
FUNCTIONS = (
    ("kafka_exercise_spark.streaming.stateful", "run_bounded_replay"),
    ("kafka_exercise_spark.streaming.sources", "land_events_replay"),
    ("kafka_exercise_spark.catalog", "load_table"),
)

_IMPORTERS = ("kafka_exercise_spark", "__spark_entry__")


class CodegenCounters:
    """The JVM's whole-stage codegen compile count and total compile time."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._count = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount
        self._ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

    def read(self) -> tuple[int, float]:
        """(compiles, milliseconds) since the JVM started."""
        return int(self._count()), self._ns() / 1e6


class _NullTracer:
    enabled = False

    def span(self, name: str, **attrs):
        return contextlib.nullcontext()


NULL = _NullTracer()


class Tracer:
    enabled = True

    def __init__(self, run_id: str, spark):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._next = 0
        self._undo: list[tuple[object, str, object]] = []
        self._codegen = CodegenCounters(spark).read

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._tls.__dict__.setdefault("stack", [])
        with self._lock:
            sid = self._next
            self._next += 1
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1] if stack else None,
            "run": self.run_id,
            "thread": threading.current_thread().name,
            **attrs,
        }
        c0, ms0 = self._codegen()
        rec["start"] = time.time()
        stack.append(sid)
        try:
            yield rec
        except BaseException as e:
            rec["error"] = type(e).__name__
            raise
        finally:
            stack.pop()
            rec["end"] = time.time()
            c1, ms1 = self._codegen()
            rec["codegen_compiles"] = c1 - c0
            rec["codegen_ms"] = ms1 - ms0
            with self._lock:
                self.spans.append(rec)

    def _wrapper(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        for mod_name, cls_name, meth in METHODS:
            cls = getattr(importlib.import_module(mod_name), cls_name)
            orig = cls.__dict__[meth]
            self._undo.append((cls, meth, orig))
            setattr(cls, meth, self._wrapper(orig, f"{cls_name}.{meth}"))
        for mod_name, fn_name in FUNCTIONS:
            orig = getattr(importlib.import_module(mod_name), fn_name)
            traced = self._wrapper(orig, fn_name)
            for mod in list(sys.modules.values()):
                if (
                    mod is not None
                    and mod.__name__.startswith(_IMPORTERS)
                    and getattr(mod, fn_name, None) is orig
                ):
                    self._undo.append((mod, fn_name, orig))
                    setattr(mod, fn_name, traced)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def dump(self, path: Path) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)


# ---- span arithmetic -------------------------------------------------------


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, end = 0.0, None
    start = None
    for a, b in sorted(intervals):
        if end is None or a > end:
            if end is not None:
                total += end - start
            start, end = a, b
        else:
            end = max(end, b)
    if end is not None:
        total += end - start
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per span name, each span's duration minus the part of it its
    children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        a, b = s["start"], s["end"]
        covered = union_length(
            [(max(a, x), min(b, y)) for x, y in kids.get(s["id"], ()) if y > a and x < b]
        )
        out[s["name"]] = out.get(s["name"], 0.0) + (b - a) - covered
    return out


# ---- Spark event log -------------------------------------------------------

_ACC = {
    "internal.metrics.executorRunTime": "exec_run_ms",
    "internal.metrics.executorCpuTime": "exec_cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
}


def _acc_value(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def read_event_log(log_dir: Path) -> dict:
    """Per-run totals and per-stage windows from the uncompressed event log
    of the (single) application that wrote into ``log_dir``."""
    tot = {
        "jobs": 0, "stages": 0, "tasks": 0, "exec_run_ms": 0.0, "exec_cpu_ns": 0.0,
        "gc_ms": 0.0, "shuffle_read_bytes": 0.0, "shuffle_write_bytes": 0.0,
        "spill_bytes": 0.0, "python_start_ms": 0.0, "python_run_ms": 0.0,
    }
    stages: list[dict] = []
    for path in sorted(Path(log_dir).iterdir()):
        if path.name.startswith(".") or path.suffix == ".inprogress":
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    tot["jobs"] += 1
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    tot["stages"] += 1
                    tot["tasks"] += info.get("Number of Tasks", 0)
                    st = {
                        "submitted": info.get("Submission Time", 0) / 1000.0,
                        "completed": info.get("Completion Time", 0) / 1000.0,
                        "run_ms": 0.0, "cpu_ms": 0.0,
                        "python_start_ms": 0.0, "python_run_ms": 0.0,
                    }
                    for acc in info.get("Accumulables", []):
                        name, val = acc.get("Name", ""), _acc_value(acc.get("Value"))
                        key = _ACC.get(name)
                        if key:
                            tot[key] += val
                            if key == "exec_run_ms":
                                st["run_ms"] = val
                            elif key == "exec_cpu_ns":
                                st["cpu_ms"] = val / 1e6
                        elif "start Python workers" in name:
                            tot["python_start_ms"] += val
                            st["python_start_ms"] += val
                        elif "run Python workers" in name:
                            tot["python_run_ms"] += val
                            st["python_run_ms"] += val
                    stages.append(st)
    tot["exec_cpu_ms"] = tot.pop("exec_cpu_ns") / 1e6
    run = tot["exec_run_ms"]
    tot["wait_frac"] = (1.0 - tot["exec_cpu_ms"] / run) if run > 0 else 0.0
    return {"totals": tot, "stages": stages}


def stage_coverage(span: dict, stages: list[dict], plan_ms: float) -> float:
    """Share of a span's wall time covered by the stages that ran inside it
    plus its planning time."""
    a, b = span["start"], span["end"]
    inside = [
        (max(a, s["submitted"]), min(b, s["completed"]))
        for s in stages
        if s["completed"] > a and s["submitted"] < b
    ]
    wall = b - a
    return (union_length(inside) + plan_ms / 1000.0) / wall if wall > 0 else 0.0
