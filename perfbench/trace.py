"""Spans around calls into the engine's layers, and per-layer counters.

A layer is one module of the engine package. ``Tracer.install`` wraps
every public function and public method defined in a layer module, so a
call records a span ``{name, layer, start, end, parent, run_id}``. The
benchmark's own steps (one registry query, one pipeline call) are spans
too. Spans stay in memory until the run ends.

Counters come from Spark's application status store (jobs and stages of
the whole application, whichever thread submitted them), read once after
the run and attributed to a span by submission time. Streaming
micro-batches run on other threads and carry no job group, so time is
the only attribution that sees them.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import threading
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame

PKG = "healthcare_oltp_to_olap_gcp_spark"
LAYERS = (
    "session",
    "catalog",
    "sources.replicate",
    "sources.factstore",
    "streaming.pipeline",
    "plans.refresh",
    "plans.star",
    "plans.monitoring",
    "plans.analytics",
    "operators.retrieval",
    "operators.similarity",
    "operators.dedup",
    "operators.textquality",
)
# Layers whose public functions build registry queries: their build time
# and eager build-time jobs are reported apart from execution.
BUILDER_LAYERS = tuple(
    la for la in LAYERS if la.startswith(("plans.", "operators.")) and la != "plans.refresh"
)
SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "shuffle_bytes", "input_bytes", "task_busy_s", "driver_gap_s",
)


class Tracer:
    """Spans of one run, and the patches that record them."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.cached_bytes: list[int] = []
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str, kind: str = "step"):
        stack = self._stack()
        # A span opened on another thread (a streaming micro-batch) hangs
        # under the span the main thread has open.
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        rec = {"name": name, "layer": layer, "kind": kind, "start": time.time(),
               "end": None, "parent": parent, "run_id": self.run_id}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()

    def _wrap(self, fn, layer: str):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(fn.__qualname__, layer, kind="call") as rec:
                out = fn(*args, **kwargs)
                rec["returns_df"] = isinstance(out, DataFrame)
                return out

        # The original's module and qualified name let cloudpickle ship a
        # wrapped function to Python workers by reference, where it
        # resolves to the unwrapped original.
        return functools.wraps(fn)(traced)

    def install(self) -> None:
        """Wrap every public function and method of each layer module,
        and re-point every name bound to them with ``from x import f``."""
        wrapped: dict[int, object] = {}
        for layer in LAYERS:
            mod = importlib.import_module(f"{PKG}.{layer}")
            for name, obj in list(vars(mod).items()):
                if name.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                    continue
                if inspect.isfunction(obj):
                    wrapped[id(obj)] = self._wrap(obj, layer)
                    self._set(mod, name, wrapped[id(obj)])
                elif inspect.isclass(obj):
                    for mname, meth in list(vars(obj).items()):
                        if not mname.startswith("_") and inspect.isfunction(meth):
                            self._set(obj, mname, self._wrap(meth, layer))
        for mname, mod in list(sys.modules.items()):
            if mod is None or not mname.startswith(PKG):
                continue
            for name, obj in list(vars(mod).items()):
                if id(obj) in wrapped:
                    self._set(mod, name, wrapped[id(obj)])

    def _set(self, owner, name: str, value) -> None:
        self._restore.append((owner, name, getattr(owner, name)))
        setattr(owner, name, value)

    def uninstall(self) -> None:
        for owner, name, value in reversed(self._restore):
            setattr(owner, name, value)
        self._restore.clear()

    def note_cached_bytes(self, spark) -> None:
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        self.cached_bytes.append(sum(i.memSize() + i.diskSize() for i in infos))

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans, **extra}, f)


def status_snapshot(spark) -> tuple[list[dict], list[dict]]:
    """All jobs and stages the application status store still holds."""
    sc = spark.sparkContext
    jvm, store = sc._jvm, sc._jsc.sc().statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(scala_module.__getattr__("MODULE$"))
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    stages = json.loads(
        mapper.writeValueAsString(store.stageList(None, False, False, no_quantiles, None))
    )
    return jobs, stages


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, cur_lo, cur_hi = 0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    return total + (cur_hi - cur_lo if cur_hi is not None else 0)


def window_counters(jobs: list[dict], stages: list[dict], start: float, end: float) -> dict:
    """Spark work submitted in ``[start, end]`` (epoch seconds)."""
    lo, hi = start * 1000.0, end * 1000.0
    js = [j for j in jobs if lo <= j["submissionTime"] <= hi]
    ss = [
        s for s in stages
        if s["status"] == "COMPLETE" and s.get("submissionTime") is not None
        and lo <= s["submissionTime"] <= hi
    ]
    running = _union_ms(
        [(s["submissionTime"], min(s["completionTime"], hi)) for s in ss if s.get("completionTime")]
    )
    return {
        "jobs": len(js),
        "stages": len(ss),
        "tasks": sum(s["numCompleteTasks"] for s in ss),
        "shuffle_bytes": sum(s["shuffleWriteBytes"] for s in ss),
        "input_bytes": sum(s["inputBytes"] for s in ss),
        "output_records": sum(s["outputRecords"] for s in ss),
        "task_busy_s": sum(s["executorRunTime"] for s in ss) / 1000.0,
        "driver_gap_s": max(end - start - running / 1000.0, 0.0),
    }


def layer_rollup(spans: list[dict], jobs: list[dict], stages: list[dict]) -> dict[str, dict]:
    """Per layer: calls, busy time and Spark counters over its outermost
    spans (a span nested in a span of the same layer is part of it);
    for builder layers, the build time and build-time jobs of the
    DataFrame-returning calls made directly by a benchmark step."""
    by_id = {s["id"]: s for s in spans}

    def ancestors(s):
        p = s["parent"]
        while p is not None:
            yield by_id[p]
            p = by_id[p]["parent"]

    out = {
        la: {"calls": 0, "busy_s": 0.0, "build_s": 0.0, "build_jobs": 0, "output_records": 0,
             **{c: 0 for c in SPARK_COUNTERS}}
        for la in LAYERS
    }
    for s in spans:
        if s["layer"] not in out or s["end"] is None:
            continue
        acc = out[s["layer"]]
        parent = by_id.get(s["parent"]) if s["parent"] is not None else None
        if (s["kind"] == "call" and s.get("returns_df") and parent is not None
                and parent["kind"] == "step" and parent["layer"] == s["layer"]):
            acc["build_s"] += s["end"] - s["start"]
            acc["build_jobs"] += window_counters(jobs, stages, s["start"], s["end"])["jobs"]
        if any(a["layer"] == s["layer"] for a in ancestors(s)):
            continue
        acc["calls"] += 1
        acc["busy_s"] += s["end"] - s["start"]
        for k, v in window_counters(jobs, stages, s["start"], s["end"]).items():
            acc[k] += v
    return out


UNITS = {"busy_s": "s", "build_s": "s", "task_busy_s": "s", "driver_gap_s": "s",
         "shuffle_bytes": "bytes", "input_bytes": "bytes"}
RATIOS = ("sources.factstore.rewrite_ratio", "sources.replicate.overlap_ratio")


def layer_metrics(tracer: Tracer, layers: dict, jobs: list[dict], stages: list[dict],
                  cores: int, ratios: dict[str, float]) -> dict[str, dict]:
    """The per-layer metrics a traced run reports, every layer included
    (zero where the workload does not reach it). ``session`` and
    ``catalog`` build no queries and run little Spark work of their own,
    so they report calls, busy time and jobs only."""
    metrics = {}
    for la in LAYERS:
        for k, v in layers[la].items():
            if k == "output_records" or (k.startswith("build") and la not in BUILDER_LAYERS):
                continue
            if la in ("session", "catalog") and k not in ("calls", "busy_s", "jobs"):
                continue
            metrics[f"{la}.{k}"] = {"value": v, "unit": UNITS.get(k, "count")}
    # CPU use over the benchmark's own steps: executor busy time over
    # the cores the steps' wall time could have used.
    steps = [s for s in tracer.spans if s["parent"] is None and s["kind"] == "step"]
    busy = sum(window_counters(jobs, stages, s["start"], s["end"])["task_busy_s"] for s in steps)
    wall = sum(s["end"] - s["start"] for s in steps)
    metrics["spark.cpu_util"] = {"value": busy / (wall * cores), "unit": "ratio"}
    held = tracer.cached_bytes
    metrics["session.cached_bytes_held"] = {"value": sum(held) / len(held) if held else 0.0, "unit": "bytes"}
    for name in RATIOS:
        metrics[name] = {"value": ratios.get(name, 0.0), "unit": "ratio"}
    return metrics
