"""Per-layer attribution, measured from outside the engine.

Two sources:

- Spans. ``Tracer.install`` wraps the public functions of the package's
  ``session`` and ``io`` modules and ``cli.main`` in every module that
  bound them, so each call records a span with name, start, end, parent
  and the run id. The benchmark adds its own spans for query
  construction, Catalyst planning and the action. Spans stay in memory
  and are written to a file at the end of the run.
- The Spark UI REST API of the benchmark's own session (``localhost``):
  job, stage, task and SQL-node metrics of the jobs an operation ran,
  selected by submission time.
"""

from __future__ import annotations

import functools
import json
import re
import statistics
import sys
import threading
import time
import urllib.request
from datetime import datetime, timezone

PACKAGE = "mysql2parquet_spark"

# module -> (layer, the functions traced; None for every public one)
TRACED = {
    "session": ("session", None),
    "io": ("io", None),
    "cli": ("cli", ("main",)),
}


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.enabled = False
        self.ctx: dict = {}
        self._local = threading.local()

    # -- spans -----------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, layer: str):
        return _Span(self, name, layer)

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def install(self, hooks: dict | None = None) -> None:
        """Wrap the traced public functions wherever the package bound
        them (``from mysql2parquet_spark.io import load_table`` copies
        the function into the importing module). ``hooks`` maps
        ``module.function`` to a wrapper factory used instead of a plain
        span (the write sinks add Catalyst/action child spans)."""
        hooks = hooks or {}
        targets: dict[int, object] = {}
        for mod, (layer, only) in TRACED.items():
            m = sys.modules.get(f"{PACKAGE}.{mod}")
            if m is None:
                continue
            for attr, fn in list(vars(m).items()):
                if attr.startswith("_") or not callable(fn):
                    continue
                if getattr(fn, "__module__", None) != m.__name__:
                    continue
                if only is not None and attr not in only:
                    continue
                name = f"{mod}.{attr}"
                factory = hooks.get(name)
                targets[id(fn)] = (
                    factory(fn) if factory else self.wrap(fn, name, layer)
                )
        for m in list(sys.modules.values()):
            if m is None or not getattr(m, "__name__", "").startswith(PACKAGE):
                continue
            for attr, fn in list(vars(m).items()):
                w = targets.get(id(fn))
                if w is not None:
                    setattr(m, attr, w)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str, layer: str):
        self.t, self.name, self.layer = tracer, name, layer

    def __enter__(self):
        st = self.t._stack()
        self.rec = {
            "id": len(self.t.spans),
            "parent": st[-1] if st else None,
            "run": self.t.run_id,
            "name": self.name,
            "layer": self.layer,
            "start": time.time(),
            "end": None,
            **self.t.ctx,
        }
        self.t.spans.append(self.rec)
        st.append(self.rec["id"])
        return self.rec

    def __exit__(self, *exc):
        self.rec["end"] = time.time()
        if exc[0] is not None:
            self.rec["error"] = exc[0].__name__
        self.t._stack().pop()
        return False


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the durations of its direct children."""
    child = {s["id"]: 0.0 for s in spans}
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {
        s["id"]: (s["end"] - s["start"]) - child[s["id"]]
        for s in spans
        if s["end"] is not None
    }


def outermost(spans: list[dict], pred) -> list[dict]:
    """Spans matching ``pred`` that have no matching ancestor (so nested
    calls such as ``load_tables`` -> ``read_parquet`` count once)."""
    by_id = {s["id"]: s for s in spans}
    out = []
    for s in spans:
        if not pred(s):
            continue
        p = s["parent"]
        while p is not None and not pred(by_id[p]):
            p = by_id[p]["parent"]
        if p is None:
            out.append(s)
    return out


# -- Spark UI REST -------------------------------------------------------

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_metric(value: str) -> float:
    """SQL-node metric text -> number (bytes, seconds or a count).
    Aggregated metrics read ``total (min, med, max ...)\\n<total> (...)``."""
    if "\n" in value:
        value = value.split("\n", 1)[1]
    m = _VALUE.match(value)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2) or "", 1.0)


def ui_time(s: str) -> float:
    """Spark UI timestamp (``2026-01-01T00:00:00.000GMT``) -> epoch s."""
    return (
        datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


class Rest:
    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.load(r)

    def jobs_between(self, t0: float, t1: float) -> list[dict]:
        """Jobs submitted in [t0, t1], once the UI has seen them end
        (the listener bus is asynchronous)."""
        for _ in range(50):
            jobs = [
                j for j in self.get("/jobs")
                if t0 - 0.005 <= ui_time(j["submissionTime"]) <= t1 + 0.005
            ]
            if all(j["status"] != "RUNNING" for j in jobs):
                return jobs
            time.sleep(0.05)
        return jobs

    def stage_metrics(self, jobs: list[dict]) -> dict:
        out = dict.fromkeys(
            ("stages", "tasks", "run_s", "cpu_s", "gc_s", "scheduler_delay_s",
             "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"), 0.0)
        skews = []
        seen = set()
        for j in jobs:
            for sid in j["stageIds"]:
                if sid in seen:
                    continue
                seen.add(sid)
                for st in self.get(f"/stages/{sid}"):
                    if st["status"] != "COMPLETE":
                        continue
                    out["stages"] += 1
                    out["tasks"] += st["numCompleteTasks"]
                    out["run_s"] += st["executorRunTime"] / 1e3
                    out["cpu_s"] += st["executorCpuTime"] / 1e9
                    out["gc_s"] += st["jvmGcTime"] / 1e3
                    out["shuffle_write_bytes"] += st["shuffleWriteBytes"]
                    out["shuffle_read_bytes"] += st["shuffleReadBytes"]
                    out["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
                    tasks = self.get(
                        f"/stages/{sid}/{st['attemptId']}/taskList?length=100000"
                    )
                    out["scheduler_delay_s"] += sum(t.get("schedulerDelay", 0) for t in tasks) / 1e3
                    runs = [t["taskMetrics"]["executorRunTime"] for t in tasks if "taskMetrics" in t]
                    if len(runs) >= 2 and statistics.median(runs) > 0:
                        skews.append(max(runs) / statistics.median(runs))
        out["task_skew"] = max(skews, default=1.0)
        return out

    def sql_metrics(self, job_ids: set[int]) -> dict:
        out = dict.fromkeys(
            ("python_sent_bytes", "python_returned_bytes", "agg_time_s",
             "sort_time_s", "peak_memory_bytes"), 0.0)
        for e in self.get("/sql?details=true&planDescription=false&length=100000"):
            ids = set(e.get("successJobIds", [])) | set(e.get("failedJobIds", []))
            if not ids & job_ids:
                continue
            for n in e["nodes"]:
                m = {x["name"]: parse_metric(x["value"]) for x in n["metrics"]}
                out["python_sent_bytes"] += m.get("data sent to Python workers", 0)
                out["python_returned_bytes"] += m.get("data returned from Python workers", 0)
                out["agg_time_s"] += m.get("time in aggregation build", 0)
                out["sort_time_s"] += m.get("sort time", 0)
                out["peak_memory_bytes"] = max(out["peak_memory_bytes"], m.get("peak memory", 0))
        return out


def count_exchanges(plan: str) -> int:
    return len(re.findall(r"^[\s:+\-|]*(?:Broadcast|Shuffle)?Exchange\b", plan, re.M))
