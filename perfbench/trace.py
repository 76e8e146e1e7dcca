"""The traced run: spans around calls into the engine's modules, Spark
job groups per span, and per-layer metrics from the Spark event log.

Spans are installed from here, by replacing module attributes at every
module that holds a reference to a layer function: ``exact_l2_topk``,
for instance, is called through ``convoy_spark.queries.similarity``'s
own name for it, so that is the attribute replaced. Nothing in the
engine's files changes. Spans stay in memory and are written at exit.
"""

from __future__ import annotations

import contextlib
import inspect
import json
import os
import sys
import time
from collections import Counter, defaultdict
from dataclasses import asdict, dataclass

# Layers are named after the engine's modules, relative to convoy_spark.
LAYERS = (
    "sources.jsonl",
    "pipeline.ingest",
    "pipeline.warehouse",
    "operators.closure",
    "operators.treestats",
    "operators.pq",
    "operators.similarity",
    "operators.graph",
    "operators.pca",
    "operators.suffix",
    "operators.dedup",
    "operators.textops",
)
# Layers that get the full set of span metrics in the printed result.
# pipeline.warehouse reports its write phase instead (write_s, bytes).
SPAN_LAYERS = tuple(x for x in LAYERS if x != "pipeline.warehouse")
SPAN_METRICS = (
    ("self_s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("task_cpu_s", "s"),
    ("gc_s", "s"),
    ("shuffle_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("driver_gap_s", "s"),
)
SPARK_METRICS = (
    ("jobs", "count"),
    ("tasks", "count"),
    ("task_cpu_s", "s"),
    ("gc_s", "s"),
    ("scheduler_delay_s", "s"),
    ("fetch_wait_s", "s"),
    ("shuffle_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("driver_gap_s", "s"),
    ("core_util", "share"),
)
_FRAME_TYPES = {"DataFrame", "SparkSession"}


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class NullTracer:
    """Untraced runs: the same calls, no recording."""

    sc = None

    @contextlib.contextmanager
    def span(self, name: str):
        yield


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self.calls: Counter[str] = Counter()
        self._stack: list[Span] = []
        self._undo: list[tuple[object, str, object]] = []
        self.sc = None  # SparkContext of the live session
        self.overhead_s = 0.0  # time spent recording spans and setting job groups

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.time(), 0.0, parent.sid if parent else None, self.run_id)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            t1 = time.perf_counter()
            s.end = time.time()
            self._stack.pop()
            self._set_group(parent)
            self.overhead_s += time.perf_counter() - t1

    def _set_group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(str(s.sid), s.name)

    # -- installation --------------------------------------------------

    def _patch(self, owner: object, attr: str, new: object) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def _wrap(self, name: str, fn):
        tracer = self

        def wrapper(*args, **kwargs):
            tracer.calls[name] += 1
            with tracer.span(name):
                return fn(*args, **kwargs)

        wrapper.__wrapped__ = fn
        wrapper.__name__ = fn.__name__
        return wrapper

    def install(self, cache_names: dict[int, str]) -> None:
        """Wrap every public layer function that takes a DataFrame or a
        SparkSession, at each ``convoy_spark`` module holding it, and
        the two shared-build caches so that each cache miss is counted
        as ``queries.shared.<build>``."""
        import importlib

        wrappers: dict[int, object] = {}
        for layer in LAYERS:
            mod = importlib.import_module(f"convoy_spark.{layer}")
            for attr, fn in vars(mod).items():
                if attr.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != mod.__name__:
                    continue
                params = inspect.signature(fn).parameters.values()
                if any(str(p.annotation) in _FRAME_TYPES for p in params):
                    wrappers[id(fn)] = self._wrap(f"{layer}.{attr}", fn)

        shared = importlib.import_module("convoy_spark.queries.shared")
        for attr in ("session_cached", "session_cached_obj"):
            wrappers[id(getattr(shared, attr))] = self._counted_cache(getattr(shared, attr), cache_names)

        for mod in [m for n, m in sorted(sys.modules.items()) if n.startswith("convoy_spark.")]:
            for attr, val in list(vars(mod).items()):
                if id(val) in wrappers and inspect.isfunction(val):
                    self._patch(mod, attr, wrappers[id(val)])

        # The warehouse's sinks call methods of the writer object, so
        # its write phase is spanned at the writer class.
        from pyspark.sql.readwriter import DataFrameWriter

        for attr in ("parquet", "text"):
            self._patch(DataFrameWriter, attr, self._wrap("pipeline.warehouse.write", getattr(DataFrameWriter, attr)))

    def _counted_cache(self, cached, cache_names: dict[int, str]):
        tracer = self

        def wrapper(cache, spark, sf_dir, build):
            name = f"queries.shared.{cache_names.get(id(cache), 'unnamed')}"

            def counted():
                tracer.calls[name] += 1
                return build()

            return cached(cache, spark, sf_dir, counted)

        wrapper.__wrapped__ = cached
        return wrapper

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, old = self._undo.pop()
            setattr(owner, attr, old)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": [asdict(s) for s in self.spans], "calls": self.calls}, fh)


# -- event log -----------------------------------------------------------


def _plan_scans(node: dict, fmt: str) -> int:
    own = 1 if node.get("nodeName", "").startswith(f"Scan {fmt}") else 0
    return own + sum(_plan_scans(c, fmt) for c in node.get("children", []))


def read_event_log(path: str) -> dict:
    """Jobs (group, start, end, tasks) with their task metrics, and
    each SQL execution's start time and JSON-scan count in its final
    (re-planned) physical plan."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    sql: dict[int, dict] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start": ev["Submission Time"] / 1000,
                    "end": None,
                    "tasks": 0, "cpu": 0.0, "gc": 0.0, "run": 0.0, "delay": 0.0,
                    "fetch": 0.0, "shuffle": 0, "spill": 0,
                }
                for st in ev.get("Stage IDs", []):
                    stage_job[st] = jid
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"]))
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                info = ev["Task Info"]
                duration = info["Finish Time"] - info["Launch Time"]
                job["tasks"] += 1
                job["cpu"] += m["Executor CPU Time"] / 1e9
                job["gc"] += m["JVM GC Time"] / 1000
                job["run"] += m["Executor Run Time"] / 1000
                job["delay"] += max(
                    0,
                    duration - m["Executor Run Time"] - m["Executor Deserialize Time"]
                    - m["Result Serialization Time"] - info.get("Getting Result Time", 0),
                ) / 1000
                job["fetch"] += m["Shuffle Read Metrics"]["Fetch Wait Time"] / 1000
                job["shuffle"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                job["spill"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                sql[ev["executionId"]] = {
                    "start": ev["time"] / 1000,
                    "json_scans": _plan_scans(ev["sparkPlanInfo"], "json"),
                }
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate") and ev["executionId"] in sql:
                sql[ev["executionId"]]["json_scans"] = _plan_scans(ev["sparkPlanInfo"], "json")
    for job in jobs.values():
        if job["end"] is None:
            job["end"] = job["start"]
    return {"jobs": jobs, "sql": sql}


def json_scans(sql: dict[int, dict], start: float, end: float) -> int:
    """JSON file scans in the plans of the SQL executions started in
    [start, end]."""
    return sum(e["json_scans"] for e in sql.values() if start <= e["start"] <= end)


def _union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _length(intervals) -> float:
    return sum(b - a for a, b in intervals)


def _minus(base: list[tuple[float, float]], cut: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out = []
    for a, b in base:
        pieces = [(a, b)]
        for c, d in cut:
            nxt = []
            for x, y in pieces:
                if d <= x or c >= y:
                    nxt.append((x, y))
                    continue
                if c > x:
                    nxt.append((x, c))
                if d < y:
                    nxt.append((d, y))
            pieces = nxt
        out += pieces
    return out


def layer_of(span_name: str) -> str | None:
    for layer in LAYERS:
        if span_name.startswith(layer + "."):
            return layer
    if span_name.startswith("queries.shared."):
        return "queries.shared"
    return None


def span_metrics(spans: list[Span], jobs: dict[int, dict]) -> dict[str, dict[str, float]]:
    """Per-layer sums of each span's self time and of the Spark work
    of the jobs its job group ran; ``driver_gap_s`` is the span's self
    time that no job of its own covered."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    by_group: dict[str, list[dict]] = defaultdict(list)
    for j in jobs.values():
        if j["group"] is not None:
            by_group[j["group"]].append(j)
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        layer = layer_of(s.name)
        if layer is None:
            continue
        own = _minus([(s.start, s.end)], _union([(k.start, k.end) for k in kids[s.sid]]))
        mine = by_group.get(str(s.sid), [])
        busy = _union([(j["start"], j["end"]) for j in mine])
        m = out[layer]
        m["self_s"] += _length(own)
        m["driver_gap_s"] += _length(_minus(own, busy))
        m["jobs"] += len(mine)
        for key, col in (("tasks", "tasks"), ("task_cpu_s", "cpu"), ("gc_s", "gc"),
                         ("shuffle_bytes", "shuffle"), ("spill_bytes", "spill")):
            m[key] += sum(j[col] for j in mine)
    return out


def spark_metrics(jobs: dict[int, dict], start: float, end: float, cores: int) -> dict[str, float]:
    """Whole-pass Spark totals over the jobs that started in [start, end]."""
    mine = [j for j in jobs.values() if start <= j["start"] <= end]
    wall = end - start
    busy = _union([(j["start"], min(j["end"], end)) for j in mine])
    return {
        "jobs": len(mine),
        "tasks": sum(j["tasks"] for j in mine),
        "task_cpu_s": sum(j["cpu"] for j in mine),
        "gc_s": sum(j["gc"] for j in mine),
        "scheduler_delay_s": sum(j["delay"] for j in mine),
        "fetch_wait_s": sum(j["fetch"] for j in mine),
        "shuffle_bytes": sum(j["shuffle"] for j in mine),
        "spill_bytes": sum(j["spill"] for j in mine),
        "driver_gap_s": wall - _length(busy),
        "core_util": sum(j["run"] for j in mine) / (wall * cores) if wall > 0 else 0.0,
    }


def uncovered_share(spans: list[Span], start: float, end: float) -> float:
    """Share of [start, end] that no module span (a layer function or
    a shared build) covers."""
    covered = _union([(max(s.start, start), min(s.end, end)) for s in spans
                      if layer_of(s.name) is not None and s.end > start and s.start < end])
    return 1 - _length(covered) / (end - start) if end > start else 0.0


def event_log_file(log_dir: str, app_id: str) -> str:
    path = os.path.join(log_dir, app_id)
    if not os.path.exists(path):
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    return path
