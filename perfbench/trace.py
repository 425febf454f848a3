"""Spans around calls into the program, Spark event-log parsing, and
the resident-memory sampler.

Spans are recorded from the benchmark's side only: `Tracer.instrument`
replaces the public functions of the program's modules (and the
Catalog write methods) with wrappers at runtime. Each span tags the
Spark jobs it launches with its own job group, so the event log can
attribute jobs, stages and task metrics to the innermost span that was
open when they ran. Spans stay in memory and are summarised when the
run ends.
"""

from __future__ import annotations

import functools
import glob
import inspect
import json
import os
import statistics
import threading
import time
from collections import defaultdict

MB = 1024.0 * 1024.0

# program modules whose public functions get spans
TRACED_MODULES = (
    "pipeline",
    "checkpoint",
    "extract",
    "tiers",
    "codec",
    "gapfill",
    "textops",
    "analytics",
)


class Span:
    __slots__ = ("sid", "name", "parent", "start", "end", "attrs")

    def __init__(self, sid, name, parent, attrs):
        self.sid, self.name, self.parent, self.attrs = sid, name, parent, attrs
        self.start = time.perf_counter()
        self.end = None


class Tracer:
    """Keeps spans in memory; `enabled` switches recording (and job-group
    tagging) on and off without removing the wrappers."""

    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    # -- spans -----------------------------------------------------------
    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)

    def _open(self, name, attrs):
        parent = self._stack[-1].sid if self._stack else None
        s = Span(f"bench-{len(self.spans)}", name, parent, attrs)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.sid, name, False)
        s.start = time.perf_counter()
        return s

    def _close(self, s):
        s.end = time.perf_counter()
        self._stack.pop()
        if self._stack:
            top = self._stack[-1]
            self.sc.setJobGroup(top.sid, top.name, False)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    # -- runtime wrapping of the program ---------------------------------
    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*a, **kw):
            if not self.enabled:
                return fn(*a, **kw)
            with self.span(name):
                return fn(*a, **kw)

        return traced

    def instrument(self):
        import importlib

        from tokens_ts.io import catalog

        for mod_name in TRACED_MODULES:
            mod = importlib.import_module(f"tokens_ts.{mod_name}")
            for attr, obj in list(vars(mod).items()):
                if (
                    not attr.startswith("_")
                    and inspect.isfunction(obj)
                    and obj.__module__ == mod.__name__
                ):
                    setattr(mod, attr, self.wrap(obj, f"{mod_name}.{attr}"))

        tracer = self

        def table_span(method, verb):
            @functools.wraps(method)
            def traced(cat, df, name, *a, **kw):
                if not tracer.enabled:
                    return method(cat, df, name, *a, **kw)
                before = parquet_files(cat.path(name))
                with tracer.span(f"io.catalog.{verb}.{name}") as s:
                    out = method(cat, df, name, *a, **kw)
                s.attrs["files_written"] = len(parquet_files(cat.path(name)) - before)
                return out

            return traced

        C = catalog.Catalog
        C.overwrite_partitions = table_span(C.overwrite_partitions, "write")
        C.append = table_span(C.append, "write")


class _SpanCtx:
    def __init__(self, tracer, name, attrs):
        self.t, self.name, self.attrs, self.s = tracer, name, attrs, None

    def __enter__(self):
        if self.t.enabled:
            self.s = self.t._open(self.name, self.attrs)
        return self.s

    def __exit__(self, *exc):
        if self.s is not None:
            self.t._close(self.s)
        return False


def parquet_files(root: str) -> set[str]:
    out = set()
    for d, _, files in os.walk(root):
        out.update(os.path.join(d, f) for f in files if f.endswith(".parquet"))
    return out


# -- event log ---------------------------------------------------------------

_PY_METRICS = {
    # SQL metric names of Python evaluation nodes → our names
    "data sent to Python workers": "python_sent_b",
    "time to start Python workers": "python_boot_ms",
    "time to run Python workers": "python_ms",
}
_SQL = "org.apache.spark.sql.execution.ui.SparkListener"


def _plan_metrics(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for c in plan.get("children", []):
        _plan_metrics(c, out)


def parse_event_log(log_dir: str) -> dict:
    """Per job group: jobs, stages, tasks and task metrics, from the
    Spark event log (one JSON event per line)."""
    files = [
        f
        for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith(".")
    ]
    groups = defaultdict(lambda: defaultdict(float))
    stage_group: dict[int, str] = {}
    # "number of files read" is a driver-side SQL metric: resolve its
    # accumulator ids from the plans, sum the driver updates per query
    # execution, and attribute executions to groups through their jobs
    acc_name: dict[int, str] = {}
    exec_files: dict[int, float] = defaultdict(float)
    exec_group: dict[int, str] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id") or ""
                    groups[g]["jobs"] += 1
                    if "spark.sql.execution.id" in props:
                        exec_group.setdefault(int(props["spark.sql.execution.id"]), g)
                elif kind in (_SQL + "SQLExecutionStart", _SQL + "SQLAdaptiveExecutionUpdate"):
                    _plan_metrics(ev.get("sparkPlanInfo") or {}, acc_name)
                elif kind == _SQL + "DriverAccumUpdates":
                    for aid, val in ev.get("accumUpdates", []):
                        if acc_name.get(aid) == "number of files read":
                            exec_files[ev["executionId"]] += val
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    stage_group[info["Stage ID"]] = g
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    g = stage_group.get(info["Stage ID"], "")
                    acc = groups[g]
                    acc["stages"] += 1
                    for a in info.get("Accumulables", []):
                        name = a.get("Name", "")
                        try:
                            val = float(a.get("Value", 0))
                        except (TypeError, ValueError):
                            continue
                        if name in _PY_METRICS:
                            acc[_PY_METRICS[name]] += val
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"), "")
                    acc = groups[g]
                    m = ev.get("Task Metrics") or {}
                    acc["tasks"] += 1
                    acc["gc_ms"] += m.get("JVM GC Time", 0)
                    acc["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    acc["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
                    im = m.get("Input Metrics") or {}
                    acc["input_b"] += im.get("Bytes Read", 0)
    for eid, n in exec_files.items():
        groups[exec_group.get(eid, "")]["files_read"] += n
    return groups


def summarize(tracer: Tracer, groups: dict) -> dict[str, dict]:
    """Aggregate spans by name: calls, wall_s, self_s, self jobs and the
    inclusive event-log counters of each span's subtree."""
    children = defaultdict(list)
    for s in tracer.spans:
        if s.parent is not None:
            children[s.parent].append(s)

    def subtree(sid):
        todo, out = [sid], []
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(c.sid for c in children[x])
        return out

    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for s in tracer.spans:
        if s.end is None:
            continue
        wall = s.end - s.start
        child = sum((c.end or c.start) - c.start for c in children[s.sid])
        a = out[s.name]
        a["calls"] += 1
        a["wall_s"] += wall
        a["self_s"] += max(wall - child, 0.0)
        a["self_jobs"] += groups.get(s.sid, {}).get("jobs", 0)
        for sid in subtree(s.sid):
            g = groups.get(sid, {})
            for k in ("jobs", "shuffle_write_b", "input_b", "files_read"):
                a[k] += g.get(k, 0)
        for k, v in s.attrs.items():
            if isinstance(v, (int, float)):
                a[k] += v
    return out


# -- resident memory -----------------------------------------------------------


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int) -> list[int]:
    """`root` and every process below it."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(c for c, pp in parent.items() if pp == p)
    return out


class RssSampler(threading.Thread):
    """Peak summed RSS of the Spark JVM and all its descendants (the
    Python worker daemon and workers), sampled every `period` seconds."""

    def __init__(self, jvm_pid: int, period: float = 0.5):
        super().__init__(daemon=True)
        self.pid, self.period = jvm_pid, period
        self.peak_kb = 0
        self._stop_ev = threading.Event()

    def run(self):
        while not self._stop_ev.is_set():
            kb = sum(_rss_kb(p) for p in descendants(self.pid))
            self.peak_kb = max(self.peak_kb, kb)
            self._stop_ev.wait(self.period)

    def stop(self) -> float:
        self._stop_ev.set()
        self.join()
        return self.peak_kb / 1024.0


def tail(samples: list[float]) -> tuple[float | None, int | None]:
    """Highest percentile that still has at least ten samples above it:
    p = floor(100 * (n - 10) / n). None when n < 11."""
    n = len(samples)
    if n < 11:
        return None, None
    p = int(100 * (n - 10) / n)
    xs = sorted(samples)
    return xs[max(0, -(-p * n // 100) - 1)], p


def median(xs):
    return statistics.median(xs) if xs else None
