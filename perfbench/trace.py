"""Per-layer tracing from outside the program.

``Tracer`` wraps the public functions of a layer module with timers.  Each
timed call becomes a span (name, start, end, parent, request id) and runs
under the Spark job group ``<workload>:<request>:<layer>``, so Spark's own
event log attributes every job, task and SQL metric to the layer that
launched it.  ``parse_event_log`` reads that log with the standard library.
With tracing off the wrappers are never installed.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from collections import defaultdict


class Tracer:
    def __init__(self, spark, workload: str, enabled: bool):
        self.sc = spark.sparkContext if enabled else None
        self.workload = workload
        self.enabled = enabled
        self.req = "setup"
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.bookkeeping_s = 0.0
        self.patched: list[tuple] = []

    def _group(self) -> str | None:
        if not self.stack:
            return None
        return f"{self.workload}:{self.req}:{self.spans[self.stack[-1]]['name']}"

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        t0 = time.perf_counter()
        sp = {"name": name, "req": self.req, "start": t0, "end": None,
              "parent": self.stack[-1] if self.stack else None, **attrs}
        self.spans.append(sp)
        self.stack.append(len(self.spans) - 1)
        group = self._group()
        self.sc.setJobGroup(group, group)
        sp["start"] = time.perf_counter()
        self.bookkeeping_s += sp["start"] - t0
        try:
            yield sp
        finally:
            t1 = time.perf_counter()
            sp["end"] = t1
            self.stack.pop()
            parent = self._group()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(parent, parent)
            self.bookkeeping_s += time.perf_counter() - t1

    def wrap(self, module, fname: str, layer: str, on_result=None) -> None:
        """Replace ``module.fname`` by a timed wrapper (tracing only).
        In-module callers resolve the name through the module globals, so
        internal calls are timed too."""
        if not self.enabled or not hasattr(module, fname):
            return
        orig = getattr(module, fname)

        @functools.wraps(orig)
        def timed(*a, **kw):
            with self.span(f"{layer}.{fname}") as sp:
                out = orig(*a, **kw)
                if on_result is not None:
                    on_result(sp, out)
                return out

        setattr(module, fname, timed)
        self.patched.append((module, fname, orig))

    def unwrap(self) -> None:
        for module, fname, orig in reversed(self.patched):
            setattr(module, fname, orig)
        self.patched.clear()

    # ------------------------------------------------------------ summaries

    def self_times(self) -> dict[int, float]:
        """Span duration minus the durations of its direct children."""
        own = {i: s["end"] - s["start"] for i, s in enumerate(self.spans) if s["end"]}
        for s in self.spans:
            if s["parent"] is not None and s["end"]:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        own = self.self_times()
        spans = [{**s, "self": own.get(i)} for i, s in enumerate(self.spans)]
        with open(path, "w") as f:
            json.dump({"spans": spans, **extra}, f, default=str)


# ------------------------------------------------------------- event log

ENGINE_KEYS = ("jobs", "tasks", "task_wait_s", "executor_run_s", "executor_cpu_s",
               "gc_s", "python_udf_s", "python_bytes", "shuffle_write_bytes",
               "spill_bytes", "scan_files", "scan_bytes")

_PY_TIME = "time to run python workers"
_PY_BYTES = ("data sent to python workers", "data returned from python workers")


def _plan_metric_names(node: dict, out: dict) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for c in node.get("children", []):
        _plan_metric_names(c, out)


def parse_event_log(events_dir: str) -> dict[str, dict]:
    """Engine figures per job group from Spark's uncompressed JSON event
    log: jobs, tasks, time tasks waited for a core after their stage was
    submitted, executor run/CPU/GC time, Python UDF time and bytes,
    shuffle write, spill, and files/bytes scanned."""
    stage_group: dict[int, str] = {}
    stage_submit: dict[int, float] = {}
    exec_group: dict[int, str] = {}
    accum_name: dict[int, str] = {}
    driver_updates: list[dict] = []
    out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(ENGINE_KEYS, 0.0))
    # Spark 4 writes eventlog_v2_<app>/events_<n>_<app> (rolling v2 layout)
    files = sorted(p for p in glob.glob(os.path.join(events_dir, "**", "*"), recursive=True)
                   if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus"))
    files.sort(key=lambda p: int(os.path.basename(p).split("_")[1])
               if os.path.basename(p).startswith("events_") else 0)
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id") or "untraced"
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None:
                        exec_group.setdefault(int(eid), group)
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    stage_submit[info["Stage ID"]] = info.get("Submission Time") or 0
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    g = out[stage_group.get(sid, "untraced")]
                    info = ev.get("Task Info", {})
                    tm = ev.get("Task Metrics") or {}
                    g["tasks"] += 1
                    sub = stage_submit.get(sid)
                    if sub and info.get("Launch Time"):
                        g["task_wait_s"] += max(0, info["Launch Time"] - sub) / 1e3
                    g["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                    g["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    g["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    g["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    g["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0)
                    for acc in info.get("Accumulables", []):
                        name = (acc.get("Name") or "").lower()
                        upd = acc.get("Update")
                        try:
                            upd = float(upd)
                        except (TypeError, ValueError):
                            continue
                        if name == _PY_TIME:
                            g["python_udf_s"] += upd / 1e3
                        elif name in _PY_BYTES:
                            g["python_bytes"] += upd
                elif kind.endswith("SparkListenerSQLExecutionStart") or \
                        kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    plan = ev.get("sparkPlanInfo")
                    if plan:
                        _plan_metric_names(plan, accum_name)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    driver_updates.append(ev)
    # driver-side scan metrics may be posted before the execution's first
    # job names its group, so they are resolved once the whole log is read
    for ev in driver_updates:
        g = out[exec_group.get(ev.get("executionId"), "untraced")]
        for acc_id, value in ev.get("accumUpdates", []):
            name = accum_name.get(acc_id, "")
            if name == "number of files read":
                g["scan_files"] += value
            elif name == "size of files read":
                g["scan_bytes"] += value
    return dict(out)

