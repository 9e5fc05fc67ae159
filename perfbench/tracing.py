"""Benchmark-side tracing: spans around calls into the engine's modules and a
parser for Spark's uncompressed JSON event log.

Nothing here changes the engine.  Spans come from wrapping module-level
functions (every package namespace that holds the same function object gets
the wrapper, so ``from x import f`` bindings are covered too).  Spark-side
layers come from the event log: every job carries the job group
``<workload>|<phase>|<iteration>`` that :meth:`Tracer.phase` sets.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import sys
import time
from contextlib import contextmanager

PKG = "whitebox_geospatial_analysis_tools_spark"


class Tracer:
    """Records spans (name, start, end, parent, iteration) in memory.

    Disabled tracers do nothing at all, so untraced runs carry no job groups
    and no wrappers."""

    def __init__(self, workload: str, enabled: bool):
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.iteration: int | None = None
        self._restore: list[tuple] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "iteration": self.iteration}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    @contextmanager
    def phase(self, spark, phase: str):
        """Span plus Spark job group for one phase of the current iteration."""
        if not self.enabled:
            yield
            return
        sc = spark.sparkContext
        sc.setJobGroup(f"{self.workload}|{phase}|{self.iteration}", phase)
        try:
            with self.span(f"phase.{phase}"):
                yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, module, name: str, label: str) -> None:
        """Replace ``module.name`` everywhere in the package with a span-
        recording wrapper."""
        if not self.enabled:
            return
        orig = getattr(module, name)

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with self.span(label):
                return orig(*a, **kw)

        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(PKG):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, wrapper)
                    self._restore.append((mod, attr, orig))

    def unwrap(self) -> None:
        for mod, attr, orig in reversed(self._restore):
            setattr(mod, attr, orig)
        self._restore.clear()

    def durations(self, name: str, iteration=None) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None
                and (iteration is None or s["iteration"] == iteration)]


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------
def _walk(plan: dict):
    yield plan
    for c in plan.get("children", []):
        yield from _walk(c)


_PY_METRICS = {
    "time to start Python workers": "pyworker.boot_s",
    "time to initialize Python workers": "pyworker.init_s",
    "time to run Python workers": "pyworker.exec_s",
    "data sent to Python workers": "pyworker.to_py_mb",
    "data returned from Python workers": "pyworker.from_py_mb",
}
_WRITE_CMD = "InsertIntoHadoopFsRelationCommand"
_JOIN_NODES = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
               "BroadcastNestedLoopJoin", "CartesianProduct")


def parse_event_log(log_dir: str, app_id: str) -> list[dict]:
    """One record per job group and call site: jobs, Catalyst planning time,
    JVM task totals, Python-worker SQL metrics and join row counts."""
    jobs, stage_job = {}, {}
    execs: dict[int, dict] = {}
    metric_def: dict[int, tuple] = {}   # accumulator id -> (exec, node, metric, type, plan node)
    acc_val: dict[int, float] = {}
    tasks: dict[int, list] = {}
    with open(os.path.join(log_dir, app_id)) as fh:
        for line in fh:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                p = e.get("Properties") or {}
                jid = e["Job ID"]
                sql = p.get("spark.sql.execution.id")
                jobs[jid] = {"group": p.get("spark.jobGroup.id"),
                             "site": p.get("callSite.short"),
                             "exec": int(sql) if sql is not None else None,
                             "start": e["Submission Time"], "end": None}
                for sid in e.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif ev == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif ev == "SparkListenerTaskEnd":
                info, m = e.get("Task Info") or {}, e.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.setdefault(e["Stage ID"], []).append({
                    "dur": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                    "run": m.get("Executor Run Time", 0),
                    "cpu": m.get("Executor CPU Time", 0),
                    "gc": m.get("JVM GC Time", 0),
                    "sw": sw.get("Shuffle Bytes Written", 0),
                    "sr": sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0),
                    "spill": m.get("Disk Bytes Spilled", 0),
                })
            elif ev == "SparkListenerStageCompleted":
                for a in e["Stage Info"].get("Accumulables", []):
                    try:
                        acc_val[a["ID"]] = float(a["Value"])
                    except (TypeError, ValueError):
                        pass
            elif ev.endswith("SparkListenerDriverAccumUpdates"):
                for aid, v in e.get("accumUpdates", []):
                    acc_val[aid] = float(v)
            elif ev.endswith("SparkListenerSQLExecutionStart") or \
                    ev.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                xid = e["executionId"]
                x = execs.setdefault(xid, {"start": None, "group": None})
                if "time" in e:
                    x["start"] = e["time"]
                    x["group"] = e.get("jobGroupId")
                    x["root"] = e.get("rootExecutionId", xid)
                for node in _walk(e["sparkPlanInfo"]):
                    # a partitioned write sits below AdaptiveSparkPlan
                    if _WRITE_CMD in node.get("simpleString", ""):
                        x["write"] = node["simpleString"]
                    for m in node.get("metrics", []):
                        metric_def[m["accumulatorId"]] = (
                            xid, node["nodeName"], m["name"], m["metricType"],
                            node)

    # per-execution SQL metric totals
    exec_metrics: dict[int, dict] = {}
    for aid, (xid, node, name, mtype, _n) in metric_def.items():
        if aid not in acc_val:
            continue
        d = exec_metrics.setdefault(xid, {})
        key = _PY_METRICS.get(name)
        if key:
            scale = 1e-3 if mtype == "timing" else (1 / 2**20 if mtype == "size" else 1.0)
            d[key] = d.get(key, 0.0) + acc_val[aid] * scale
        if name == "number of output rows" and node in _JOIN_NODES:
            # the PIP join is the one whose condition runs the ray-cast
            is_pip = "aggregate(edges" in _n.get("simpleString", "")
            d.setdefault("join_rows", []).append((node, acc_val[aid], is_pip))

    records: dict[tuple, dict] = {}
    for jid, j in sorted(jobs.items()):
        group = j["group"] or (execs.get(j["exec"], {}).get("group") if j["exec"] is not None else None)
        if not group or group.count("|") != 2:
            continue
        wl, phase, it = group.split("|")
        x = execs.get(j["exec"]) or {}
        site = _short_site(j["site"]) or _write_target(execs.get(x.get("root"), x))
        r = records.setdefault((wl, phase, it, site), {
            "workload": wl, "phase": phase, "iteration": it, "call_site": site,
            "jobs": 0, "job_s": 0.0, "executions": set(),
            "jvm.run_s": 0.0, "jvm.cpu_s": 0.0, "jvm.gc_s": 0.0,
            "jvm.shuffle_write_mb": 0.0, "jvm.shuffle_read_mb": 0.0,
            "jvm.spill_mb": 0.0, "jvm.task_skew": 0.0, "_stage_run": 0.0})
        r["jobs"] += 1
        r["job_s"] += ((j["end"] or j["start"]) - j["start"]) / 1e3
        if j["exec"] is not None:
            r["executions"].add(j["exec"])
        for sid, owner in stage_job.items():
            if owner != jid or sid not in tasks:
                continue
            ts = tasks[sid]
            r["jvm.run_s"] += sum(t["run"] for t in ts) / 1e3
            r["jvm.cpu_s"] += sum(t["cpu"] for t in ts) / 1e9
            r["jvm.gc_s"] += sum(t["gc"] for t in ts) / 1e3
            r["jvm.shuffle_write_mb"] += sum(t["sw"] for t in ts) / 2**20
            r["jvm.shuffle_read_mb"] += sum(t["sr"] for t in ts) / 2**20
            r["jvm.spill_mb"] += sum(t["spill"] for t in ts) / 2**20
            stage_run = sum(t["run"] for t in ts)
            if stage_run > r["_stage_run"]:   # skew of the heaviest stage
                durs = [t["dur"] for t in ts]
                med = statistics.median(durs)
                r["_stage_run"] = stage_run
                r["jvm.task_skew"] = max(durs) / med if med > 0 else 1.0

    first_job: dict[int, int] = {}
    for j in jobs.values():
        if j["exec"] is not None:
            first_job[j["exec"]] = min(first_job.get(j["exec"], j["start"]), j["start"])
    out = []
    for r in records.values():
        xs = sorted(r.pop("executions"))
        r.pop("_stage_run")
        r["executions"] = xs
        r["catalyst.plan_s"] = sum(
            max(0, first_job[x] - execs[x]["start"]) / 1e3
            for x in xs if x in execs and execs[x].get("start") and x in first_job)
        for k in _PY_METRICS.values():
            r[k] = sum(exec_metrics.get(x, {}).get(k, 0.0) for x in xs)
        r["join_rows"] = [jr for x in xs for jr in exec_metrics.get(x, {}).get("join_rows", [])]
        pip_rows = [rows for _n, rows, pip in r["join_rows"] if pip]
        r["pip_join_execs"] = len(pip_rows)
        r["pip_hit_rows"] = sum(pip_rows)
        out.append(r)
    return out


def _short_site(site: str | None) -> str | None:
    """'collect at /x/y/plans/pipeline.py:61' -> 'collect at plans/pipeline.py:61'."""
    if not site:
        return None
    head, _, path = site.partition(" at ")
    if PKG in path:
        path = path.split(PKG + "/", 1)[1]
    return f"{head} at {path}"


def _write_target(x: dict | None) -> str | None:
    """File writes carry no Python call site; name them by their target dir."""
    desc = (x or {}).get("write")
    if desc is None:
        return None
    path = desc.split(_WRITE_CMD, 1)[1].split(",")[0].strip()
    return "write " + os.path.basename(path.rstrip("/"))
