"""Per-layer numbers from a Spark event log, for the benchmark's traced run.

Each job is attributed to the dcspark function that submitted it, through
the Python call site PySpark records on the job (``callSite.short``,
"<action> at <file>:<line>"). Jobs that Spark submits from its own threads
(adaptive query stages) carry no call site; they take the call site of the
SQL execution they belong to. CPU of jobs that still have none, or whose
function has no layer below, is reported as ``other``.

Layer CPU is executor CPU time plus Python-worker busy time, because the
audio decode runs in Python workers that executor CPU time does not see.
"""

from __future__ import annotations

import ast
import functools
import glob
import json
import os
import re
import sys
import threading
from typing import Dict, Optional, Tuple

LAYERS = ("audio", "drift", "keyed", "agg", "violations", "sink", "other")

#: dcspark module that submits a job -> its layer, unless the function is
#: in LAYER_OF_FUNCTION
LAYER_OF_MODULE = {"audio": "audio", "drift": "drift", "io": "sink"}
LAYER_OF_FUNCTION = {
    "_audio_compact_collect": "audio",
    "_audio_quality_collect": "audio",
    "_audio_hist_collect": "audio",
    "main_job": "agg",
    "_sql_compute": "agg",
    "_unique_compute": "keyed",
    "_reference_compute": "keyed",
    "_join_equality_compute": "keyed",
    "_collect_agg_violations": "violations",
}

_CALL_SITE = re.compile(r" at (\S+\.py):(\d+)$")
#: a keyed job whose call-site line collects violation rows (``vio...``)
_VIOLATION_LINE = re.compile(r"\bvio")


def record_call_sites() -> None:
    """Make PySpark record a Python call site on every job dcspark submits.

    Two gaps are closed, in this process only. PySpark keeps the
    ``SCCallSiteSync`` nesting depth in a class attribute shared by all
    threads: when the engine submits jobs from several driver threads at
    once, only the first sets its call site. The depth is kept per thread
    here; the call site itself is already a per-thread property in the JVM.
    And ``DataFrame.count`` and ``DataFrameWriter.parquet`` record no call
    site at all; they are wrapped to record their caller's file and line."""
    from pyspark import SparkContext, traceback_utils
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    local = threading.local()

    def push(jsc, site):
        depth = getattr(local, "depth", 0)
        if depth == 0:
            jsc.setCallSite(site)
        local.depth = depth + 1

    def pop(jsc):
        local.depth -= 1
        if local.depth == 0:
            jsc.setCallSite(None)

    def enter(self):
        push(self._context._jsc, self._call_site)

    def exit_(self, *exc):
        pop(self._context._jsc)

    traceback_utils.SCCallSiteSync.__enter__ = enter
    traceback_utils.SCCallSiteSync.__exit__ = exit_

    def with_call_site(cls, name):
        method = getattr(cls, name)

        @functools.wraps(method)
        def wrapper(self, *args, **kwargs):
            caller = sys._getframe(1)
            jsc = SparkContext._active_spark_context._jsc
            push(jsc, f"{name} at {caller.f_code.co_filename}:{caller.f_lineno}")
            try:
                return method(self, *args, **kwargs)
            finally:
                pop(jsc)

        setattr(cls, name, wrapper)

    with_call_site(DataFrame, "count")
    with_call_site(DataFrameWriter, "parquet")


class _Functions:
    """file:line -> (enclosing function name, source line), parsed once per file."""

    def __init__(self):
        self._files: Dict[str, Tuple[list, list]] = {}

    def at(self, path: str, line: int) -> Tuple[Optional[str], str]:
        if path not in self._files:
            try:
                with open(path, encoding="utf-8") as f:
                    src = f.read()
            except OSError:
                src = ""
            spans = [(n.lineno, n.end_lineno, n.name) for n in ast.walk(ast.parse(src))
                     if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
            self._files[path] = (spans, src.splitlines())
        spans, lines = self._files[path]
        inner = [s for s in spans if s[0] <= line <= s[1]]
        name = min(inner, key=lambda s: s[1] - s[0])[2] if inner else None
        text = lines[line - 1] if 0 < line <= len(lines) else ""
        return name, text


def layer_of(call_site: Optional[str], functions: _Functions) -> str:
    m = _CALL_SITE.search(call_site or "")
    if not m or os.path.basename(os.path.dirname(m.group(1))) != "dcspark":
        return "other"
    fn, text = functions.at(m.group(1), int(m.group(2)))
    module = os.path.splitext(os.path.basename(m.group(1)))[0]
    layer = LAYER_OF_FUNCTION.get(fn, LAYER_OF_MODULE.get(module, "other"))
    if layer == "keyed" and _VIOLATION_LINE.search(text):
        return "violations"
    return layer


def _plan_metric_names(plan: dict, out: Dict[int, str]) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", []):
        _plan_metric_names(child, out)


def _events(log_dir: str):
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"),
                                 recursive=True)):
        with open(path, encoding="utf-8") as f:
            for line in f:
                yield json.loads(line)


def summarize(log_dir: str, t_lo_ms: float, t_hi_ms: float) -> Dict[str, float]:
    """Totals over the jobs submitted in [t_lo_ms, t_hi_ms] (epoch ms)."""
    functions = _Functions()
    job_site: Dict[int, Optional[str]] = {}
    job_exec: Dict[int, Optional[str]] = {}
    stage_job: Dict[int, int] = {}
    exec_site: Dict[str, str] = {}
    exec_in_window: Dict[str, bool] = {}
    acc_names: Dict[int, str] = {}
    stage_totals: Dict[int, Dict[str, float]] = {}
    #: the file scans' own driver-side metrics; per-task input bytes are
    #: not filled in for these local parquet reads
    scan = {"number of files read": 0.0, "size of files read": 0.0}
    for e in _events(log_dir):
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            if not t_lo_ms <= e["Submission Time"] <= t_hi_ms:
                continue
            jid = e["Job ID"]
            props = e.get("Properties") or {}
            site = props.get("callSite.short")
            job_site[jid] = site if site and _CALL_SITE.search(site) else None
            job_exec[jid] = props.get("spark.sql.execution.id")
            if job_site[jid] and job_exec[jid] is not None:
                exec_site.setdefault(job_exec[jid], job_site[jid])
            for sid in e["Stage IDs"]:
                stage_job.setdefault(sid, jid)
        elif ev.endswith("SQLExecutionStart"):
            exec_in_window[str(e["executionId"])] = t_lo_ms <= e["time"] <= t_hi_ms
            _plan_metric_names(e.get("sparkPlanInfo") or {}, acc_names)
        elif ev.endswith("SQLAdaptiveExecutionUpdate"):
            _plan_metric_names(e.get("sparkPlanInfo") or {}, acc_names)
        elif ev.endswith("SparkListenerDriverAccumUpdates"):
            if exec_in_window.get(str(e["executionId"])):
                for acc, v in e["accumUpdates"]:
                    if acc_names.get(acc) in scan:
                        scan[acc_names[acc]] += v
        elif ev == "SparkListenerTaskEnd":
            tm = e.get("Task Metrics")
            if tm is None:
                continue
            acc = {a.get("Name"): a.get("Update")
                   for a in e["Task Info"].get("Accumulables", [])}
            sr = tm.get("Shuffle Read Metrics", {})
            t = stage_totals.setdefault(e["Stage ID"], {})
            for key, v in (
                ("tasks", 1),
                ("cpu_s", tm.get("Executor CPU Time", 0) / 1e9),
                ("gc_s", tm.get("JVM GC Time", 0) / 1e3),
                ("shuffle_read", sr.get("Remote Bytes Read", 0)
                 + sr.get("Local Bytes Read", 0)),
                ("shuffle_write", tm.get("Shuffle Write Metrics", {})
                 .get("Shuffle Bytes Written", 0)),
                ("spill", tm.get("Memory Bytes Spilled", 0)
                 + tm.get("Disk Bytes Spilled", 0)),
                ("py_s", float(acc.get("time to run Python workers") or 0) / 1e3),
                ("py_sent", float(acc.get("data sent to Python workers") or 0)),
                ("py_returned",
                 float(acc.get("data returned from Python workers") or 0)),
            ):
                t[key] = t.get(key, 0.0) + v
    out = {k: 0.0 for k in ("exec.cpu_s", "exec.gc_s", "exec.spill_bytes",
                            "python.worker_s", "python.bytes_sent",
                            "python.bytes_returned", "shuffle.write_bytes",
                            "shuffle.read_bytes", "spark.tasks")}
    out.update({f"layer.{name}_cpu_s": 0.0 for name in LAYERS})
    out["spark.jobs"] = float(len(job_site))
    out["scan.files_read"] = scan["number of files read"]
    out["scan.input_bytes"] = scan["size of files read"]
    for sid, t in stage_totals.items():
        jid = stage_job.get(sid)
        if jid is None:
            continue
        site = job_site[jid] or exec_site.get(job_exec[jid])
        out["exec.cpu_s"] += t["cpu_s"]
        out["exec.gc_s"] += t["gc_s"]
        out["exec.spill_bytes"] += t["spill"]
        out["python.worker_s"] += t["py_s"]
        out["python.bytes_sent"] += t["py_sent"]
        out["python.bytes_returned"] += t["py_returned"]
        out["shuffle.write_bytes"] += t["shuffle_write"]
        out["shuffle.read_bytes"] += t["shuffle_read"]
        out["spark.tasks"] += t["tasks"]
        out[f"layer.{layer_of(site, functions)}_cpu_s"] += t["cpu_s"] + t["py_s"]
    return out
