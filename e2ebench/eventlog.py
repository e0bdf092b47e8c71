"""Reads a Spark event log (JSON lines) with the stdlib ``json`` module.

``read(path)`` returns the jobs, with their description, wall interval and
stages, and per-stage task totals: task count, executor run/CPU/GC time,
shuffle bytes written, bytes spilled, output bytes, and the SQL metrics of
the Python UDF boundary and of file writes. SQL metric units come from the
plan info of the SQL execution events, keyed by accumulator id; a timing
metric whose plan was never posted (a ``localCheckpoint`` job, say) is
read as milliseconds, the unit Spark's timing metrics use.
"""

from __future__ import annotations

import json
from collections import defaultdict

# SQL metric name -> key in the per-stage totals
SQL_METRICS = {
    "time to start Python workers": "py_boot",
    "time to initialize Python workers": "py_init",
    "time to run Python workers": "py_run",
    "data sent to Python workers": "py_sent",
    "data returned from Python workers": "py_received",
    "number of written files": "files_written",
}
_TO_SECONDS = {"timing": 1e-3, "nsTiming": 1e-9}


def _plan_metric_types(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = m.get("metricType", "sum")
    for child in plan.get("children", []):
        _plan_metric_types(child, out)


def read(path: str) -> tuple[dict[int, dict], dict[int, dict]]:
    """Parse one event-log file into ``(jobs, stages)``.

    ``jobs[job_id] = {"desc", "t0", "t1", "stages"}`` with times in epoch
    seconds; ``stages[stage_id]`` holds summed task metrics, with times in
    seconds and sizes in bytes."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    metric_types: dict[int, str] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "desc": props.get("spark.job.description"),
                    "t0": ev["Submission Time"] / 1e3,
                    "t1": ev["Submission Time"] / 1e3,
                    "stages": list(ev.get("Stage IDs", [])),
                }
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1e3
            elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                _plan_metric_types(ev.get("sparkPlanInfo") or {}, metric_types)
            elif kind == "SparkListenerTaskEnd":
                st = stages[ev["Stage ID"]]
                st["tasks"] += 1
                tm = ev.get("Task Metrics") or {}
                st["run_s"] += tm.get("Executor Run Time", 0) / 1e3
                st["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                st["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                st["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                st["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                st["output_bytes"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    key = SQL_METRICS.get(acc.get("Name"))
                    if key is not None and acc.get("Update") is not None:
                        default = "timing" if acc["Name"].startswith("time ") else "size"
                        scale = _TO_SECONDS.get(metric_types.get(acc.get("ID"), default), 1.0)
                        st[key] += float(acc["Update"]) * scale
    return jobs, dict(stages)


def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total
