"""Fold a Spark JSON event log into per-phase statistics.

Phases are the job descriptions set with `SparkContext.setJobDescription`.
Each stage is attributed to the description in its StageSubmitted
properties, so a stage counts once, under the job that ran it.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

PY_IN = "data sent to Python workers"
PY_OUT = "data returned from Python workers"


def find_log(log_dir: str, app_id: str) -> str:
    hits = [p for p in glob.glob(os.path.join(log_dir, "*"))
            if os.path.basename(p).startswith(app_id)]
    if len(hits) != 1:
        raise FileNotFoundError(f"event log for {app_id} in {log_dir}: {hits}")
    return hits[0]


def _new() -> dict:
    return {"jobs": 0, "tasks": [], "shuffle_write_bytes": 0,
            "spill_bytes": 0, "py_bytes_in": 0, "py_bytes_out": 0}


def phase_stats(path: str) -> dict:
    """{description: {jobs, tasks (durations in s), shuffle_write_bytes,
    spill_bytes, py_bytes_in, py_bytes_out}}"""
    phases: dict = {}
    stage_phase: dict = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description")
                phases.setdefault(desc, _new())["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                desc = (ev.get("Properties") or {}).get("spark.job.description")
                stage_phase[ev["Stage Info"]["Stage ID"]] = desc
            elif kind == "SparkListenerTaskEnd":
                p = phases.setdefault(stage_phase.get(ev["Stage ID"]), _new())
                info = ev["Task Info"]
                p["tasks"].append(
                    (info["Finish Time"] - info["Launch Time"]) / 1000.0)
                m = ev.get("Task Metrics") or {}
                p["shuffle_write_bytes"] += (
                    m.get("Shuffle Write Metrics") or {}
                ).get("Shuffle Bytes Written", 0)
                p["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                for acc in info.get("Accumulables") or ():
                    if acc.get("Name") == PY_IN:
                        p["py_bytes_in"] += int(acc["Update"])
                    elif acc.get("Name") == PY_OUT:
                        p["py_bytes_out"] += int(acc["Update"])
    return phases


def summary(phases: dict, names) -> dict:
    """Stats of one phase, or of several phases taken together."""
    parts = [phases[n] for n in names if n in phases]
    tasks = [t for p in parts for t in p["tasks"]]
    out = {k: sum(p[k] for p in parts)
           for k in ("jobs", "shuffle_write_bytes", "spill_bytes",
                     "py_bytes_in", "py_bytes_out")}
    out["task_max_s"] = max(tasks, default=0.0)
    out["task_median_s"] = statistics.median(tasks) if tasks else 0.0
    return out
