"""Stdlib parser for Spark's uncompressed JSON-lines event log.

The traced run enables ``spark.eventLog.enabled`` and tags every job with
``setJobGroup``. After the session stops, :func:`parse` folds the log into
per-job-group execution records: jobs, stages, tasks, executor run/CPU/GC
time, shuffle bytes and fetch wait, spill, failed tasks, the bytes that
crossed the Python/Arrow worker boundary (from the SQL metrics that
``ArrowEvalPython``/``MapInPandas``-style nodes publish), and the task
skew of the group's largest stage.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def find_log(log_dir: str) -> str | None:
    """The single application log the session wrote under ``log_dir``."""
    if not os.path.isdir(log_dir):
        return None
    files = sorted(
        os.path.join(log_dir, f) for f in os.listdir(log_dir) if not f.startswith(".")
    )
    return files[0] if files else None


def parse(path: str) -> dict[str, dict]:
    """Return {job_group: record}; jobs without a group land under ''."""
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)  # stage -> task records
    stage_python: dict[int, float] = defaultdict(float)
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                grp = props.get("spark.jobGroup.id") or ""
                job_group[ev["Job ID"]] = grp
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, grp)
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks[ev["Stage ID"]].append({
                    "run_ms": _num(m.get("Executor Run Time")),
                    "cpu_ns": _num(m.get("Executor CPU Time")),
                    "gc_ms": _num(m.get("JVM GC Time")),
                    "spill": _num(m.get("Memory Bytes Spilled"))
                    + _num(m.get("Disk Bytes Spilled")),
                    "sw_bytes": _num(sw.get("Shuffle Bytes Written")),
                    "sr_bytes": _num(sr.get("Remote Bytes Read"))
                    + _num(sr.get("Local Bytes Read")),
                    "fetch_ms": _num(sr.get("Fetch Wait Time")),
                    "failed": bool(info.get("Failed")),
                })
            elif kind == "SparkListenerStageCompleted":
                st = ev.get("Stage Info") or {}
                for acc in st.get("Accumulables", []):
                    if acc.get("Name") in _PY_BYTES:
                        stage_python[st["Stage ID"]] += _num(acc.get("Value"))
    groups: dict[str, dict] = {}
    for grp in set(job_group.values()):
        groups[grp] = {
            "jobs": sum(1 for g in job_group.values() if g == grp),
            "stages": 0, "tasks": 0, "failed_tasks": 0,
            "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_write_bytes": 0.0, "shuffle_read_bytes": 0.0,
            "shuffle_fetch_wait_s": 0.0, "spill_bytes": 0.0,
            "python_bytes": 0.0, "task_skew": 1.0, "_largest_run_ms": -1.0,
        }
    for sid, recs in tasks.items():
        g = groups.get(stage_group.get(sid, ""))
        if g is None:
            continue
        g["stages"] += 1
        g["tasks"] += len(recs)
        g["failed_tasks"] += sum(r["failed"] for r in recs)
        g["executor_run_s"] += sum(r["run_ms"] for r in recs) / 1e3
        g["executor_cpu_s"] += sum(r["cpu_ns"] for r in recs) / 1e9
        g["gc_s"] += sum(r["gc_ms"] for r in recs) / 1e3
        g["shuffle_write_bytes"] += sum(r["sw_bytes"] for r in recs)
        g["shuffle_read_bytes"] += sum(r["sr_bytes"] for r in recs)
        g["shuffle_fetch_wait_s"] += sum(r["fetch_ms"] for r in recs) / 1e3
        g["spill_bytes"] += sum(r["spill"] for r in recs)
        g["python_bytes"] += stage_python.get(sid, 0.0)
        total = sum(r["run_ms"] for r in recs)
        if total > g["_largest_run_ms"]:
            g["_largest_run_ms"] = total
            med = statistics.median(r["run_ms"] for r in recs)
            g["task_skew"] = max(r["run_ms"] for r in recs) / med if med > 0 else 1.0
    for g in groups.values():
        del g["_largest_run_ms"]
    return groups
