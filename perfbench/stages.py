"""Stage profiler: per-call Spark metrics from Spark's own event log.

The traced run turns on ``spark.eventLog.enabled`` (uncompressed) and labels
every job a benchmark call starts with ``SparkContext.setJobDescription``.
After the session stops, :func:`profile_calls` reads the log (a plain file or
Spark 4's rolling ``eventlog_v2_*`` directory) and reports, per label:

    exec_core_s          sum of task executor run time
    task_p50_s/max_s     task wall time (finish - launch)
    shuffle_read_bytes   local + remote shuffle bytes read
    shuffle_write_bytes  shuffle bytes written
    spill_bytes          memory + disk bytes spilled
    jobs/stages/tasks    counts
    driver_s             the call's wall time during which none of its tasks ran

``driver_s`` needs the call's wall interval; it comes from the benchmark's
span (epoch seconds), not from the log, so time spent on the driver before
the first job and between jobs is counted.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

def event_files(log_dir: str) -> list[str]:
    """Every event-log file under log_dir, in write order."""
    out = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if os.path.isdir(path):  # rolling log: eventlog_v2_<app>/events_<n>_<app>
            parts = [p for p in os.listdir(path) if p.startswith("events_")]
            parts.sort(key=lambda p: int(p.split("_")[1]))
            out += [os.path.join(path, p) for p in parts]
        elif not name.endswith(".inprogress"):
            out.append(path)
    return out


def read_events(log_dir: str):
    for path in event_files(log_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _job_label(ev: dict) -> str | None:
    props = ev.get("Properties") or {}
    return props.get("spark.job.description")


def collect_tasks(events) -> dict[str, dict]:
    """{label: {"jobs": set, "stages": set, "tasks": [task dict]}}"""
    stage_label: dict[int, str] = {}
    calls: dict[str, dict] = defaultdict(
        lambda: {"jobs": set(), "stages": set(), "tasks": []}
    )
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            label = _job_label(ev)
            if label is None:
                continue
            calls[label]["jobs"].add(ev["Job ID"])
            for sid in ev.get("Stage IDs", []):
                stage_label[sid] = label
        elif kind == "SparkListenerTaskEnd":
            label = stage_label.get(ev["Stage ID"])
            if label is None:
                continue
            info = ev["Task Info"]
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            calls[label]["stages"].add(ev["Stage ID"])
            calls[label]["tasks"].append({
                "launch": info["Launch Time"] / 1000.0,
                "finish": info["Finish Time"] / 1000.0,
                "run_s": m.get("Executor Run Time", 0) / 1000.0,
                "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            })
    return calls


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def summarize(call: dict, wall: tuple[float, float] | None = None) -> dict:
    """Metrics of one labelled call; driver_s needs its (start, end) epoch."""
    tasks = call["tasks"]
    durs = [t["finish"] - t["launch"] for t in tasks]
    out = {
        "exec_core_s": sum(t["run_s"] for t in tasks),
        "task_p50_s": statistics.median(durs) if durs else 0.0,
        "task_max_s": max(durs) if durs else 0.0,
        "shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
        "shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "spill_bytes": sum(t["spill"] for t in tasks),
        "jobs": len(call["jobs"]),
        "stages": len(call["stages"]),
        "tasks": len(tasks),
    }
    if wall is not None:
        lo, hi = wall
        busy = covered_s([(t["launch"], t["finish"]) for t in tasks], lo, hi)
        out["driver_s"] = max(0.0, (hi - lo) - busy)
    return out


def profile_calls(log_dir: str, walls: dict[str, tuple[float, float]]) -> dict[str, dict]:
    """{label: metrics} for every label in walls (labels with no job get zeros)."""
    calls = collect_tasks(read_events(log_dir))
    empty = {"jobs": set(), "stages": set(), "tasks": []}
    return {label: summarize(calls.get(label, empty), wall) for label, wall in walls.items()}
