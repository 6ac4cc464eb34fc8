"""Per-job and per-stage profile of a Spark event log.

    python tools/stage_profile.py <event-log dir> [--label build_index] [--json]

The log comes from a session started with ``spark.eventLog.enabled=true``
and ``spark.eventLog.compress=false`` (a plain file or Spark 4's rolling
``eventlog_v2_*`` directory). Jobs are grouped by their description
(``SparkContext.setJobDescription``); ``--label`` keeps one group.

For every job it prints, and under it every stage the job ran:

    tasks        task count
    core_s       summed executor run time
    task_max_s   longest task (finish - launch)
    shuf_r/w     shuffle bytes read / written
    spill        memory + disk bytes spilled
    gap_s        (jobs only) driver time between the end of the label's
                 previous job, or of the previous label, and this job's
                 submission: planning, driver-side reads and commits

A label's summary line adds the wall span from its first submission to its
last completion. Stages a job skipped (their shuffle output was reused) do
not run tasks and are left out.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

from stages import read_events  # noqa: E402  (the benchmark's log reader)


def _zero() -> dict:
    return {"tasks": 0, "core_s": 0.0, "task_max_s": 0.0, "shuf_r": 0, "shuf_w": 0, "spill": 0}


def _add_task(acc: dict, ev: dict) -> None:
    info = ev["Task Info"]
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    acc["tasks"] += 1
    acc["core_s"] += m.get("Executor Run Time", 0) / 1000.0
    acc["task_max_s"] = max(acc["task_max_s"], (info["Finish Time"] - info["Launch Time"]) / 1000.0)
    acc["shuf_r"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    acc["shuf_w"] += sw.get("Shuffle Bytes Written", 0)
    acc["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)


def profile(events) -> list[dict]:
    """Jobs in submission order, each with its stages and totals."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = defaultdict(lambda: {**_zero(), "name": ""})
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = {
                "job": jid,
                "label": props.get("spark.job.description") or "",
                "submit": ev["Submission Time"] / 1000.0,
                "end": None,
                "stage_ids": list(ev.get("Stage IDs", [])),
            }
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stages[info["Stage ID"]]["name"] = info.get("Stage Name", "")
        elif kind == "SparkListenerTaskEnd":
            _add_task(stages[ev["Stage ID"]], ev)
    out = []
    for jid in sorted(jobs, key=lambda j: (jobs[j]["submit"], j)):
        job = jobs[jid]
        ran = [
            {"stage": sid, **stages[sid]}
            for sid in sorted(job.pop("stage_ids"))
            if stage_job.get(sid) == jid and stages[sid]["tasks"]
        ]
        tot = _zero()
        for s in ran:
            for k in ("tasks", "core_s", "shuf_r", "shuf_w", "spill"):
                tot[k] += s[k]
            tot["task_max_s"] = max(tot["task_max_s"], s["task_max_s"])
        out.append({**job, **tot, "stages": ran})
    prev_end = None
    for job in out:
        job["gap_s"] = max(0.0, job["submit"] - prev_end) if prev_end is not None else 0.0
        if job["end"] is not None:
            prev_end = job["end"] if prev_end is None else max(prev_end, job["end"])
    return out


def summarize(jobs: list[dict]) -> dict[str, dict]:
    """Per label: jobs, stages, totals, driver gaps and wall span."""
    by: dict[str, dict] = {}
    for j in jobs:
        s = by.setdefault(j["label"], {**_zero(), "jobs": 0, "stages": 0, "gap_s": 0.0,
                                       "first": j["submit"], "last": j["submit"]})
        s["jobs"] += 1
        s["stages"] += len(j["stages"])
        for k in ("tasks", "core_s", "shuf_r", "shuf_w", "spill"):
            s[k] += j[k]
        s["task_max_s"] = max(s["task_max_s"], j["task_max_s"])
        if s["jobs"] > 1:   # the first job's gap belongs to what ran before the label
            s["gap_s"] += j["gap_s"]
        s["last"] = max(s["last"], j["end"] or j["submit"])
    for s in by.values():
        s["span_s"] = s.pop("last") - s.pop("first")
    return by


def _fmt_bytes(n: int) -> str:
    for unit in ("B", "K", "M", "G"):
        if n < 1024 or unit == "G":
            return f"{n:.0f}{unit}" if unit == "B" else f"{n:.1f}{unit}"
        n /= 1024.0
    return str(n)


def _row(head: str, d: dict) -> str:
    return (
        f"{head:<44} {d['tasks']:>6} {d['core_s']:>8.2f} {d['task_max_s']:>8.2f} "
        f"{_fmt_bytes(d['shuf_r']):>8} {_fmt_bytes(d['shuf_w']):>8} {_fmt_bytes(d['spill']):>8}"
    )


def render(jobs: list[dict]) -> str:
    lines = [f"{'job / stage':<44} {'tasks':>6} {'core_s':>8} {'max_s':>8} "
             f"{'shuf_r':>8} {'shuf_w':>8} {'spill':>8}  gap_s"]
    for j in jobs:
        wall = (j["end"] - j["submit"]) if j["end"] is not None else float("nan")
        lines.append(_row(f"job {j['job']} [{j['label']}] {wall:.2f}s", j) + f"  {j['gap_s']:.2f}")
        for s in j["stages"]:
            lines.append(_row(f"  stage {s['stage']} {s['name'][:30]}", s))
    lines.append("")
    lines.append(f"{'label':<24} {'jobs':>5} {'stages':>6} {'tasks':>6} {'core_s':>8} "
                 f"{'max_s':>7} {'gaps_s':>7} {'span_s':>7}")
    for label, s in summarize(jobs).items():
        lines.append(f"{label[:24]:<24} {s['jobs']:>5} {s['stages']:>6} {s['tasks']:>6} "
                     f"{s['core_s']:>8.2f} {s['task_max_s']:>7.2f} {s['gap_s']:>7.2f} {s['span_s']:>7.2f}")
    return "\n".join(lines)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("log_dir", help="spark.eventLog.dir of the session")
    ap.add_argument("--label", help="keep only jobs with this description")
    ap.add_argument("--json", action="store_true", help="print JSON instead of a table")
    args = ap.parse_args(argv)
    jobs = profile(read_events(args.log_dir))
    if args.label is not None:
        jobs = [j for j in jobs if j["label"] == args.label]
    if args.json:
        print(json.dumps({"jobs": jobs, "labels": summarize(jobs)}))
    else:
        print(render(jobs))
    return 0


if __name__ == "__main__":
    sys.exit(main())
