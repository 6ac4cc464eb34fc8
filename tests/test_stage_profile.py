"""tools/stage_profile.py on a hand-written event log: per-job and
per-stage sums, driver gaps between jobs, and per-label summaries."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

import pytest  # noqa: E402

import stage_profile  # noqa: E402


def _task(stage, launch, finish, run_ms, sr=0, sw=0, spill=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": sr},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
            "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
        },
    }


def _log(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.job.description": "build"}},
        _task(0, 1000, 1400, 300, sw=50),
        _task(0, 1000, 1500, 400, sw=70),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0, "Stage Name": "map"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        # job 1 re-lists stage 0 (skipped: its shuffle output is reused)
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1800,
         "Stage IDs": [0, 1], "Properties": {"spark.job.description": "build"}},
        _task(1, 1800, 2800, 900, sr=120, spill=8),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1, "Stage Name": "merge"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2800},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 3000,
         "Stage IDs": [2], "Properties": {}},
        _task(2, 3000, 3100, 100),
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 3100},
    ]
    d = tmp_path / "eventlog"
    d.mkdir()
    (d / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    return str(d)


def test_jobs_stages_and_gaps(tmp_path):
    jobs = stage_profile.profile(stage_profile.read_events(_log(tmp_path)))
    assert [j["job"] for j in jobs] == [0, 1, 2]
    j0, j1, j2 = jobs
    assert (j0["tasks"], j0["task_max_s"], j0["shuf_w"]) == (2, 0.5, 120)
    assert j0["core_s"] == pytest.approx(0.7)
    assert [s["stage"] for s in j1["stages"]] == [1]   # skipped stage 0 left out
    assert (j1["shuf_r"], j1["spill"], j1["core_s"]) == (120, 8, 0.9)
    assert j0["gap_s"] == 0.0 and abs(j1["gap_s"] - 0.3) < 1e-9 and abs(j2["gap_s"] - 0.2) < 1e-9


def test_label_summary_and_render(tmp_path):
    log = _log(tmp_path)
    jobs = stage_profile.profile(stage_profile.read_events(log))
    by = stage_profile.summarize(jobs)
    b = by["build"]
    assert (b["jobs"], b["stages"], b["tasks"]) == (2, 2, 3)
    assert abs(b["gap_s"] - 0.3) < 1e-9 and abs(b["span_s"] - 1.8) < 1e-9
    assert by[""]["jobs"] == 1
    assert "stage 1 merge" in stage_profile.render(jobs)
    assert stage_profile.main([log, "--label", "build", "--json"]) == 0
