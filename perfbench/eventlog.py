"""Offline reader for Spark's JSON event log: per job group task metrics.

The traced run tags every call into a layer with ``setJobGroup(<layer>)``;
Spark writes ``SparkListenerJobStart`` (with the job group in its
properties and the job's stage ids) and ``SparkListenerTaskEnd`` (with the
task's stage id, launch/finish times and task metrics) to the log. This
module folds those into one record per job group. It needs no jar, UI or
network: the log is a local file of one JSON object per line.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

MB = 1024 * 1024


def read_events(log_dir: str) -> list[dict]:
    """Every event of every (uncompressed, unrolled) log under ``log_dir``."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if path.endswith(".inprogress"):
            raise RuntimeError(f"event log {path} was not closed: stop the session first")
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def group_metrics(events: list[dict]) -> dict[str, dict]:
    """``{job_group: {jobs, tasks, task_p50_s, task_max_s, executor_run_s,
    shuffle_write_mb, spill_mb, failed_tasks}}``. Jobs without a group are
    collected under ``""``. A stage shared by several jobs (a reused
    shuffle) runs its tasks once, in the first job that lists it, and is
    counted there."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    durations: dict[str, list[float]] = defaultdict(list)
    acc: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            jobs[group] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"], "")
            info = ev.get("Task Info", {})
            metrics = ev.get("Task Metrics") or {}
            durations[group].append((info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000)
            a = acc[group]
            a["failed_tasks"] += bool(info.get("Failed") or info.get("Killed"))
            a["executor_run_s"] += metrics.get("Executor Run Time", 0) / 1000
            a["shuffle_write_mb"] += (
                metrics.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / MB
            )
            a["spill_mb"] += (
                metrics.get("Memory Bytes Spilled", 0) + metrics.get("Disk Bytes Spilled", 0)
            ) / MB
    out = {}
    for group in set(jobs) | set(durations):
        d = durations.get(group, [])
        out[group] = {
            "jobs": jobs.get(group, 0),
            "tasks": len(d),
            "task_p50_s": statistics.median(d) if d else 0.0,
            "task_max_s": max(d) if d else 0.0,
            **{k: acc[group].get(k, 0.0) for k in
               ("executor_run_s", "shuffle_write_mb", "spill_mb", "failed_tasks")},
        }
    return out
