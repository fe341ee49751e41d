"""Spark event-log reader: per-job-group accounting for the traced run.

Spark 4.1 writes rolling logs, ``eventlog_v2_<app>/events_<N>_<app>``
(compressed unless ``spark.eventLog.compress=false``, which the traced
session sets), or one plain ``<app>`` file with rolling off.  Both layouts are
read here.  Every op the benchmark times runs under its own
``SparkContext.setJobGroup`` id, so jobs, stages and tasks are attributed to
ops by the ``spark.jobGroup.id`` job property.  Stage ids restart in every
application, so stages are keyed by (application, stage id).
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

GROUP_PROP = "spark.jobGroup.id"


def _log_files(log_dir: str) -> list[list[str]]:
    """One list of files per application, each in write order."""
    apps = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if os.path.isdir(path) and name.startswith("eventlog_v2_"):
            parts = [p for p in os.listdir(path) if p.startswith("events_")]
            parts.sort(key=lambda p: int(p.split("_")[1]))
            apps.append([os.path.join(path, p) for p in parts])
        elif os.path.isfile(path) and not name.endswith(".inprogress") \
                and not name.startswith("."):
            apps.append([path])
    return apps


def read_events(log_dir: str) -> list[dict]:
    """All events of every application under ``log_dir``; each event gets an
    ``_app`` index.  A truncated last line (a log still being written) is
    skipped."""
    events = []
    for app, files in enumerate(_log_files(log_dir)):
        for path in files:
            with open(path, encoding="utf-8") as f:
                for line in f:
                    try:
                        ev = json.loads(line)
                    except json.JSONDecodeError:
                        continue
                    ev["_app"] = app
                    events.append(ev)
    return events


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def group_stats(events: list[dict]) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, executor run/CPU/GC seconds,
    shuffle bytes, result bytes, task skew of the longest stage, and the job
    intervals (epoch ms) for driver-gap accounting."""
    job_group: dict[tuple, str] = {}
    job_span: dict[tuple, list] = {}
    stage_job: dict[tuple, tuple] = {}
    stage_span: dict[tuple, tuple] = {}
    task_times: dict[tuple, list] = defaultdict(list)
    out: dict[str, dict] = defaultdict(lambda: {
        "jobs": 0, "stages": set(), "tasks": 0, "executor_run_s": 0.0,
        "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0, "result_bytes": 0, "job_intervals_ms": []})
    for ev in events:
        kind, app = ev.get("Event"), ev["_app"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP_PROP)
            if group is None:
                continue
            jid = (app, ev["Job ID"])
            job_group[jid] = group
            job_span[jid] = [ev["Submission Time"], None]
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault((app, sid), jid)
        elif kind == "SparkListenerJobEnd":
            jid = (app, ev["Job ID"])
            if jid in job_span:
                job_span[jid][1] = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stage_span[(app, info["Stage ID"])] = (
                info.get("Submission Time", 0), info.get("Completion Time", 0))
        elif kind == "SparkListenerTaskEnd":
            sid = (app, ev["Stage ID"])
            jid = stage_job.get(sid)
            if jid is None:
                continue
            g = out[job_group[jid]]
            g["stages"].add(sid)
            g["tasks"] += 1
            info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
            task_times[sid].append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
            g["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            rd = m.get("Shuffle Read Metrics") or {}
            g["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            if ev.get("Task Type") == "ResultTask":
                g["result_bytes"] += m.get("Result Size", 0)
    for jid, (s, e) in job_span.items():
        if e is not None:
            out[job_group[jid]]["job_intervals_ms"].append((s, e))
    for g in out.values():
        stages = g["stages"]
        longest = max(stages, key=lambda s: stage_span.get(s, (0, 0))[1] - stage_span.get(s, (0, 0))[0],
                      default=None)
        times = task_times.get(longest, [])
        med = statistics.median(times) if times else 0
        g["task_skew"] = (max(times) / med) if med > 0 else 1.0
        g["stages"] = len(stages)
    return dict(out)


def driver_gap_s(op_start: float, op_end: float,
                 job_intervals_ms: list[tuple[float, float]]) -> float:
    """Seconds of the op's wall time [op_start, op_end] (epoch seconds) in
    which none of its jobs was running."""
    lo, hi = op_start * 1e3, op_end * 1e3
    clipped = [(max(s, lo), min(e, hi)) for s, e in job_intervals_ms if e > lo and s < hi]
    return max(0.0, (hi - lo - _union_ms(clipped)) / 1e3)
