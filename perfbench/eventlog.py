"""Spark event-log reader: per-job-group stage and task accounting.

Reads an uncompressed event log (``spark.eventLog.compress=false``),
either a single ``app-*``/``local-*`` file or a rolling
``eventlog_v2_<app>/events_<n>_<app>`` directory, and attributes every
job, stage and task to the job group its job was submitted under. A
job with no group, or under a group the caller did not set, is
attributed by time to the caller's op interval that contains its
submission (``assign_by_time``).
"""

from __future__ import annotations

import glob
import json
import os
import re

MB = 1024 * 1024

# task-metric sums kept per stage, in the event's own units
_TASK_FIELDS = ("cpu_ns", "run_ms", "gc_ms", "input_b", "shw_b", "shr_b", "spill_b")


def log_files(log_dir: str) -> list[str]:
    """Event files under ``log_dir`` in write order."""
    rolling = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if rolling:
        def idx(p: str) -> int:
            m = re.match(r"events_(\d+)_", os.path.basename(p))
            return int(m.group(1)) if m else 0

        return sorted(rolling, key=idx)
    return sorted(
        p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)
    )


def parse(paths: list[str]) -> dict:
    """{"jobs": {id: job}, "stages": {id: stage}} from event files.

    job   = {group, submit_ms, end_ms, stage_ids}
    stage = {job, submit_ms, end_ms, tasks, peak_exec_b, acc_cpu_ns,
             plus the _TASK_FIELDS sums over its successful+failed tasks}
    """
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    stage_job: dict[int, int] = {}

    def stage(sid: int) -> dict:
        st = stages.get(sid)
        if st is None:
            st = stages[sid] = {
                "job": stage_job.get(sid),
                "submit_ms": None,
                "end_ms": None,
                "tasks": 0,
                "peak_exec_b": 0,
                "acc_cpu_ns": 0,
                **{k: 0 for k in _TASK_FIELDS},
            }
        return st

    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    sids = ev.get("Stage IDs") or [
                        s["Stage ID"] for s in ev.get("Stage Infos", [])
                    ]
                    jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "submit_ms": ev["Submission Time"],
                        "end_ms": None,
                        "stage_ids": sids,
                    }
                    for sid in sids:
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    _add_task(stage(ev["Stage ID"]), ev.get("Task Metrics") or {})
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stage(info["Stage ID"])
                    st["submit_ms"] = info.get("Submission Time")
                    st["end_ms"] = info.get("Completion Time")
                    for acc in info.get("Accumulables", []):
                        if acc.get("Name") == "internal.metrics.executorCpuTime":
                            st["acc_cpu_ns"] = int(acc["Value"])
    for sid, st in stages.items():
        if st["job"] is None:
            st["job"] = stage_job.get(sid)
    return {"jobs": jobs, "stages": stages}


def _add_task(st: dict, tm: dict) -> None:
    shr = tm.get("Shuffle Read Metrics") or {}
    shw = tm.get("Shuffle Write Metrics") or {}
    inp = tm.get("Input Metrics") or {}
    st["tasks"] += 1
    st["cpu_ns"] += tm.get("Executor CPU Time", 0)
    st["run_ms"] += tm.get("Executor Run Time", 0)
    st["gc_ms"] += tm.get("JVM GC Time", 0)
    st["input_b"] += inp.get("Bytes Read", 0)
    st["shw_b"] += shw.get("Shuffle Bytes Written", 0)
    st["shr_b"] += shr.get("Remote Bytes Read", 0) + shr.get("Local Bytes Read", 0)
    st["spill_b"] += tm.get("Disk Bytes Spilled", 0)
    st["peak_exec_b"] = max(st["peak_exec_b"], tm.get("Peak Execution Memory", 0))


def assign_by_time(log: dict, intervals: dict[str, tuple[float, float]]) -> None:
    """Give each job that is not under one of the caller's groups the
    group whose [start, end] epoch-ms interval contains its submission
    time (single client, serial ops). This catches jobs with no group
    and jobs that Spark runs under a group of its own, such as a
    streaming query's micro-batches under the query's run id."""
    for job in log["jobs"].values():
        if job["group"] not in intervals:
            for group, (lo, hi) in intervals.items():
                if lo <= job["submit_ms"] <= hi:
                    job["group"] = group
                    break


def union_ms(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(i for i in intervals if i[1] is not None):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def by_group(log: dict) -> dict[str, dict]:
    """group -> totals over its jobs' stages, with sizes in MiB and
    times in seconds; ``stage_cpu_s`` comes from the stage-level
    accumulable and must equal the task sum ``task_cpu_s``."""
    job_stages: dict[int, list[dict]] = {}
    for st in log["stages"].values():
        # a stage with no submit time was skipped (reused shuffle
        # output) and ran no task
        if st["submit_ms"] is not None:
            job_stages.setdefault(st["job"], []).append(st)
    out: dict[str, dict] = {}
    for jid, job in log["jobs"].items():
        g = out.setdefault(job["group"], {
            "jobs": 0, "stages": 0, "tasks": 0, "task_cpu_s": 0.0,
            "stage_cpu_s": 0.0, "gc_s": 0.0, "input_mb": 0.0,
            "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0,
            "spill_mb": 0.0, "peak_exec_mb": 0.0, "job_spans_ms": [],
        })
        g["jobs"] += 1
        g["job_spans_ms"].append((job["submit_ms"], job["end_ms"]))
        for st in job_stages.get(jid, ()):
            g["stages"] += 1
            g["tasks"] += st["tasks"]
            g["task_cpu_s"] += st["cpu_ns"] / 1e9
            g["stage_cpu_s"] += st["acc_cpu_ns"] / 1e9
            g["gc_s"] += st["gc_ms"] / 1e3
            g["input_mb"] += st["input_b"] / MB
            g["shuffle_write_mb"] += st["shw_b"] / MB
            g["shuffle_read_mb"] += st["shr_b"] / MB
            g["spill_mb"] += st["spill_b"] / MB
            g["peak_exec_mb"] = max(g["peak_exec_mb"], st["peak_exec_b"] / MB)
    return out
