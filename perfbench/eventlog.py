"""Parse Spark's uncompressed JSON event log into per-job records and
SQL executions.

Each job carries the job group and description it was submitted under
(`SparkContext.setJobGroup`), so its stages' task metrics can be
attributed to the workload op that ran it.  A SQL execution spans one
action of a DataFrame in the JVM, from after physical planning to its
result: its jobs, and the driver work around them (adaptive
re-planning, code generation, broadcasts, result collection).
"""

from __future__ import annotations

import json
import os


def _new_totals() -> dict:
    return {
        "stages": 0, "tasks": 0, "failed_tasks": 0,
        "task_run_s": 0.0, "task_cpu_s": 0.0, "gc_s": 0.0,
        "input_records": 0, "shuffle_write_bytes": 0,
        "shuffle_read_bytes": 0, "spill_bytes": 0, "result_bytes": 0,
        "output_bytes": 0,
    }


SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"


def parse(lines) -> tuple[dict[int, dict], dict[int, dict]]:
    """(jobs, SQL executions), each by id, with times in epoch seconds.
    A job is {group, desc, start, end, ok, stages: set, tasks: [(launch,
    finish)], totals}; an execution is {group, desc, start, end}."""
    jobs: dict[int, dict] = {}
    sql: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = {
                "group": props.get("spark.jobGroup.id"),
                "desc": props.get("spark.job.description"),
                "start": ev["Submission Time"] / 1000.0,
                "end": None, "ok": None, "stages": set(),
                "tasks": [], "totals": _new_totals(),
            }
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == SQL_START:
            sql[ev["executionId"]] = {"group": ev.get("jobGroupId"), "desc": ev.get("description"),
                                      "start": ev["time"] / 1000.0, "end": None}
        elif kind == SQL_END:
            ex = sql.get(ev["executionId"])
            if ex is not None:
                ex["end"] = ev["time"] / 1000.0
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job["end"] = ev["Completion Time"] / 1000.0
                job["ok"] = ev.get("Job Result", {}).get("Result") == "JobSucceeded"
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            job = jobs.get(stage_job.get(sid))
            if job is not None and sid not in job["stages"]:
                job["stages"].add(sid)
                job["totals"]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev["Stage ID"]))
            if job is not None:
                _add_task(job, ev)
    return jobs, sql


def _add_task(job: dict, ev: dict) -> None:
    t = job["totals"]
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    t["tasks"] += 1
    if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason") != "Success":
        t["failed_tasks"] += 1
    if info.get("Launch Time") and info.get("Finish Time"):
        job["tasks"].append((info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0))
    t["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
    t["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    t["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    t["result_bytes"] += m.get("Result Size", 0)
    t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    t["input_records"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    t["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    t["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0
    )


def read_dir(path: str) -> tuple[dict[int, dict], dict[int, dict]]:
    """Parse the single application log in `path`."""
    logs = [os.path.join(path, f) for f in os.listdir(path)
            if not f.startswith(".") and not f.endswith(".crc")]
    if not logs:
        raise FileNotFoundError(f"no event log in {path}")
    newest = max(logs, key=os.path.getmtime)
    with open(newest) as fh:
        return parse(fh)


def totals(jobs) -> dict:
    """Summed task metrics, plus the job count, over `jobs`."""
    out = _new_totals()
    out["jobs"] = 0
    for job in jobs:
        out["jobs"] += 1
        for k, v in job["totals"].items():
            out[k] += v
    return out
