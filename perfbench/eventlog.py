"""Spark event-log reader: one row per completed stage attempt.

The traced run starts its session with ``spark.eventLog.enabled=true`` and
``spark.eventLog.compress=false`` through ``build_session(extra_conf=...)``.
Spark 4.1 writes a rolled directory ``eventlog_v2_<app>/events_<N>_<app>``;
every file of it is read, in N order. Stages are tied to the call that
launched them through the job group the benchmark sets around each call,
and to a micro-batch through the ``streaming.sql.batchId`` job property.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from pathlib import Path

PYTHON_RUN_ACCUM = "time to run Python workers"
PYTHON_SENT_ACCUM = "data sent to Python workers"
PYTHON_RECV_ACCUM = "data returned from Python workers"
MB = 2**20


def read_apps(log_dir: Path) -> list[list[dict]]:
    """The events of each application logged under ``log_dir``: one list per
    ``eventlog_v2_<app>`` directory (files in N order) or plain log file."""
    apps = []
    for entry in sorted(log_dir.iterdir()):
        if entry.is_dir():
            files = sorted(
                (p for p in entry.iterdir() if p.name.startswith("events_")),
                key=lambda p: int(p.name.split("_")[1]),
            )
        elif not entry.name.startswith(".") and not entry.name.endswith(".crc"):
            files = [entry]
        else:
            continue
        events = []
        for path in files:
            with path.open() as f:
                events.extend(json.loads(line) for line in f if line.strip())
        apps.append(events)
    return apps


def _accum(stage_info: dict, name: str) -> float:
    return sum(float(a.get("Value") or 0) for a in stage_info.get("Accumulables", ()) if a.get("Name") == name)


def parse(events: list[dict]) -> tuple[dict, list[dict]]:
    """(application, stage rows) of one application's events.
    ``application`` holds the start time (ms) and, per SQL execution id, the
    physical plan text."""
    app = {"start_ms": None, "plans": {}}
    job_props: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_info: dict[tuple[int, int], dict] = {}
    tasks: dict[tuple[int, int], list[dict]] = defaultdict(list)
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerApplicationStart":
            app["start_ms"] = e["Timestamp"]
        elif kind == "SparkListenerJobStart":
            job_props[e["Job ID"]] = e.get("Properties") or {}
            for sid in e["Stage IDs"]:
                stage_job.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerTaskEnd":
            tasks[(e["Stage ID"], e["Stage Attempt ID"])].append(e)
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            stage_info[(si["Stage ID"], si["Stage Attempt ID"])] = si
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            app["plans"][str(e["executionId"])] = e.get("physicalPlanDescription") or ""

    rows = []
    for (sid, attempt), si in sorted(stage_info.items()):
        job = stage_job.get(sid)
        props = job_props.get(job, {})
        ends = tasks.get((sid, attempt), [])
        metrics = [t.get("Task Metrics") or {} for t in ends]
        durations = [
            (t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"]) / 1e3 for t in ends
        ]
        launches = [t["Task Info"]["Launch Time"] for t in ends]

        def total(*path):
            s = 0
            for m in metrics:
                v = m
                for key in path:
                    v = (v or {}).get(key, 0)
                s += v or 0
            return s

        rows.append(
            {
                "stage": sid,
                "attempt": attempt,
                "job": job,
                "group": props.get("spark.jobGroup.id"),
                "description": props.get("spark.job.description"),
                "sql_id": props.get("spark.sql.execution.id"),
                "batch_id": props.get("streaming.sql.batchId"),
                "name": si.get("Stage Name", ""),
                "n_tasks": si.get("Number of Tasks"),
                "tasks": len(ends),
                "scopes": sorted(
                    {json.loads(r["Scope"])["name"] for r in si.get("RDD Info", ()) if r.get("Scope")}
                ),
                "python": any(a.get("Name") == PYTHON_RUN_ACCUM for a in si.get("Accumulables", ())),
                "run_s": total("Executor Run Time") / 1e3,
                "cpu_s": total("Executor CPU Time") / 1e9,
                "gc_s": total("JVM GC Time") / 1e3,
                "records_in": total("Input Metrics", "Records Read")
                + total("Shuffle Read Metrics", "Total Records Read"),
                "records_out": total("Shuffle Write Metrics", "Shuffle Records Written")
                + total("Output Metrics", "Records Written"),
                "input_mb": total("Input Metrics", "Bytes Read") / MB,
                "shuffle_read_mb": (
                    total("Shuffle Read Metrics", "Remote Bytes Read")
                    + total("Shuffle Read Metrics", "Local Bytes Read")
                )
                / MB,
                "shuffle_write_mb": total("Shuffle Write Metrics", "Shuffle Bytes Written") / MB,
                "spill_mb": (total("Memory Bytes Spilled") + total("Disk Bytes Spilled")) / MB,
                "task_max_s": max(durations, default=0.0),
                "task_median_s": statistics.median(durations) if durations else 0.0,
                "first_launch_ms": min(launches, default=None),
                "python_run_s": _accum(si, PYTHON_RUN_ACCUM) / 1e3,
                "python_sent_mb": _accum(si, PYTHON_SENT_ACCUM) / MB,
                "python_recv_mb": _accum(si, PYTHON_RECV_ACCUM) / MB,
            }
        )
    return app, rows


def task_skew(rows: list[dict]) -> float:
    """Max over median task time of the stage with the most executor time."""
    heavy = max(rows, key=lambda r: r["run_s"], default=None)
    if heavy is None or heavy["task_median_s"] <= 0:
        return 1.0
    return heavy["task_max_s"] / heavy["task_median_s"]
