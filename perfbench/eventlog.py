"""Offline parser for the Spark event log of a traced run.

Every job is attributed to a layer through its job group (one per span,
see ``trace.Tracer``); SQL executions also keep their physical plan so
the engine's fused iteration writes can be told apart by output path
(``iter=K.tmp/<table>``). Task metrics are summed per job.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

_OUT_TABLE = re.compile(r"InsertIntoHadoopFsRelationCommand [^,\n]*iter=\d+\.tmp/(\w+)")
# ArrowEvalPython / MapInPandas SQL metrics (bytes to and from workers)
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


@dataclass
class Job:
    job_id: int
    group: str | None
    start_ms: int
    end_ms: int = 0
    stage_ids: list[int] = field(default_factory=list)
    sql_id: int | None = None
    table: str | None = None
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    python_bytes: int = 0
    task_ms: list[int] = field(default_factory=list)


def parse(events_dir: str) -> list[Job]:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    sql_table: dict[int, str] = {}
    stage_acc: dict[tuple[int, int], int] = {}
    files = sorted(
        os.path.join(root, f)
        for root, _dirs, names in os.walk(events_dir)
        for f in names
        if not f.startswith("appstatus")  # rolling-log marker file
    )
    for path in files:
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:  # blank or torn last line
                    continue
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    sql = props.get("spark.sql.execution.id")
                    job = Job(
                        job_id=ev["Job ID"],
                        group=props.get("spark.jobGroup.id"),
                        start_ms=ev["Submission Time"],
                        stage_ids=list(ev.get("Stage IDs", [])),
                        sql_id=int(sql) if sql is not None else None,
                    )
                    jobs[job.job_id] = job
                    for sid in job.stage_ids:
                        stage_job[sid] = job.job_id
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                    m = ev.get("Task Metrics")
                    if job is None or not m:
                        continue
                    job.tasks += 1
                    job.run_ms += m.get("Executor Run Time", 0)
                    job.task_ms.append(m.get("Executor Run Time", 0))
                    job.cpu_ns += m.get("Executor CPU Time", 0)
                    job.gc_ms += m.get("JVM GC Time", 0)
                    job.shuffle_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    job.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    for acc in info.get("Accumulables", []):
                        if acc.get("Name") in _PY_BYTES:
                            key = (info["Stage ID"], acc["ID"])
                            stage_acc[key] = int(acc.get("Value", 0) or 0)
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    m = _OUT_TABLE.search(ev.get("physicalPlanDescription", ""))
                    if m:
                        sql_table[ev["executionId"]] = m.group(1)
    for (sid, _acc), val in stage_acc.items():
        job = jobs.get(stage_job.get(sid, -1))
        if job is not None:
            job.python_bytes += val
    for job in jobs.values():
        if job.sql_id is not None:
            job.table = sql_table.get(job.sql_id)
    return sorted(jobs.values(), key=lambda j: j.start_ms)


def in_window(jobs: list[Job], start_s: float, end_s: float) -> list[Job]:
    lo, hi = start_s * 1000, end_s * 1000
    return [j for j in jobs if j.start_ms >= lo - 1 and j.start_ms <= hi]


def busy_s(jobs: list[Job], start_s: float, end_s: float) -> float:
    """Seconds of [start, end] during which at least one job ran."""
    lo, hi = start_s * 1000, end_s * 1000
    spans = sorted((max(j.start_ms, lo), min(j.end_ms or hi, hi)) for j in jobs)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1000.0


def totals(jobs: list[Job]) -> dict:
    stages = sum(len(j.stage_ids) for j in jobs)
    skews = [max(j.task_ms) / max(1, sorted(j.task_ms)[len(j.task_ms) // 2]) for j in jobs if j.task_ms]
    return {
        "jobs": len(jobs),
        "stages": stages,
        "tasks": sum(j.tasks for j in jobs),
        "run_s": sum(j.run_ms for j in jobs) / 1000.0,
        "cpu_s": sum(j.cpu_ns for j in jobs) / 1e9,
        "gc_s": sum(j.gc_ms for j in jobs) / 1000.0,
        "shuffle_bytes": sum(j.shuffle_bytes for j in jobs),
        "spill_bytes": sum(j.spill_bytes for j in jobs),
        "python_bytes": sum(j.python_bytes for j in jobs),
        "task_skew": max(skews) if skews else 1.0,
    }


def by_group(jobs: list[Job], prefix: str) -> list[Job]:
    return [j for j in jobs if (j.group or "").startswith(prefix)]
