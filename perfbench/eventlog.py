"""Spark event-log parser: task metrics attributed to benchmark spans.

A traced run starts its session with ``spark.eventLog.enabled=true``,
``spark.eventLog.compress=false`` and ``spark.eventLog.rolling.enabled=false``,
so Spark writes one JSON-lines file per application. Every span of the
benchmark sets the Spark job group to its own name; this module reads the
file back and sums, per job group, the task metrics the per-layer table
reports (run and CPU time, GC, shuffle, spill, Python eval time, task and
job counts, failed tasks).

Inside a ``StageRunner`` stage the job group is the stage's span, but two
kinds of work belong to the checkpoint layer rather than to the operator:
the ``lineage_records`` pass over the freshly written parquet and the
append of its rows under ``_lineage``. They are told apart by the SQL
execution's plan (``execution_kind``) and booked to ``LINEAGE``.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

LINEAGE = "checkpointing.lineage"
PYTHON_TIME = "time to run Python workers"
MIB = 1024.0 * 1024.0


@dataclass
class Task:
    stage: int
    job: int
    launch_ms: int
    finish_ms: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_bytes: int
    spill_bytes: int
    python_ms: int
    failed: bool


@dataclass
class Job:
    group: str | None
    execution: int | None
    submit_ms: int
    stages: list[int] = field(default_factory=list)


@dataclass
class Execution:
    group: str | None
    start_ms: int
    end_ms: int | None
    kind: str


@dataclass
class EventLog:
    jobs: dict[int, Job]
    executions: dict[int, Execution]
    tasks: list[Task]


def _plan_strings(node: dict) -> list[str]:
    out = [node.get("simpleString", "")]
    for child in node.get("children", []):
        out.extend(_plan_strings(child))
    return out


def execution_kind(plan: dict) -> str:
    """``lineage`` for the checkpoint layer's lineage pass (the
    ``per_partition`` mapInPandas kernel of ``plans.lineage``) and for the
    append under ``_lineage``; ``compute`` for everything else, including a
    stage's fused compute + parquet write."""
    for s in _plan_strings(plan):
        if "per_partition(" in s:
            return "lineage"
        if s.startswith("Execute InsertIntoHadoopFsRelationCommand") \
                and "/_lineage," in s:
            return "lineage"
    return "compute"


def _task(ev: dict, job: int) -> Task:
    m = ev.get("Task Metrics") or {}
    info = ev["Task Info"]
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    py_ms = sum(int(a.get("Update") or 0) for a in info.get("Accumulables", [])
                if a.get("Name") == PYTHON_TIME)
    return Task(
        stage=ev["Stage ID"], job=job,
        launch_ms=info["Launch Time"], finish_ms=info["Finish Time"],
        run_ms=m.get("Executor Run Time", 0),
        cpu_ns=m.get("Executor CPU Time", 0),
        gc_ms=m.get("JVM GC Time", 0),
        shuffle_bytes=(sr.get("Local Bytes Read", 0)
                       + sr.get("Remote Bytes Read", 0)
                       + sw.get("Shuffle Bytes Written", 0)),
        spill_bytes=(m.get("Memory Bytes Spilled", 0)
                     + m.get("Disk Bytes Spilled", 0)),
        python_ms=py_ms,
        failed=bool(info.get("Failed")) or bool(info.get("Killed")),
    )


def parse(lines) -> EventLog:
    """Parse an iterable of event-log lines (one JSON event per line)."""
    jobs: dict[int, Job] = {}
    executions: dict[int, Execution] = {}
    stage_job: dict[int, int] = {}
    tasks: list[Task] = []
    for ln in lines:
        if not ln.strip():
            continue
        ev = json.loads(ln)
        kind = ev["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            ex = props.get("spark.sql.execution.id")
            job = Job(group=props.get("spark.jobGroup.id"),
                      execution=int(ex) if ex is not None else None,
                      submit_ms=ev["Submission Time"],
                      stages=list(ev["Stage IDs"]))
            jobs[ev["Job ID"]] = job
            for s in job.stages:
                # a stage shared by several jobs runs its tasks once, under
                # the first job that submitted it
                stage_job.setdefault(s, ev["Job ID"])
        elif kind == "SparkListenerSQLExecutionStart":
            executions[ev["executionId"]] = Execution(
                group=ev.get("jobGroupId"), start_ms=ev["time"], end_ms=None,
                kind=execution_kind(ev["sparkPlanInfo"]))
        elif kind == "SparkListenerSQLExecutionEnd":
            if ev["executionId"] in executions:
                executions[ev["executionId"]].end_ms = ev["time"]
        elif kind == "SparkListenerTaskEnd":
            job = stage_job.get(ev["Stage ID"])
            if job is not None:
                tasks.append(_task(ev, job))
    return EventLog(jobs, executions, tasks)


def read(path: str) -> EventLog:
    with open(path, encoding="utf-8") as f:
        return parse(f)


def job_bucket(log: EventLog, job: Job) -> str | None:
    """The span a job's work is booked to: its job group, except that the
    checkpoint layer's lineage executions go to ``LINEAGE``."""
    ex = log.executions.get(job.execution) if job.execution is not None else None
    if ex is not None and ex.kind == "lineage" and job.group is not None:
        return LINEAGE
    return job.group


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
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


def clip(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def skew(tasks: list[Task]) -> float:
    """max/median task run time in the stage with the most total run time
    (1.0 when there is nothing to compare)."""
    by_stage: dict[int, list[int]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(t.run_ms)
    if not by_stage:
        return 1.0
    runs = max(by_stage.values(), key=sum)
    return max(runs) / max(statistics.median(runs), 1.0)


def bucket_metrics(log: EventLog, since_ms: int = 0) -> dict[str, dict]:
    """Per-bucket task metrics over the jobs submitted at or after
    ``since_ms`` (the warm-up before a traced window shares group names)."""
    by_job = {jid: job_bucket(log, j) for jid, j in log.jobs.items()
              if j.submit_ms >= since_ms}
    out: dict[str, dict] = {}
    tasks_by: dict[str, list[Task]] = {}
    for jid, b in by_job.items():
        if b is None:
            continue
        out.setdefault(b, {"jobs": 0})["jobs"] += 1
        tasks_by.setdefault(b, [])
    for t in log.tasks:
        b = by_job.get(t.job)
        if b is not None:
            tasks_by[b].append(t)
    for b, ts in tasks_by.items():
        out[b].update({
            "tasks": len(ts),
            "failed_tasks": sum(t.failed for t in ts),
            "cpu_s": sum(t.cpu_ns for t in ts) / 1e9,
            "gc_s": sum(t.gc_ms for t in ts) / 1e3,
            "python_s": sum(t.python_ms for t in ts) / 1e3,
            "shuffle_mb": sum(t.shuffle_bytes for t in ts) / MIB,
            "spill_mb": sum(t.spill_bytes for t in ts) / MIB,
            "skew": skew(ts),
            "task_intervals": [(t.launch_ms / 1e3, t.finish_ms / 1e3)
                               for t in ts],
        })
    return out


def execution_intervals(log: EventLog, group: str,
                        since_ms: int = 0) -> dict[str, list]:
    """(start, end) seconds of the SQL executions run under ``group``,
    split by execution kind."""
    out: dict[str, list] = {}
    for ex in log.executions.values():
        if ex.group == group and ex.start_ms >= since_ms \
                and ex.end_ms is not None:
            out.setdefault(ex.kind, []).append(
                (ex.start_ms / 1e3, ex.end_ms / 1e3))
    return out


def failed_tasks(log: EventLog, since_ms: int = 0) -> int:
    jobs = {jid for jid, j in log.jobs.items() if j.submit_ms >= since_ms}
    return sum(t.failed for t in log.tasks if t.job in jobs)
