"""Parser for an uncompressed Spark event log, with span attribution.

Each job carries the ``perfbench.span`` local property its submitting span set
(``spans.py``) and, for SQL work, ``spark.sql.execution.id``. Task metrics come
from ``Task Metrics``; operator metrics come from SQL accumulators, whose ids
are named by the plan infos (``SQLExecutionStart`` and every AQE update) and
whose values arrive as task updates plus driver-side updates per execution.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

from spans import SPAN_PROPERTY

_EXEC_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_AQE_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_DRIVER_ACCUMS = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"

# SQL metric types whose raw values are not already the unit reported
_TO_SECONDS = {"timing": 1e-3, "nsTiming": 1e-9}


@dataclass
class Job:
    id: int
    submit_ms: int
    end_ms: int | None
    stages: list[int]
    span: int | None
    execution: int | None
    stream_batch: str | None


@dataclass
class Task:
    stage: int
    launch_ms: int
    finish_ms: int
    run_ms: int
    cpu_ns: int
    fetch_wait_ms: int
    shuffle_bytes: int
    shuffle_records: int
    spill_bytes: int
    accums: dict[int, int] = field(default_factory=dict)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)
    stage_job: dict[int, int] = field(default_factory=dict)
    # accumulator id -> (operator name, metric name, metric type)
    acc_meta: dict[int, tuple[str, str, str]] = field(default_factory=dict)
    # execution id -> accumulator id -> driver-side value
    driver_accums: dict[int, dict[int, int]] = field(default_factory=dict)


def _plan_metrics(plan: dict, out: dict) -> None:
    for m in plan.get("metrics", []):
        out[int(m["accumulatorId"])] = (plan["nodeName"].strip(), m["name"], m["metricType"])
    for child in plan.get("children", []):
        _plan_metrics(child, out)


def _num(v) -> int:
    return int(float(v)) if v is not None else 0


def parse(path: str) -> EventLog:
    """Parse a single-file (non-rolling) event log."""
    log = EventLog()
    with open(path) as fh:
        for line in fh:
            _apply(log, json.loads(line))
    return log


def _apply(log: EventLog, e: dict) -> None:
    kind = e["Event"]
    if kind == "SparkListenerJobStart":
        props = e.get("Properties") or {}
        span = props.get(SPAN_PROPERTY)
        ex = props.get("spark.sql.execution.id")
        batch = props.get("streaming.sql.batchId")
        job = Job(
            id=e["Job ID"],
            submit_ms=e["Submission Time"],
            end_ms=None,
            stages=list(e["Stage IDs"]),
            span=int(span) if span else None,
            execution=int(ex) if ex else None,
            # batch ids restart with every query
            stream_batch=f'{props.get("sql.streaming.queryId")}:{batch}' if batch is not None else None,
        )
        log.jobs[job.id] = job
        for sid in job.stages:
            # the first job that lists a stage runs it; later jobs skip it
            log.stage_job.setdefault(sid, job.id)
    elif kind == "SparkListenerJobEnd":
        if e["Job ID"] in log.jobs:
            log.jobs[e["Job ID"]].end_ms = e["Completion Time"]
    elif kind == "SparkListenerTaskEnd":
        info, m = e["Task Info"], e.get("Task Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        accums = {
            int(a["ID"]): _num(a.get("Update"))
            for a in info.get("Accumulables", [])
            if a.get("Metadata") == "sql"
        }
        log.tasks.append(
            Task(
                stage=e["Stage ID"],
                launch_ms=info["Launch Time"],
                finish_ms=info["Finish Time"],
                run_ms=_num(m.get("Executor Run Time")),
                cpu_ns=_num(m.get("Executor CPU Time")),
                fetch_wait_ms=_num(sr.get("Fetch Wait Time")),
                shuffle_bytes=_num(sw.get("Shuffle Bytes Written")),
                shuffle_records=_num(sw.get("Shuffle Records Written")),
                spill_bytes=_num(m.get("Memory Bytes Spilled")) + _num(m.get("Disk Bytes Spilled")),
                accums=accums,
            )
        )
    elif kind in (_EXEC_START, _AQE_UPDATE):
        _plan_metrics(e["sparkPlanInfo"], log.acc_meta)
    elif kind == _DRIVER_ACCUMS:
        d = log.driver_accums.setdefault(int(e["executionId"]), {})
        for acc, value in e["accumUpdates"]:
            d[int(acc)] = d.get(int(acc), 0) + int(value)


def sql_metrics(log: EventLog, jobs: list[Job]) -> dict[tuple[str, str], float]:
    """Operator metrics summed over the given jobs' tasks plus the driver-side
    updates of their SQL executions, keyed by (operator, metric). Timings are
    converted to seconds; sizes stay bytes and counts stay counts."""
    raw: dict[int, int] = defaultdict(int)
    for t in tasks_of(log, jobs):
        for acc, v in t.accums.items():
            raw[acc] += v
    for ex in {j.execution for j in jobs if j.execution is not None}:
        for acc, v in log.driver_accums.get(ex, {}).items():
            raw[acc] += v
    out: dict[tuple[str, str], float] = defaultdict(float)
    for acc, v in raw.items():
        meta = log.acc_meta.get(acc)
        if meta is not None:
            node, name, mtype = meta
            out[(node, name)] += v * _TO_SECONDS.get(mtype, 1)
    return dict(out)


def metric(sql: dict[tuple[str, str], float], name: str, node: str | None = None) -> float:
    """Sum one metric over every operator, or over operators named ``node``."""
    return sum(v for (n, m), v in sql.items() if m == name and (node is None or n == node))


def tasks_of(log: EventLog, jobs: list[Job]) -> list[Task]:
    ids = {j.id for j in jobs}
    return [t for t in log.tasks if log.stage_job.get(t.stage) in ids]


def merge_intervals(pairs) -> list[tuple[int, int]]:
    """Union of (start, end) intervals, sorted and disjoint."""
    merged: list[list[int]] = []
    for a, b in sorted(pairs):
        if merged and a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    return [(a, b) for a, b in merged]


def covered_ms(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """How much of [lo, hi] the disjoint ``intervals`` cover."""
    return sum(max(0, min(b, hi) - max(a, lo)) for a, b in intervals)
