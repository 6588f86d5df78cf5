"""Per-layer metrics of a traced run, from the bench-side spans, the Spark
event log and the per-iteration records of run.py. README.md defines every
metric and names the end-to-end metric it should move.

Attribution: a job belongs to the innermost span open on its submitting
thread (``perfbench.span``). Stream jobs carry ``streaming.sql.batchId``;
those outside every ``engine.apply`` span are the stream's own per-batch work
(the schema check runs there). The batch write of a ``lake.merge`` span is its
first SQL execution; later executions in the span are generation folds.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from eventlog import EventLog, Job, covered_ms, merge_intervals, metric, sql_metrics, tasks_of


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


class SpanIndex:
    def __init__(self, spans: list[dict], log: EventLog):
        self.spans = spans
        self.by_id = {s["id"]: s for s in spans}
        self.children: dict[int, list[int]] = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                self.children[s["parent"]].append(s["id"])
        self.jobs_by_span: dict[int, list[Job]] = defaultdict(list)
        for j in log.jobs.values():
            if j.span is not None:
                self.jobs_by_span[j.span].append(j)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def subtree(self, span_id: int) -> list[int]:
        out, todo = [], [span_id]
        while todo:
            sid = todo.pop()
            out.append(sid)
            todo.extend(self.children.get(sid, []))
        return out

    def jobs(self, spans: list[dict]) -> list[Job]:
        return [j for s in spans for sid in self.subtree(s["id"]) for j in self.jobs_by_span[sid]]

    def child(self, span: dict, name: str) -> dict | None:
        kids = [self.by_id[c] for c in self.children.get(span["id"], [])]
        kids = [k for k in kids if k["name"] == name]
        return min(kids, key=lambda k: k["start"]) if kids else None


def _ms(t: float) -> int:
    return int(round(t * 1000))


def _idle_s(span: dict, busy: list[tuple[int, int]]) -> float:
    """Span time not covered by the disjoint ``busy`` intervals (ms)."""
    lo, hi = _ms(span["start"]), _ms(span["end"])
    return max(0, (hi - lo) - covered_ms(busy, lo, hi)) / 1000


def _skew(log: EventLog, jobs: list[Job]) -> float | None:
    """max/median task run time of the widest stage among ``jobs``."""
    by_stage: dict[int, list[int]] = defaultdict(list)
    for t in tasks_of(log, jobs):
        by_stage[t.stage].append(t.run_ms)
    if not by_stage:
        return None
    runs = max(by_stage.values(), key=len)
    med = statistics.median(runs)
    return max(runs) / med if med > 0 else None


def per_layer(
    log: EventLog,
    spans: list[dict],
    iterations: list[dict],
    window: tuple[float, float],
    gc_s: float,
    nproc: int,
) -> dict[str, float]:
    ix = SpanIndex(spans, log)
    applies = ix.named("engine.apply")
    merges = ix.named("lake.merge")
    n = max(1, len(applies))
    apply_jobs = ix.jobs(applies)
    apply_ids = {j.id for j in apply_jobs}
    stream_jobs = [j for j in log.jobs.values() if j.stream_batch is not None and j.id not in apply_ids]
    events = sum(it["events"] for it in iterations)

    # batch write = first SQL execution of each merge; the rest are folds
    write_jobs: list[Job] = []
    skews = []
    for m in merges:
        jobs = ix.jobs([m])
        execs = sorted({j.execution for j in jobs if j.execution is not None},
                       key=lambda e: min(j.submit_ms for j in jobs if j.execution == e))
        if execs:
            w = [j for j in jobs if j.execution == execs[0]]
            write_jobs += w
            s = _skew(log, w)
            if s is not None:
                skews.append(s)
    wsql = sql_metrics(log, write_jobs)
    wtasks = tasks_of(log, write_jobs)
    asql = sql_metrics(log, apply_jobs)
    msql = sql_metrics(log, ix.jobs(merges))

    tasks_busy = merge_intervals((t.launch_ms, t.finish_ms) for t in log.tasks)

    # streaming: islands = apply start -> its merge; schema check = first job
    # of the stream batch -> apply start; between = apply end -> next batch
    islands, schema, between = [], [], []
    first_job: dict[str, int] = {}
    for j in log.jobs.values():
        if j.stream_batch is not None:
            first_job[j.stream_batch] = min(first_job.get(j.stream_batch, j.submit_ms), j.submit_ms)
    stream_applies = []
    for a in applies:
        batch_ids = {j.stream_batch for j in ix.jobs([a]) if j.stream_batch is not None}
        if len(batch_ids) == 1:
            stream_applies.append((a, batch_ids.pop()))
    for k, (a, bid) in enumerate(stream_applies):
        m = ix.child(a, "lake.merge")
        if m is not None:
            islands.append(m["start"] - a["start"])
        schema.append(max(0, _ms(a["start"]) - first_job[bid]) / 1000)
        if k:
            prev = stream_applies[k - 1][0]
            between.append(max(0, first_job[bid] - _ms(prev["end"])) / 1000)

    scans, lookups, compacts = ix.named("phase.scan"), ix.named("phase.lookup"), ix.named("lake.compact")
    footers = ix.named("planner.footers")
    lo, hi = _ms(window[0]), _ms(window[1])
    cpu_ns = sum(t.cpu_ns for t in log.tasks if lo <= t.launch_ms <= hi)

    return {
        "planner.discover_s": _mean(s["end"] - s["start"] for s in ix.named("planner.discover")),
        "planner.footers_read": _mean(s["files"] for s in footers),
        "engine.jobs_per_batch": (len(apply_jobs) + len(stream_jobs)) / n,
        "engine.tasks_per_batch": len(tasks_of(log, apply_jobs + stream_jobs)) / n,
        "engine.driver_only_s": _mean(_idle_s(a, tasks_busy) for a in applies),
        "scan.bytes_read": metric(asql, "size of files read") / n,
        "scan.files_read": metric(asql, "number of files read") / n,
        "scan.rows_read": metric(asql, "number of output rows", "Scan parquet") / n,
        "streaming.islands_s": _mean(islands),
        "streaming.schema_check_s": _mean(schema),
        "streaming.between_batches_s": _mean(between),
        "dedup.shuffle_bytes": sum(t.shuffle_bytes for t in wtasks) / n,
        "dedup.shuffle_records": sum(t.shuffle_records for t in wtasks) / n,
        "dedup.fetch_wait_s": sum(t.fetch_wait_ms for t in wtasks) / 1000 / n,
        "dedup.sort_s": metric(wsql, "sort time") / n,
        "dedup.spill_bytes": sum(t.spill_bytes for t in wtasks) / n,
        "dedup.task_skew": statistics.median(skews) if skews else 0.0,
        "dedup.survivor_ratio": metric(wsql, "number of output rows", "Execute InsertIntoHadoopFsRelationCommand")
        / max(1, events),
        "extract.python_s": metric(asql, "time to run Python workers") / n,
        "extract.boot_s": (
            metric(asql, "time to start Python workers") + metric(asql, "time to initialize Python workers")
        )
        / n,
        "extract.bytes_sent": metric(asql, "data sent to Python workers") / n,
        "extract.bytes_returned": metric(asql, "data returned from Python workers") / n,
        "extract.rows": metric(asql, "number of output rows", "ArrowEvalPython") / n,
        "lake.commit_driver_s": _mean(
            _idle_s(m, merge_intervals((j.submit_ms, j.end_ms or j.submit_ms) for j in ix.jobs([m]))) for m in merges
        ),
        "lake.files_written": metric(msql, "number of written files") / n,
        "lake.bytes_written": metric(msql, "written output") / n,
        "lake.folds": _mean(it["folds"] for it in iterations),
        "lake.generations_max": max(it["generations_max"] for it in iterations),
        "lake.space_amp": _mean(it["space_amp"] for it in iterations),
        "lake.scan_s": _median(s["end"] - s["start"] for s in scans),
        "lake.lookup_p50_s": _median(s["end"] - s["start"] for s in lookups),
        "lake.read_shuffle_bytes": sum(t.shuffle_bytes for t in tasks_of(log, ix.jobs(scans))) / max(1, len(scans)),
        "lake.lookup_files_read": metric(sql_metrics(log, ix.jobs(lookups)), "number of files read")
        / max(1, len(lookups)),
        "lake.compact_s": _median(s["end"] - s["start"] for s in compacts),
        "lake.compact_bytes_written": metric(sql_metrics(log, ix.jobs(compacts)), "written output")
        / max(1, len(compacts)),
        "state.put_s": _mean(s["end"] - s["start"] for s in ix.named("state.put")),
        "jvm.gc_s": gc_s,
        "cpu.busy_frac": cpu_ns / 1e9 / max(1e-9, (window[1] - window[0]) * nproc),
    }
