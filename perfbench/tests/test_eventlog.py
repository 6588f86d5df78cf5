"""Event-log parser and span attribution, against a small recorded log.

``data/eventlog_small.jsonl`` was recorded from a traced ``local[4]`` session
(``spans.Tracer`` installed, uncompressed event log): ``CdcEngine.run`` of a
400-event, 2-partition changelog in two delta batches into a 2-bucket table,
then a full scan. Events and fields the parser does not read were dropped.
``data/spans_small.json`` holds the spans of that session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
import layers  # noqa: E402
from run import tail_value  # noqa: E402
from spans import SPAN_PROPERTY, Tracer  # noqa: E402

LOG = os.path.join(HERE, "data", "eventlog_small.jsonl")
SPANS = os.path.join(HERE, "data", "spans_small.json")


def _fixture():
    with open(SPANS) as f:
        return eventlog.parse(LOG), json.load(f)


def test_jobs_carry_their_span_and_execution():
    log, spans = _fixture()
    by_name = {s["id"]: s["name"] for s in spans}
    got = {j.id: (by_name.get(j.span), j.execution) for j in log.jobs.values()}
    assert got == {
        0: (None, 0),  # generation, before tracing
        1: (None, 0),
        2: ("phase.apply", None),  # CdcEngine.run reading the changelog schema
        3: ("lake.merge", 1),
        4: ("lake.merge", 1),
        5: ("lake.merge", 2),
        6: ("lake.merge", 2),
        7: ("phase.scan", 3),
        8: ("phase.scan", 3),
    }


def test_sql_accumulators_are_named_and_summed():
    log, spans = _fixture()
    ix = layers.SpanIndex(spans, log)
    first_merge = min(ix.named("lake.merge"), key=lambda s: s["start"])
    sql = eventlog.sql_metrics(log, ix.jobs([first_merge]))
    # task-side updates
    assert sql[("ArrowEvalPython", "number of output rows")] == 79
    assert sql[("Exchange", "shuffle records written")] == 200
    # driver-side updates of the merge's execution
    assert sql[("Scan parquet", "number of files read")] == 2
    assert sql[("Execute InsertIntoHadoopFsRelationCommand", "number of written files")] == 2
    # timings arrive in ms and are reported in seconds
    assert 0 < sql[("ArrowEvalPython", "time to run Python workers")] < 60


def test_per_layer_from_the_fixture():
    log, spans = _fixture()
    window = (min(s["start"] for s in spans), max(s["end"] for s in spans))
    it = {"events": 400, "folds": 0, "generations_max": 2, "space_amp": 1.5}
    got = layers.per_layer(log, spans, [it], window, gc_s=0.0, nproc=4)
    assert got["engine.jobs_per_batch"] == 2.0
    assert got["engine.tasks_per_batch"] == 4.0
    assert got["planner.footers_read"] == 2.0
    assert got["scan.files_read"] == 2.0
    assert got["scan.rows_read"] == 400.0  # each batch scans every row of its files
    assert got["dedup.shuffle_records"] == 200.0
    assert got["dedup.survivor_ratio"] == (79 + 81) / 400  # keys written by the two batches
    assert got["extract.rows"] == 80.0
    assert got["lake.files_written"] == 2.0
    assert got["streaming.islands_s"] == 0.0  # no stream in this log
    assert 0 < got["lake.commit_driver_s"] < got["engine.driver_only_s"] + 1
    assert got["lake.read_shuffle_bytes"] > 0


def test_a_stage_belongs_to_the_first_job_that_lists_it():
    log = eventlog.EventLog()
    for jid, stages in ((0, [0, 1]), (1, [1, 2])):
        eventlog._apply(
            log,
            {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": jid, "Stage IDs": stages,
             "Properties": {SPAN_PROPERTY: str(jid + 10)}},
        )
    assert log.stage_job == {0: 0, 1: 0, 2: 1}
    assert [log.jobs[j].span for j in (0, 1)] == [10, 11]


def test_interval_union_and_coverage():
    ivs = eventlog.merge_intervals([(5, 20), (0, 10), (30, 40)])
    assert ivs == [(0, 20), (30, 40)]
    assert eventlog.covered_ms(ivs, 15, 35) == 10


def test_tracer_tags_the_innermost_span_and_restores_the_parent():
    calls = []

    class FakeSc:
        def setLocalProperty(self, key, value):
            calls.append((key, value))

    t = Tracer(FakeSc())
    with t.span("outer") as outer:
        with t.span("inner") as inner:
            assert inner["parent"] == outer["id"]
    assert [v for _, v in calls] == [str(outer["id"]), str(inner["id"]), str(outer["id"]), None]
    assert all(s["end"] >= s["start"] for s in t.spans)


def test_tracer_wrap_and_uninstall():
    class Box:
        def f(self, x):
            return x + 1

    t = Tracer()
    orig = Box.f
    t.wrap(Box, "f", "box.f", on_call=lambda sp, a, k: sp.update(arg=a[1]))
    assert Box().f(2) == 3
    assert t.spans[0]["name"] == "box.f" and t.spans[0]["arg"] == 2
    t.uninstall()
    assert Box.f is orig


def test_tail_value_needs_ten_samples_beyond():
    assert tail_value([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    xs = [float(i) for i in range(20)]
    assert tail_value(xs) == (9.0, 50.0, 20)
