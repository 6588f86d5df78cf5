"""Operational metrics surface: per-batch rates, per-partition lag, and
pluggable reporters fired at commit (≈ KafkaExtractorStatsTracker.java:53,
67-78 — records/sec + per-partition high-watermark tracking — and
gobblin-metrics' pluggable reporters)."""

import glob
import os

import pandas as pd
import pytest
from pyspark.sql import types as T

from gobblin_spark.datagen import synth_changelog, write_changelog
from gobblin_spark.engine import CdcEngine
from gobblin_spark.lake import SnapshotTable
from gobblin_spark.metrics import (
    HISTORY_LIMIT,
    StatsTracker,
    batch_rates,
    partition_lag,
)
from gobblin_spark.streaming import drain

# the counters every commit records, in run() and drain() alike
COUNTERS = {
    "offsets_applied",
    "rows_written",
    "bytes_written",
    "files_written",
    "quality_errors",
    "wall_sec",
    "events_per_sec",
    "bytes_per_sec",
}
LAG_KEYS = {"partition_lag", "total_lag"}


def _table(spark, tmp_path, name="t"):
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("html", T.BinaryType()),
            T.StructField("lang", T.StringType()),
            T.StructField("content_length", T.IntegerType()),
        ]
    )
    return SnapshotTable.create(
        spark, str(tmp_path / name), schema, key="url", n_buckets=4
    )


@pytest.fixture(scope="module")
def changelog_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("metrics") / "changelog")
    write_changelog(synth_changelog(spark, 600, n_partitions=4), p)
    return p


def test_partition_lag_math():
    assert partition_lag({0: 99, 1: 10}, {0: 99}) == {"0": 0, "1": 11}
    # never-planned partition reports the full backlog (committed = -1)
    assert partition_lag({2: 4}, {}) == {"2": 5}


def test_batch_rates_math():
    r = batch_rates({"offsets_applied": 1000, "bytes_written": 2000}, 2.0)
    assert r == {"events_per_sec": 500.0, "bytes_per_sec": 1000.0}
    assert batch_rates({}, 1.0) == {}


def test_history_keeps_newest_records():
    stats = StatsTracker()
    seen = []
    stats.add_reporter(seen.append)
    n = HISTORY_LIMIT + 7
    for i in range(n):
        stats.record({"i": i})
    assert len(stats.history) == HISTORY_LIMIT
    assert stats.history[0] == {"i": 7}
    assert stats.last == {"i": n - 1}
    assert len(seen) == n  # reporters still see every record


def test_engine_records_rates_and_lag(spark, tmp_path, changelog_path):
    t = _table(spark, tmp_path)
    eng = CdcEngine(spark, t, job_id="m1", extract=False)
    results = eng.run(changelog_path)
    assert eng.stats.history, "each commit must record a stats entry"
    rec = eng.stats.last
    assert rec["events_per_sec"] > 0
    assert rec["bytes_per_sec"] > 0
    # fully replayed: every partition's lag is zero
    assert rec["total_lag"] == 0
    assert set(rec["partition_lag"]) == {"0", "1", "2", "3"}
    assert all(v == 0 for v in rec["partition_lag"].values())
    # the run result carries the same numbers as the stats record
    assert results[-1]["events_per_sec"] == rec["events_per_sec"]


def test_lag_reflects_remaining_backlog(spark, tmp_path, changelog_path):
    t = _table(spark, tmp_path)
    eng = CdcEngine(spark, t, job_id="m2", extract=False)
    eng.run(changelog_path, max_events_per_batch=200, max_batches=1)
    rec = eng.stats.last
    assert rec["total_lag"] > 0, "one batch of a 600-event backlog leaves lag"
    committed = sum(v + 1 for v in eng.committed_watermarks().values())
    assert rec["total_lag"] == 600 - committed
    # draining the backlog brings lag to zero
    eng.run(changelog_path)
    assert eng.stats.last["total_lag"] == 0


def test_reporters_fire_per_commit_and_never_fail_the_job(
    spark, tmp_path, changelog_path
):
    t = _table(spark, tmp_path)
    stats = StatsTracker()
    seen = []
    stats.add_reporter(seen.append)

    def bad_reporter(rec):
        raise RuntimeError("sink down")

    stats.add_reporter(bad_reporter)
    eng = CdcEngine(spark, t, job_id="m3", extract=False, stats=stats)
    results = eng.run(changelog_path, max_events_per_batch=300)
    committed = [r for r in results if not r.get("skipped")]
    assert len(seen) == len(committed) == len(stats.history)
    assert all("events_per_sec" in r and "batch_id" in r for r in seen)
    # the broken reporter was isolated, recorded, and did not fail the run
    assert len(stats.reporter_errors) == len(committed)
    assert "sink down" in stats.reporter_errors[0]


def test_run_and_drain_record_the_same_counters(spark, tmp_path, changelog_path):
    """A batch commit (run) and a micro-batch commit (drain) take one counter
    path, so their stats records carry the same keys. The lag keys are the
    one exception: they are specific to run(), whose plan knows each
    partition's available high; a file tail has no available high."""
    ran = CdcEngine(spark, _table(spark, tmp_path, "ran"), job_id="m4", extract=False)
    ran.run(changelog_path)
    drained = CdcEngine(spark, _table(spark, tmp_path, "drained"), job_id="m5", extract=False)
    drain(drained, changelog_path, str(tmp_path / "ckpt"))
    run_rec, drain_rec = ran.stats.last, drained.stats.last
    assert COUNTERS <= set(run_rec)
    assert set(drain_rec) == set(run_rec) - LAG_KEYS
    assert drain_rec["offsets_applied"] == run_rec["offsets_applied"] == 600
    assert drain_rec["rows_written"] == run_rec["rows_written"] > 0


def test_delta_commit_counts_its_written_files(spark, tmp_path, changelog_path):
    """A delta commit's rows_written is its LWW survivors (tombstones
    included): one row per distinct url of the applied ranges. files_written
    and bytes_written are what the commit's data dir holds."""
    t = _table(spark, tmp_path)
    eng = CdcEngine(spark, t, job_id="m6", extract=False, merge_mode="delta")
    [res] = eng.run(changelog_path, max_events_per_batch=400, max_batches=1)
    clog = pd.read_parquet(changelog_path, columns=["url", "log_partition", "log_offset"])
    part = clog["log_partition"].astype(int)
    applied = pd.Series(False, index=clog.index)
    for p, (low, high) in t.properties["last_lineage"]["ranges"].items():
        applied |= (part == int(p)) & (clog["log_offset"] > low) & (clog["log_offset"] <= high)
    assert res["offsets_applied"] == applied.sum() < len(clog)
    assert res["rows_written"] == clog.loc[applied, "url"].nunique()

    m = t.manifest()
    [data] = {e["data"] for b in m["buckets"] for e in t._bucket_entries(m["buckets"][b])}
    files = glob.glob(os.path.join(t.root, data, "_bucket=*", "*.parquet"))
    assert res["files_written"] == len(files) > 0
    assert res["bytes_written"] == sum(os.path.getsize(f) for f in files)
    assert eng.stats.last["rows_written"] == res["rows_written"]


def test_committed_lineage_reads_back_with_a_branch(spark, tmp_path, changelog_path):
    """The committed lineage holds only what its commit knows: a reopened
    table reads back the in-memory copy. With a branch present, version
    numbers skip those the branch took, so the commit's snapshot is the
    manifest's own version, not the head + 1 seen before the commit."""
    t = _table(spark, tmp_path)
    t.create_branch("wap").update_properties({"audit": "pending"})
    eng = CdcEngine(spark, t, job_id="m7", extract=False, merge_mode="delta")
    [res] = eng.run(changelog_path)
    reopened = SnapshotTable(spark, t.root)
    assert reopened.version == res["version"] == eng.stats.last["snapshot_version"] == 2
    lineage = reopened.properties["last_lineage"]
    assert lineage == t.properties["last_lineage"]
    assert lineage == {
        "batch_id": res["batch_id"],
        "ranges": {str(p): [-1, hi] for p, hi in eng.committed_watermarks().items()},
    }
