"""Operational metrics surface: per-batch rates, per-partition lag, and
pluggable reporters fired at commit (≈ KafkaExtractorStatsTracker.java:53,
67-78 — records/sec + per-partition high-watermark tracking — and
gobblin-metrics' pluggable reporters)."""

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
    r = batch_rates({"offsets_applied": 1000, "bytes_read": 2000}, 2.0)
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
    # the same numbers ride the committed lineage (atomic with the data)
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
