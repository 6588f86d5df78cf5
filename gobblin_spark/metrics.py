"""Per-batch metrics + lineage (≈ KafkaExtractorStatsTracker /
gobblin-metrics: records-in/out meters, per-partition processed counts;
reference gobblin-modules/gobblin-kafka-common/.../kafka/
KafkaExtractorStatsTracker.java:53-78).

Implemented with ``pyspark.sql.Observation`` — counters ride the batch action
itself (no extra pass over the data), the Spark-native analog of Gobblin's
in-task meters.
"""

from __future__ import annotations

from collections import deque

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def observe_batch(df: DataFrame, name: str) -> tuple[DataFrame, Observation]:
    """Attach read-side counters: rows, bytes, per-op breakdown."""
    obs = Observation(name)
    # patch-mode changelogs need not carry an html column at all
    bytes_read = (
        F.coalesce(F.sum(F.octet_length("html")), F.lit(0))
        if "html" in df.columns
        else F.lit(0)
    )
    df = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows_read"),
        F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).alias("deletes_read"),
        bytes_read.alias("bytes_read"),
        F.min("log_offset").alias("min_offset"),
        F.max("log_offset").alias("max_offset"),
    )
    return df, obs


def observe_updates(df: DataFrame, name: str) -> tuple[DataFrame, Observation]:
    """Attach write-side counters on the deduped update set."""
    obs = Observation(name)
    df = df.observe(
        obs,
        F.count(F.lit(1)).alias("keys_written"),
        F.sum(F.when(F.col("_deleted"), 1).otherwise(0)).alias("tombstones"),
    )
    return df, obs


def partition_lag(available: dict[int, int], committed: dict[int, int]) -> dict[str, int]:
    """Per-partition consumer lag: the available high watermark minus the
    committed one (≈ Kafka consumer lag; the reference derives the same
    number from KafkaExtractorStatsTracker's per-partition high watermarks,
    KafkaExtractorStatsTracker.java:53,67-78). A partition the plan has
    never seen reports the full backlog (committed defaults to -1)."""
    return {
        str(p): max(0, int(hi) - int(committed.get(p, -1)))
        for p, hi in sorted(available.items())
    }


# Records ``StatsTracker.history`` keeps: a streaming tail commits forever,
# so the in-memory history holds only the newest ones (reporters see all).
HISTORY_LIMIT = 1000


class StatsTracker:
    """Operational stats surface: per-batch rates + lag, with pluggable
    reporters called once per COMMIT (the reference's pluggable
    gobblin-metrics reporters, invoked at task-commit boundaries).

    A reporter is any callable taking the batch's stats record (a plain
    dict); exceptions in reporters are swallowed after being recorded —
    an observability sink must never fail the data path. ``history`` keeps
    the newest ``HISTORY_LIMIT`` records."""

    def __init__(self):
        self.history: deque[dict] = deque(maxlen=HISTORY_LIMIT)
        self.reporters: list = []
        self.reporter_errors: list[str] = []

    def add_reporter(self, fn) -> None:
        self.reporters.append(fn)

    def record(self, rec: dict) -> None:
        self.history.append(rec)
        for fn in self.reporters:
            try:
                fn(rec)
            except Exception as e:  # noqa: BLE001 — isolate the data path
                self.reporter_errors.append(f"{type(e).__name__}: {e}")

    @property
    def last(self) -> dict | None:
        return self.history[-1] if self.history else None


def batch_rates(metrics: dict, wall_sec: float) -> dict:
    """events/sec + bytes/sec for one committed batch."""
    wall = max(wall_sec, 1e-9)
    out = {}
    n = metrics.get("offsets_applied", metrics.get("rows_read"))
    if n is not None:
        out["events_per_sec"] = round(int(n) / wall, 1)
    if metrics.get("bytes_read") is not None:
        out["bytes_per_sec"] = round(int(metrics["bytes_read"]) / wall, 1)
    return out


def lineage_entry(batch_id: str, ranges, metrics: dict, snapshot_version: int) -> dict:
    """One lineage record per commit: which offset ranges went into which
    snapshot (≈ GMCE topicPartitionOffsetsRange carried into the Iceberg
    commit, gobblin-iceberg/.../writer/IcebergMetadataWriter.java:384-434)."""
    return {
        "batch_id": batch_id,
        "ranges": {str(r.partition): [r.low, r.high] for r in ranges},
        "metrics": metrics,
        "snapshot_version": snapshot_version,
    }
