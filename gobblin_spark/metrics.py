"""Per-commit metrics + lineage (≈ KafkaExtractorStatsTracker /
gobblin-metrics: records-in/out meters, per-partition processed counts;
reference gobblin-modules/gobblin-kafka-common/.../kafka/
KafkaExtractorStatsTracker.java:53-78).

One counter path for batch and streaming commits alike, with no pass over
the data of its own: ``offsets_applied`` comes from the commit's offset
ranges, and ``files_written``/``bytes_written``/``rows_written`` from the
files the commit wrote (``SnapshotTable.merge`` reads them off the directory
walk and the parquet footers). What a commit writes depends on the merge
mode: a delta commit writes only the batch's LWW survivors (tombstones
included), so ``offsets_applied / rows_written`` is its duplicate factor; a
rewrite commit writes every row of the buckets it touches, so there
``rows_written``, ``bytes_written`` and ``bytes_per_sec`` measure those
buckets, not the batch. The counters are recorded after the commit
lands — in the stats history, the run results and the state store — never
in the committed manifest, which carries only the lineage.
"""

from __future__ import annotations

from collections import deque


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
    """events/sec (offsets applied) + bytes/sec (bytes written) for one
    committed batch; in rewrite mode the bytes are the rewritten buckets'."""
    wall = max(wall_sec, 1e-9)
    out = {}
    if metrics.get("offsets_applied") is not None:
        out["events_per_sec"] = round(int(metrics["offsets_applied"]) / wall, 1)
    if metrics.get("bytes_written") is not None:
        out["bytes_per_sec"] = round(int(metrics["bytes_written"]) / wall, 1)
    return out


def lineage_entry(batch_id: str, ranges) -> dict:
    """One lineage record per commit: which offset ranges went into it
    (≈ GMCE topicPartitionOffsetsRange carried into the Iceberg commit,
    gobblin-iceberg/.../writer/IcebergMetadataWriter.java:384-434). It holds
    only what is known before the commit; the snapshot it landed in is the
    manifest's own ``version``."""
    return {
        "batch_id": batch_id,
        "ranges": {str(r.partition): [r.low, r.high] for r in ranges},
    }
