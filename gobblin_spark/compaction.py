"""Re-compaction trigger conditions — WHEN to run ``SnapshotTable.compact()``
(≈ gobblin-compaction/.../conditions/RecompactionConditionBasedOnRatio.java,
…BasedOnDuration.java, …BasedOnFileCount.java: the reference re-compacts a
dataset when late-arriving data crosses a ratio, enough time passed, or the
directory fragments into too many files).

Mapped onto the snapshot-table model, all three are readable straight off the
manifest — no data scan:

- ratio     → tombstone/late-delta ratio: rows applied since the last
              compaction vs rows at the last compaction (from the cumulative
              ``partition_counts`` lineage counters);
- duration  → commits since the last compaction (version distance —
              deterministic, no wall clock);
- file count→ fragmentation: distinct data-file generations referenced per
              bucket and total files across referenced dirs.

An optional exact tombstone ratio is an opt-in scan (column-pruned boolean
aggregate) for callers that want the precise trigger Gobblin's ratio
condition computes from record counts."""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import functions as F

from .lake import SnapshotTable


@dataclass(frozen=True)
class RecompactionConditions:
    """Any satisfied condition triggers re-compaction (the reference ORs its
    condition chain). ``None`` disables a condition."""

    max_applied_ratio: float | None = 0.3  # rows since compaction / rows at compaction
    max_versions: int | None = 20  # commits since the last compaction
    max_files_per_bucket: int | None = 8  # parquet files under one bucket's dirs
    max_tombstone_ratio: float | None = None  # opt-in: requires a scan


def _bucket_file_stats(table: SnapshotTable) -> tuple[int, int]:
    """(max files under any bucket's referenced entries, total referenced
    files) — read straight off the manifest, which records per-bucket file
    counts at commit time (``lake._bucket_dir_stats``). NO filesystem
    access here: at 10^6 buckets a listdir-per-bucket trigger evaluation is
    a driver-side metadata scan of the whole table; the manifest numbers are
    O(1) to read and exactly as fresh as the commit they rode in on.
    Entries from pre-file-count manifests default to 1 file."""
    m = table.manifest()
    max_files = total = 0
    for entry in m["buckets"].values():
        entries = entry if isinstance(entry, list) else [entry]
        n = sum(int(e.get("files", 1)) for e in entries)
        max_files = max(max_files, n)
        total += n
    return max_files, total


def recompaction_due(
    table: SnapshotTable, conditions: RecompactionConditions | None = None
) -> dict:
    """Evaluate the condition chain; returns {'due': bool, 'reasons': [...],
    'stats': {...}}. Manifest-only unless ``max_tombstone_ratio`` is set."""
    c = conditions or RecompactionConditions()
    props = table.properties
    reasons: list[str] = []

    last_version = int(props.get("last_compaction_version", 0))
    last_rows = int(props.get("last_compaction_rows", 0))
    applied = sum(int(v) for v in props.get("partition_counts", {}).values())
    applied_at_compaction = int(props.get("last_compaction_applied", 0))
    since = applied - applied_at_compaction

    if c.max_applied_ratio is not None and last_rows > 0:
        ratio = since / last_rows
        if ratio > c.max_applied_ratio:
            reasons.append(f"applied_ratio {ratio:.3f} > {c.max_applied_ratio}")
    elif c.max_applied_ratio is not None and last_rows == 0 and since > 0:
        reasons.append("never compacted with data applied")

    version_gap = table.version - last_version
    if c.max_versions is not None and version_gap > c.max_versions:
        reasons.append(f"versions_since_compaction {version_gap} > {c.max_versions}")

    max_files, total_files = _bucket_file_stats(table)
    if c.max_files_per_bucket is not None and max_files > c.max_files_per_bucket:
        reasons.append(f"files_per_bucket {max_files} > {c.max_files_per_bucket}")

    tombstone_ratio = None
    if c.max_tombstone_ratio is not None:
        agg = (
            table.read(include_hidden=True)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("_deleted").cast("long")).alias("d"),
            )
            .first()
        )
        n, d = int(agg["n"] or 0), int(agg["d"] or 0)
        tombstone_ratio = (d / n) if n else 0.0
        if tombstone_ratio > c.max_tombstone_ratio:
            reasons.append(
                f"tombstone_ratio {tombstone_ratio:.3f} > {c.max_tombstone_ratio}"
            )

    return {
        "due": bool(reasons),
        "reasons": reasons,
        "stats": {
            "versions_since_compaction": version_gap,
            "applied_since_compaction": since,
            "rows_at_last_compaction": last_rows,
            "max_files_per_bucket": max_files,
            "total_files": total_files,
            "tombstone_ratio": tombstone_ratio,
        },
    }


def compact_if_due(
    table: SnapshotTable, conditions: RecompactionConditions | None = None
) -> dict:
    """The maintenance loop body: evaluate conditions, compact when due, and
    stamp the compaction bookkeeping (version / visible rows / cumulative
    applied count) the next evaluation reads."""
    verdict = recompaction_due(table, conditions)
    if not verdict["due"]:
        return {**verdict, "compacted": False}
    n_rows = table.read_visible().count()
    applied = sum(int(v) for v in table.properties.get("partition_counts", {}).values())
    result = table.compact(
        properties={
            "last_compaction_version": table.version + 1,
            "last_compaction_rows": n_rows,
            "last_compaction_applied": applied,
        }
    )
    return {**verdict, "compacted": True, **result}
