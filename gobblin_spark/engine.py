"""The run loop: plan → extract/convert → quality-check → LWW dedup → fenced
MERGE → checkpoint (≈ AbstractJobLauncher.launchJob,
gobblin-runtime/.../AbstractJobLauncher.java:433-554, re-expressed as one
DataFrame expression chain per planned batch).

Exactly-once (SURVEY §3.3): the applied-offset watermarks are committed inside
the same atomic manifest swap as the data (table properties), so

- a crash before commit leaves no trace → the batch replays;
- a crash after commit → the replayed batch is fenced out (ranges ≤ committed
  watermark ⇒ skip, ≈ IcebergMetadataWriter.java:1098-1121);
- even a *partially* overlapping replay is safe, because the MERGE guard
  (strictly-newer (warc_ts, log_offset)) makes re-applying any already-applied
  event a no-op.

The state store (FsStateStore analog) is a fast-path mirror; the table's own
properties are authoritative and state is re-derived from them when the store
is missing or tampered with.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import lww_latest
from .extract import extract_text_col
from .lake import SnapshotTable
from .metrics import StatsTracker, batch_rates, lineage_entry, partition_lag
from .planner import (
    _PART_DIR_RE,
    OffsetRange,
    _local_path,
    discover_watermarks,
    plan_batches,
    range_predicate,
)
from .state import StateStore

# changelog bookkeeping columns that do not land in the target table
_META_COLS = ("op", "log_partition", "log_offset")


def _committed_sql(committed: dict[int, int] | None) -> str:
    """SQL for a row's committed watermark: ``committed[log_partition]``,
    -1 for a partition with nothing applied yet. One ``F.expr`` string, not
    a ``create_map`` of literal Columns: every Column operation is a py4j
    round trip, and a 32-partition map costs 64 of them per micro-batch."""
    if not committed:
        return "-1L"
    kv = ", ".join(f"{int(p)}L, {int(v)}L" for p, v in sorted(committed.items()))
    return f"coalesce(element_at(map({kv}), CAST(log_partition AS BIGINT)), -1L)"


# a row with no partition or no offset is in no run, so it is never applied
_HAS_OFFSET = "log_partition IS NOT NULL AND log_offset IS NOT NULL"


def offset_islands(
    batch_df: DataFrame, committed: dict[int, int] | None = None
) -> DataFrame:
    """Gaps-and-islands over a batch's ``(log_partition, log_offset)`` pairs:
    one row per contiguous run of offsets above the committed watermark
    (``log_partition, lo, hi``). This is the committable-prefix primitive of
    the fine-grained tracker (≈ FineGrainedWatermarkTracker.java:181-200 —
    per-range acks, watermark = largest contiguous acked prefix): the engine
    advances the watermark over the island that starts at ``committed+1``
    and carries the disconnected remainder as ``pending_ranges``.

    A missing partition entry in ``committed`` means nothing applied yet
    (watermark -1). Duplicate offsets collapse; rows with a NULL partition
    or offset are skipped. This window sort is the exact reference;
    ``offset_runs`` and ``file_offset_runs`` prove most partitions
    contiguous without it."""
    from pyspark.sql import Window

    w = Window.partitionBy("log_partition").orderBy("log_offset")
    return (
        batch_df.select("log_partition", "log_offset")
        .filter(F.expr(f"{_HAS_OFFSET} AND log_offset > {_committed_sql(committed)}"))
        .dropDuplicates(["log_partition", "log_offset"])
        .withColumn("_grp", F.col("log_offset") - F.row_number().over(w))
        .groupBy("log_partition", "_grp")
        .agg(F.min("log_offset").alias("lo"), F.max("log_offset").alias("hi"))
        .select("log_partition", "lo", "hi")
    )


def offset_runs(batch_df: DataFrame, committed: dict[int, int]) -> list[tuple[int, int, int]]:
    """``offset_islands``' runs as ``(log_partition, lo, hi)`` tuples from
    ONE aggregate: per partition the min, max and distinct count of the
    offsets above the committed watermark. A partition whose new offsets
    span exactly their distinct count (``hi - lo + 1 == n``) is one run;
    only a partition with a gap pays the window sort. The path for a batch
    that is not a list of local files (the Kafka tail, object stores)."""
    summary = (
        batch_df.where(_HAS_OFFSET)
        .selectExpr(
            "log_partition",
            f"CASE WHEN log_offset > {_committed_sql(committed)} THEN log_offset END AS _o",
        )
        .groupBy("log_partition")
        .agg(F.expr("min(_o) AS lo"), F.expr("max(_o) AS hi"), F.expr("count(DISTINCT _o) AS n"))
        .collect()
    )
    runs: list[tuple[int, int, int]] = []
    gapped: list[int] = []
    for r in summary:
        if r["lo"] is None:
            continue  # wholly fenced
        if r["hi"] - r["lo"] + 1 == r["n"]:
            runs.append((int(r["log_partition"]), r["lo"], r["hi"]))
        else:
            gapped.append(int(r["log_partition"]))
    if gapped:
        islands = offset_islands(batch_df.filter(F.col("log_partition").isin(gapped)), committed)
        runs += [(int(r["log_partition"]), r["lo"], r["hi"]) for r in islands.collect()]
    return sorted(runs)


def _file_offsets(path: str):
    """One local parquet file's ``(log_partition, log_offset)`` as two int64
    arrays, rows with a NULL in either dropped. A file under a
    ``log_partition=N/`` dir takes N from the path, as Spark's partition
    discovery does (the innermost such dir wins)."""
    import numpy as np
    import pyarrow.parquet as pq

    dirs = _PART_DIR_RE.findall(path)
    cols = ["log_offset"] if dirs else ["log_partition", "log_offset"]
    t = pq.ParquetFile(path).read(columns=cols).drop_null()
    off = t.column("log_offset").to_numpy().astype(np.int64)
    if dirs:
        return np.full(len(off), int(dirs[-1]), np.int64), off
    return t.column("log_partition").to_numpy().astype(np.int64), off


def file_offset_runs(
    files: list[str], committed: dict[int, int]
) -> list[tuple[int, int, int]] | None:
    """``offset_islands``' runs proved on the driver from the batch's own
    files: their ``log_partition``/``log_offset`` columns are read with
    pyarrow, the offsets above the committed watermark are made unique per
    partition, and the sorted pairs split wherever the partition changes or
    the offset steps by more than one. No Spark job. None when a file is not
    local (the caller runs ``offset_runs``)."""
    import numpy as np

    paths = [_local_path(f) for f in files]
    if None in paths:
        return None
    if not paths:
        return []
    parts, offs = zip(*map(_file_offsets, paths))
    p, o = np.concatenate(parts), np.concatenate(offs)
    keys, inv = np.unique(p, return_inverse=True)
    wm = np.array([committed.get(int(k), -1) for k in keys], np.int64)
    new = o > wm[inv]
    pairs = np.unique(np.stack([p[new], o[new]], axis=1), axis=0)
    if not len(pairs):
        return []
    pp, oo = pairs[:, 0], pairs[:, 1]
    cuts = np.flatnonzero((np.diff(pp) != 0) | (np.diff(oo) != 1)) + 1
    starts, ends = np.r_[0, cuts], np.r_[cuts - 1, len(pp) - 1]
    return [(int(pp[a]), int(oo[a]), int(oo[b])) for a, b in zip(starts, ends)]


class CdcEngine:
    def __init__(
        self,
        spark: SparkSession,
        table: SnapshotTable,
        state_store: StateStore | None = None,
        job_id: str = "cdc",
        errors_path: str | None = None,
        extract: bool = True,
        reset_policy: str = "error",
        merge_mode: str = "rewrite",
        stats: StatsTracker | None = None,
        lww_strategy: str = "repartition",
        fold: str = "lww",
        patch_cols: list[str] | None = None,
    ):
        self.spark = spark
        self.table = table
        self.state = state_store
        self.job_id = job_id
        self.errors_path = errors_path
        self.extract = extract
        # operational stats: per-batch rates + lag, pluggable reporters
        # fired once per commit (None = still tracked, just not exported)
        self.stats = stats or StatsTracker()
        # available high watermarks from the last plan — the lag baseline
        self._last_available: dict[int, int] | None = None
        # how to resume when the committed watermark falls outside the
        # changelog's available offset window (truncation / retention expiry)
        self.reset_policy = reset_policy
        # "rewrite": copy-on-write merge (shuffle-free reads); "delta":
        # merge-on-read generation appends — O(batch) commits for sustained
        # high-frequency ingest, folded back by compaction (see lake.merge)
        self.merge_mode = merge_mode
        # "repartition" (default): ONE exchange of the raw rows, on _bucket
        # (table.exchange_width() wide); the LWW groupBy, the rewrite-mode
        # MERGE join and the bucketed write ride it. "combine": map-side
        # partial LWW before the exchange (classic combiner) — sheds the
        # duplicate factor from the shuffle at the cost of copying payloads
        # through the partial-agg hash map and a second (deduped) exchange.
        # MEASURED on the 10M-event replay (dup factor ~4, ~600B payloads,
        # tmpfs shuffle): repartition 44.6s vs combine 46.8-47.9s at
        # local[4] — buffer churn outweighs the byte savings here; combine
        # wins when the duplicate factor is large or the shuffle fabric (real
        # network) is slower than memcpy.
        if lww_strategy not in ("combine", "repartition"):
            raise ValueError(f"unknown lww_strategy: {lww_strategy}")
        self.lww_strategy = lww_strategy
        # fold="patch": partial-image changelogs (MySQL binlog-row-image=
        # minimal, Debezium ExtractNewRecordState null-for-unchanged — the
        # reference's pluggable delta-field comparator slot,
        # AvroKeyDedupReducer.java:82-93). Each batch folds to per-column
        # last-non-null-after-tombstone candidates (operators/patch.py, one
        # skew-safe struct-max aggregate), joins ONCE against the current
        # visible state of the affected buckets, and emits FULL rows — which
        # then ride the exact same fenced MERGE / watermark / commit path as
        # fold="lww". CONTRACT: a key's versions must be monotone in its log
        # offsets (true of binlog/WAL feeds — the log position IS the
        # version). Under that contract the result is independent of the
        # batch split; violating it can lose an out-of-order patch that a
        # full-history fold would keep, because applied batches store only
        # final column values, not per-column versions.
        if fold not in ("lww", "patch"):
            raise ValueError(f"unknown fold: {fold}")
        if fold == "patch" and not patch_cols:
            raise ValueError("fold='patch' requires patch_cols")
        self.fold = fold
        self.patch_cols = list(patch_cols or [])

    # ------------------------------------------------------------ watermarks
    def committed_watermarks(self) -> dict[int, int]:
        """Authoritative committed high watermarks, from the table's own
        properties (survives loss of the state store)."""
        wm = self.table.properties.get("watermarks", {})
        return {int(k): int(v) for k, v in wm.items()}

    # ----------------------------------------------------------------- plan
    def plan(
        self,
        changelog: DataFrame,
        max_events_per_batch: int | None = None,
        source_path: str | None = None,
    ) -> list[list[OffsetRange]]:
        earliest, available = discover_watermarks(changelog, source_path)
        self._last_available = available
        return plan_batches(
            available,
            self.committed_watermarks(),
            max_events_per_batch,
            earliest=earliest,
            reset_policy=self.reset_policy,
        )

    # ---------------------------------------------------------------- apply
    def apply_batch(
        self, changelog: DataFrame, ranges: list[OffsetRange], batch_id: str | None = None
    ) -> dict:
        batch = changelog.filter(range_predicate(ranges))
        return self._apply(batch, ranges, batch_id)

    def apply_stream_batch(
        self, batch_df: DataFrame, batch_id: str | None = None, files: list[str] | None = None
    ) -> dict:
        """Apply one micro-batch: a pass of the file tail, or a Kafka
        ``foreachBatch`` call.

        The micro-batch IS the work unit (≈ FlushControlMessage boundary,
        SURVEY §2.11); ranges are derived from the batch's own offsets, and
        rows at offsets ≤ the committed watermark are fenced out. The table
        commit is the only exactly-once state.

        ``files``: the batch's source files. When given and all local, the
        offset runs are proved on the driver from the files themselves
        (``file_offset_runs``), with no Spark job; otherwise one aggregate
        over ``batch_df`` proves them (``offset_runs``). A row whose
        ``log_partition`` or ``log_offset`` is NULL is in no run, so it is
        never applied.

        Stream batches alone never advance a partition whose first offset is
        above 0 (a Kafka topic past its retention, a landing dir that starts
        mid-log): on a fresh table every run waits in ``pending_ranges`` for
        the offsets below it, which never come, so the watermark stays −1
        while the rows are applied and counted. Bootstrap such a log with
        ``run()``, which plans from the log's retention floor; the stream
        batches then extend the committed prefix."""
        committed = self.committed_watermarks()

        # Offset-gap guard (≈ FineGrainedWatermarkTracker.java:181-200 —
        # per-range acks, committable watermark = largest contiguous prefix).
        # Offsets are dense, but with a file-source tail files can be
        # DISCOVERED out of offset order (maxFilesPerTrigger splits, retried
        # uploads), so a micro-batch may carry an offset GAP. Committing
        # max(offset) would fence the late-arriving middle rows out forever —
        # silent data loss. Instead: the batch's new offsets split into
        # applied runs (islands); runs merge with the table's stored
        # ``pending_ranges``; the watermark advances over the contiguous
        # prefix and the disconnected remainder is carried (atomically, in
        # the same commit) until the gap heals.
        runs = None if files is None else file_offset_runs(files, committed)
        if runs is None:
            runs = offset_runs(batch_df, committed)
        if not runs:
            return {"batch_id": batch_id, "skipped": True}

        pending_prop = self.table.properties.get("pending_ranges", {})
        intervals: dict[int, list[tuple[int, int]]] = {}
        for p, v in pending_prop.items():
            intervals[int(p)] = [(int(a), int(b)) for a, b in v]
        # Redelivery guard: offsets already covered by ``pending_ranges`` were
        # applied AND counted by an earlier commit (they sit above the
        # committed watermark only because the gap below them hasn't healed).
        # Subtract them from this batch's runs so a replayed micro-batch
        # applies/counts only NEWLY-covered offsets — otherwise
        # partition_counts double-counts and the completeness gate's
        # applied==expected can never be satisfied for that partition again.
        ranges = []
        for p, lo, hi in runs:
            segs = [(lo, hi)]
            for plo, phi in intervals.get(p, []):
                nxt: list[tuple[int, int]] = []
                for slo, shi in segs:
                    if phi < slo or plo > shi:
                        nxt.append((slo, shi))
                        continue
                    if slo < plo:
                        nxt.append((slo, plo - 1))
                    if shi > phi:
                        nxt.append((phi + 1, shi))
                segs = nxt
            for slo, shi in segs:
                ranges.append(OffsetRange(p, slo - 1, shi))
            intervals.setdefault(p, []).append((lo, hi))
        ranges.sort(key=lambda r: (r.partition, r.low))
        if not ranges:
            # every offset in the batch was already applied by a prior commit
            return {"batch_id": batch_id, "skipped": True}

        wm_caps: dict[int, int] = {}
        new_pending: dict[str, list[list[int]]] = {}
        for p, ivs in intervals.items():
            merged: list[list[int]] = []
            for lo, hi in sorted(ivs):
                if merged and lo <= merged[-1][1] + 1:
                    merged[-1][1] = max(merged[-1][1], hi)
                else:
                    merged.append([lo, hi])
            high = committed.get(p, -1)
            if merged and merged[0][0] <= high + 1:
                high = merged.pop(0)[1]
            wm_caps[p] = high
            if merged:
                new_pending[str(p)] = merged
        batch = batch_df.filter(range_predicate(ranges))
        return self._apply(
            batch,
            ranges,
            batch_id,
            wm_caps=wm_caps,
            extra_props={"pending_ranges": new_pending},
        )

    def _touched_buckets(self, batch: DataFrame, ranges: list[OffsetRange]) -> list[int]:
        """Buckets this batch's valid rows touch, from the scan (column-pruned
        to the url and the quality-policy columns). Large batches touch every
        bucket with near-certainty (coupon collector) — skip the discovery
        job."""
        n_buckets = self.table.n_buckets
        if sum(r.count for r in ranges) >= 64 * n_buckets:
            return list(range(n_buckets))
        return sorted(
            r["_b"]
            for r in batch.select(
                self.table.bucket_expr("url").alias("_b")
            ).distinct().collect()
        )

    def _patch_updates(self, valid: DataFrame, buckets: list[int]) -> DataFrame:
        """fold="patch" batch body: fold partial images to per-column
        last-non-null-after-tombstone candidates (ONE skew-safe struct-max
        aggregate riding the same single bucket exchange as the LWW path),
        left-join the current VISIBLE state of the touched buckets (the prior
        image partial updates must be completed against), and emit full rows
        for the standard fenced MERGE:

          col value = batch candidate        if it sorts after the batch's
                                             last tombstone for the key
                      NULL                   if a tombstone reset the key and
                                             the col was not re-written
                      current table value    otherwise (key not tombstoned
                                             in this batch)
          row version = version of the last event absorbed (live or
                      tombstone) — under the per-key monotone-version
                      contract this strictly exceeds the stored row version
                      whenever the batch carries new events, so the MERGE's
                      strictly-newer guard passes exactly once and an exact
                      replay is a no-op.

        Deletes surface as ``_deleted`` tombstone rows, same as fold="lww".
        Unlike the LWW delta path, patch delta commits must READ the touched
        buckets — a partial image is meaningless without the prior image;
        that read is the irreducible cost of binlog-row-image=minimal."""
        from .operators.patch import patch_fold_state

        tbl = self.table
        bucketed = valid.withColumn("_bucket", tbl.bucket_expr("url")).repartition(
            tbl.exchange_width(), F.col("_bucket")
        )
        folded = patch_fold_state(
            bucketed,
            ["_bucket", "url"],
            ["warc_ts", "log_offset"],
            self.patch_cols,
            F.col("op") == F.lit("D"),
        )

        cur = tbl.read(buckets=buckets)
        old_cols = [c for c in self.patch_cols if c in cur.columns]
        cur = (
            cur.select("url", *old_cols)
            .withColumn("_bucket", tbl.bucket_expr("url"))
            .repartition(tbl.exchange_width(), F.col("_bucket"))
            .select("_bucket", "url", *[F.col(c).alias(f"_old_{c}") for c in old_cols])
        )
        j = folded.join(cur, ["_bucket", "url"], "left")

        after_del = lambda v: F.col("_d").isNull() | (v > F.col("_d"))  # noqa: E731
        alive = F.col("_l").isNotNull() & after_del(F.col("_l"))
        # greatest over the (live, tombstone) version structs = the last
        # event absorbed by this row state (Spark's greatest skips NULLs)
        vfin = F.greatest(F.col("_l"), F.col("_d"))
        cols = []
        for c in self.patch_cols:
            cand = F.col(f"_c_{c}")
            old = F.col(f"_old_{c}") if c in old_cols else F.lit(None)
            cols.append(
                F.when(cand.isNotNull() & after_del(cand["v"]), cand["x"])
                .otherwise(F.when(F.col("_d").isNull(), old))
                .alias(c)
            )
        out = j.select(
            "url",
            vfin["warc_ts"].alias("warc_ts"),
            *cols,
            vfin["warc_ts"].alias("_version_ts"),
            vfin["log_offset"].alias("_version_off"),
            (~alive).alias("_deleted"),
            F.col("_bucket"),
        )
        if self.extract and "html" in self.patch_cols:
            out = out.withColumn(
                "text",
                F.when(~F.col("_deleted"), extract_text_col(F.col("html"))),
            )
        return out

    def _updates(
        self, valid: DataFrame, ranges: list[OffsetRange]
    ) -> tuple[DataFrame, list[int] | None]:
        """The batch's deduped update set for ``merge`` and the buckets it
        may touch (None: a delta commit, which never reads the target).

        Two physical LWW shapes, same semantics (winner per url) — see the
        constructor docs for the measured tradeoff:

        "repartition" (default): one explicit exchange of all raw rows,
        hashed on _bucket into table.exchange_width() partitions; the
        groupBy, the rewrite-mode MERGE join and the bucketed write ride it
        (merge's target side is shuffled to the same width).

        "combine": let the groupBy drive the exchange so Spark plans partial
        aggregation BEFORE the shuffle — the map-side combiner. A keyed
        changelog keeps all of a url's events in ONE log partition, so the
        combiner sheds the whole duplicate factor locally: at dup factor d
        the shuffle carries n/d deduped rows twice (agg exchange + the
        _bucket exchange) instead of n raw rows once. Extraction stays AFTER
        the LWW exchanges either way — only survivors are extracted."""
        if self.fold == "patch":
            touched = self._touched_buckets(valid, ranges)
            updates = self._patch_updates(valid, touched)
            return updates, None if self.merge_mode == "delta" else touched
        if self.lww_strategy == "combine":
            with_bucket = valid.withColumn("_bucket", self.table.bucket_expr("url"))
            latest = lww_latest(with_bucket, ["_bucket", "url"], ["warc_ts", "log_offset"])
            latest = latest.repartition(self.table.exchange_width(), F.col("_bucket"))
        else:
            bucketed = valid.withColumn(
                "_bucket", self.table.bucket_expr("url")
            ).repartition(self.table.exchange_width(), F.col("_bucket"))
            latest = lww_latest(bucketed, ["_bucket", "url"], ["warc_ts", "log_offset"])

        # converter slot: text extraction — AFTER dedup, so the regex chain
        # runs once per surviving key (duplicates, lost race versions and
        # deletes skip it) and the extracted text never rides the engine's
        # shuffle
        if self.extract:
            latest = latest.withColumn(
                "text", F.when(F.col("op") != "D", extract_text_col(F.col("html")))
            )
        visible = [c for c in latest.columns if c not in _META_COLS and c != "_bucket"]
        updates = latest.select(
            *visible,
            F.col("warc_ts").alias("_version_ts"),
            F.col("log_offset").alias("_version_off"),
            (F.col("op") == F.lit("D")).alias("_deleted"),
            F.col("_bucket"),
        )

        # affected-bucket discovery from the filtered batch scan: column-
        # pruned and shuffle-free, vs deriving it from `updates` which would
        # re-run the LWW shuffle a second time per batch. When the batch is
        # far larger than the bucket count, every bucket is touched with
        # near-certainty (coupon collector) — skip the discovery job
        # entirely. Delta commits never read the target, so they skip
        # discovery too.
        if self.merge_mode == "delta":
            return updates, None
        return updates, self._touched_buckets(valid, ranges)

    def _apply(
        self,
        batch: DataFrame,
        ranges: list[OffsetRange],
        batch_id: str | None,
        wm_caps: dict[int, int] | None = None,
        extra_props: dict | None = None,
    ) -> dict:
        t0 = time.monotonic()
        committed = self.committed_watermarks()
        if all(r.high <= committed.get(r.partition, -1) for r in ranges):
            # replay fence: this exact work was already committed (≈
            # IcebergMetadataWriter skip on offset ≤ table-property watermark)
            return {"batch_id": batch_id, "skipped": True}

        seq = int(self.table.properties.get("batch_seq", -1)) + 1
        batch_id = batch_id or f"{self.job_id}-{seq:06d}"

        # merged watermarks: advance applied ranges, carry everything else;
        # wm_caps (offset-gap guard) holds a partition's committed watermark
        # at its highest contiguous offset even when later offsets were applied
        wm = {str(p): v for p, v in committed.items()}
        for r in ranges:
            high = r.high if wm_caps is None else wm_caps.get(r.partition, r.high)
            wm[str(r.partition)] = max(high, committed.get(r.partition, -1))

        # cumulative per-partition applied-offset counters: the audit /
        # completeness gate compares these against an external expected-count
        # source before advancing the completeness watermark. They ride the
        # same atomic commit as the data, so they can never drift from it.
        pcounts = {
            str(p): int(v)
            for p, v in self.table.properties.get("partition_counts", {}).items()
        }
        for r in ranges:
            pcounts[str(r.partition)] = pcounts.get(str(r.partition), 0) + r.count

        # lineage rides the SAME commit as data + watermarks (one atomic swap)
        lineage = lineage_entry(batch_id, ranges)
        props = {
            "watermarks": wm,
            "batch_seq": seq,
            "last_batch_id": batch_id,
            "last_lineage": lineage,
            "partition_counts": pcounts,
            **(extra_props or {}),
        }

        # row-level quality policies (≈ RowLevelPolicyChecker; FAIL→ERR_FILE
        # diversion semantics: gobblin-api/.../row/RowLevelPolicy.java:33-68)
        ok = (
            F.col("url").isNotNull()
            & F.col("op").isin("I", "U", "D")
            & (F.col("warc_ts").isNotNull())
        )
        if self.fold != "patch":
            # partial images legitimately carry NULL payload columns
            # (NULL = unchanged), so the non-null-html policy is LWW-only
            ok = ok & ((F.col("op") == "D") | F.col("html").isNotNull())
        n_errors = 0
        if self.errors_path:
            batch = batch.persist()
        try:
            if self.errors_path:
                errors = batch.filter(~ok)
                n_errors = errors.count()
                if n_errors:
                    errors.write.mode("append").parquet(self.errors_path)
            updates, affected = self._updates(batch.filter(ok), ranges)
            result = self.table.merge(
                updates, properties=props, affected=affected, mode=self.merge_mode
            )
        finally:
            if self.errors_path:
                batch.unpersist()

        # one counter path for batch and streaming commits: the ranges give
        # the offsets applied, merge's walk of its written files the rest
        metrics = {
            "offsets_applied": sum(r.count for r in ranges),
            **{k: result[k] for k in ("files_written", "bytes_written", "rows_written")},
            "quality_errors": n_errors,
            "wall_sec": round(time.monotonic() - t0, 3),
        }
        metrics.update(batch_rates(metrics, metrics["wall_sec"]))
        if self._last_available is not None:
            # lag after THIS commit: available head minus the just-committed
            # watermark, per partition (zero when fully caught up)
            metrics["partition_lag"] = partition_lag(
                self._last_available, {int(p): int(v) for p, v in wm.items()}
            )
            metrics["total_lag"] = sum(metrics["partition_lag"].values())
        self.stats.record(
            {
                "batch_id": batch_id,
                "snapshot_version": result["version"],
                **metrics,
            }
        )
        if self.state:
            self.state.put(
                self.job_id,
                {
                    "job_id": self.job_id,
                    "batch_id": batch_id,
                    "watermarks": wm,
                    "counts": metrics,
                    "snapshot_version": result["version"],
                    "lineage": lineage,
                },
            )
        return {"batch_id": batch_id, "skipped": False, **result, **metrics}

    # ------------------------------------------------------------------ run
    def run(
        self,
        changelog: DataFrame | str,
        max_events_per_batch: int | None = None,
        max_batches: int | None = None,
        commit_policy: str = "full",
    ) -> list[dict]:
        """Incremental apply loop: plan from committed watermarks, apply each
        batch, commit, repeat. Safe to re-run any time (idempotent).

        ``commit_policy`` (≈ JobCommitPolicy, gobblin-api/.../JobCommitPolicy
        .java): ``full`` = first failed batch aborts the loop (already-
        committed batches stay committed — each commit is atomic — and the
        next run resumes exactly where the failure fenced it); ``partial`` =
        COMMIT_SUCCESSFUL_TASKS: a failed batch POISONS its partitions (their
        later ranges are dropped — applying them would advance the watermark
        over the failed interval and fence it out forever) while every other
        partition keeps progressing. Failed/poisoned work is naturally
        retried on the next run: its watermarks never advanced."""
        if commit_policy not in ("full", "partial"):
            raise ValueError(f"unknown commit_policy: {commit_policy}")
        source_path = changelog if isinstance(changelog, str) else None
        if isinstance(changelog, str):
            changelog = self.spark.read.parquet(changelog)
        batches = self.plan(changelog, max_events_per_batch, source_path=source_path)
        if max_batches is not None:
            batches = batches[:max_batches]
        results: list[dict] = []
        poisoned: set[int] = set()
        for ranges in batches:
            ranges = [r for r in ranges if r.partition not in poisoned]
            if not ranges:
                continue
            try:
                results.append(self.apply_batch(changelog, ranges))
            except Exception as e:  # noqa: BLE001 — per-batch isolation
                if commit_policy == "full":
                    raise
                poisoned |= {r.partition for r in ranges}
                results.append(
                    {
                        "skipped": False,
                        "failed": True,
                        "error": str(e),
                        "ranges": {str(r.partition): [r.low, r.high] for r in ranges},
                    }
                )
        return results

    def bootstrap(self, pages: DataFrame) -> dict:
        """Load an initial snapshot (version = (warc_ts, -1) so any changelog
        event for the same url with a newer version wins)."""
        updates = pages.select(
            "*",
            F.col("warc_ts").alias("_version_ts"),
            F.lit(-1).cast("long").alias("_version_off"),
            F.lit(False).alias("_deleted"),
        )
        return self.table.merge(updates)
