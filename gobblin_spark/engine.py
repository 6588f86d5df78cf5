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
from .extract import extract_text_udf
from .lake import SnapshotTable
from .metrics import (
    StatsTracker,
    batch_rates,
    lineage_entry,
    observe_batch,
    observe_updates,
    partition_lag,
)
from .planner import (
    OffsetRange,
    discover_watermarks,
    plan_batches,
    range_predicate,
)
from .state import StateStore

# changelog bookkeeping columns that do not land in the target table
_META_COLS = ("op", "log_partition", "log_offset")


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
    (watermark -1). Duplicate offsets collapse; nothing here shuffles more
    than the (partition, offset) pairs themselves."""
    from pyspark.sql import Window

    committed = committed or {}
    cmap = (
        F.create_map(
            *[
                F.lit(x).cast("long")
                for p, v in sorted(committed.items())
                for x in (p, v)
            ]
        )
        if committed
        else F.create_map()
    )
    cmt = F.coalesce(F.element_at(cmap, F.col("log_partition").cast("long")), F.lit(-1))
    w = Window.partitionBy("log_partition").orderBy("log_offset")
    return (
        batch_df.select("log_partition", "log_offset", cmt.alias("_cmt"))
        .filter(F.col("log_offset") > F.col("_cmt"))
        .dropDuplicates(["log_partition", "log_offset"])
        .withColumn("_grp", F.col("log_offset") - F.row_number().over(w))
        .groupBy("log_partition", "_grp")
        .agg(F.min("log_offset").alias("lo"), F.max("log_offset").alias("hi"))
        .select("log_partition", "lo", "hi")
    )


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
        # (table.exchange_width() wide); the LWW groupBy and the bucketed
        # write ride it. "combine": map-side partial LWW before the
        # exchange (classic combiner) — sheds the duplicate factor from the
        # shuffle at the cost of copying payloads through the partial-agg
        # hash map and a second (deduped) exchange. MEASURED on the 10M-event
        # replay (dup factor ~4, ~600B payloads, tmpfs shuffle): repartition
        # 44.6s vs combine 46.8-47.9s at local[4] — buffer churn outweighs
        # the byte savings here; combine wins when the duplicate factor is
        # large or the shuffle fabric (real network) is slower than memcpy.
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

    def apply_stream_batch(self, batch_df: DataFrame, batch_id: str | None = None) -> dict:
        """Apply a Structured Streaming micro-batch (foreachBatch body).

        The micro-batch IS the work unit (≈ FlushControlMessage boundary,
        SURVEY §2.11); ranges are derived from the batch's own per-partition
        max offsets, and rows at offsets ≤ the committed watermark are fenced
        out — engine-level exactly-once layered on top of (and independent of)
        the stream checkpoint."""
        committed = self.committed_watermarks()

        # Offset-gap guard (≈ FineGrainedWatermarkTracker.java:181-200 —
        # per-range acks, committable watermark = largest contiguous prefix).
        # Offsets are dense, but with a file-source tail files can be
        # DISCOVERED out of offset order (maxFilesPerTrigger splits, retried
        # uploads), so a micro-batch may carry an offset GAP. Committing
        # max(offset) would fence the late-arriving middle rows out forever —
        # silent data loss. Instead: gaps-and-islands over the batch's new
        # offsets finds the applied runs; runs merge with the table's stored
        # ``pending_ranges``; the watermark advances over the contiguous
        # prefix and the disconnected remainder is carried (atomically, in
        # the same commit) until the gap heals.
        runs = offset_islands(batch_df, committed).collect()
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
        for r in runs:
            p, lo, hi = int(r["log_partition"]), int(r["lo"]), int(r["hi"])
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
        # use_observe=False: Observation.get blocks on a query-completion
        # listener that cannot be serviced from inside the foreachBatch
        # callback thread (deadlock); stream metrics come from the ranges
        return self._apply(
            batch,
            ranges,
            batch_id,
            use_observe=False,
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
                F.when(~F.col("_deleted"), extract_text_udf(F.col("html"))),
            )
        return out

    def _apply(
        self,
        batch: DataFrame,
        ranges: list[OffsetRange],
        batch_id: str | None,
        use_observe: bool = True,
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
        read_obs = upd_obs = None
        if use_observe:
            batch, read_obs = observe_batch(batch, f"read-{batch_id}")

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
            errors = batch.filter(~ok)
            n_errors = errors.count()
            if n_errors:
                errors.write.mode("append").parquet(self.errors_path)
        valid = batch.filter(ok)

        # Two physical LWW shapes, same semantics (winner per url) — see the
        # constructor docs for the measured tradeoff:
        #
        # "repartition" (default): one explicit exchange of all raw rows,
        # hashed on _bucket into table.exchange_width() partitions; the
        # groupBy and the bucketed write ride it. A rewrite-mode MERGE join
        # shuffles the updates once more: the extraction UDF above this
        # exchange hides its partitioning (see SnapshotTable.merge).
        #
        # "combine": let the groupBy drive the exchange so Spark plans
        # partial aggregation BEFORE the shuffle — the map-side combiner. A
        # keyed changelog keeps all of a url's events in ONE log partition,
        # so the combiner sheds the whole duplicate factor locally: at dup
        # factor d the shuffle carries n/d deduped rows twice (agg exchange
        # + the _bucket exchange) instead of n raw rows once. Extraction stays
        # AFTER the LWW exchanges either way — only survivors reach Python.
        if self.fold == "patch":
            touched = self._touched_buckets(valid, ranges)
            updates = self._patch_updates(valid, touched)
            affected = None if self.merge_mode == "delta" else touched
        else:
            if self.lww_strategy == "combine":
                with_bucket = valid.withColumn("_bucket", self.table.bucket_expr("url"))
                latest = lww_latest(with_bucket, ["_bucket", "url"], ["warc_ts", "log_offset"])
                latest = latest.repartition(self.table.exchange_width(), F.col("_bucket"))
            else:
                bucketed = valid.withColumn(
                    "_bucket", self.table.bucket_expr("url")
                ).repartition(self.table.exchange_width(), F.col("_bucket"))
                latest = lww_latest(bucketed, ["_bucket", "url"], ["warc_ts", "log_offset"])

            # converter slot: vectorized text extraction — AFTER dedup, so the
            # Arrow/pandas UDF runs once per surviving key (duplicates, lost
            # race versions and deletes never reach Python) and the extracted
            # text never rides the shuffle
            if self.extract:
                latest = latest.withColumn(
                    "text", F.when(F.col("op") != "D", extract_text_udf(F.col("html")))
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
            # pruned and shuffle-free, vs deriving it from `updates` which
            # would re-run the LWW shuffle a second time per batch. When the
            # batch is far larger than the bucket count, every bucket is
            # touched with near-certainty (coupon collector) — skip the
            # discovery job entirely. Delta commits never read the target, so
            # they skip discovery too.
            if self.merge_mode == "delta":
                affected = None
            else:
                affected = self._touched_buckets(valid, ranges)
        if use_observe:
            updates, upd_obs = observe_updates(updates, f"upd-{batch_id}")

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
        lineage = lineage_entry(batch_id, ranges, {}, self.table.version + 1)
        props = {
            "watermarks": wm,
            "batch_seq": seq,
            "last_batch_id": batch_id,
            "last_lineage": lineage,
            "partition_counts": pcounts,
            **(extra_props or {}),
        }
        result = self.table.merge(
            updates, properties=props, affected=affected, mode=self.merge_mode
        )
        metrics = {**read_obs.get, **upd_obs.get} if use_observe else {
            "offsets_applied": sum(r.count for r in ranges)
        }
        metrics["quality_errors"] = n_errors
        metrics["wall_sec"] = round(time.monotonic() - t0, 3)
        metrics.update(batch_rates(metrics, metrics["wall_sec"]))
        if self._last_available is not None:
            # lag after THIS commit: available head minus the just-committed
            # watermark, per partition (zero when fully caught up)
            metrics["partition_lag"] = partition_lag(
                self._last_available, {int(p): int(v) for p, v in wm.items()}
            )
            metrics["total_lag"] = sum(metrics["partition_lag"].values())
        lineage["metrics"] = metrics
        self.stats.record(
            {
                "batch_id": batch_id,
                "snapshot_version": result["version"],
                **metrics,
            }
        )
        if self.errors_path:
            batch.unpersist()
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
