"""File tail of the changelog as a driver loop (≈ the reference's streaming
task flow, StreamModelTaskRunner.java:79-171, over FileBasedSource's snapshot
diff, FileBasedSource.java:58): list → footer schema → driver offset proof →
fenced MERGE → listing cache.

Mapping of reference semantics (SURVEY §2.11):
- ``FlushControlMessage`` every flush interval (FlushingExtractor.java:84-85)
  ⇒ one pass of the loop (``trigger_seconds`` / ``available_now``);
- per-record ack + committable-watermark tracking
  (FineGrainedWatermarkTracker.java:181-200) ⇒ micro-batch atomicity: the
  pass's offset runs are proved from its files, and the whole batch commits
  (MERGE + watermarks + ``pending_ranges`` in one snapshot swap) or replays;
- resume from committed watermarks (KafkaStreamingExtractor.java:305-313)
  ⇒ ONE exactly-once layer, the table's own watermark fences. The
  checkpoint dir holds only a cache of the files already applied, which
  spares re-reading them: a cache that lags a commit, or is lost, redelivers
  files whose rows the fences skip;
- ``maxOffsetsPerTrigger`` throttling ⇒ ``max_files_per_trigger``;
- ``MetadataUpdateControlMessage`` (a mid-stream added column) ⇒ each pass
  widens the read schema from its files' footers, in place.

A micro-batch is a deterministic batch job over durably stored input
("Discretized streams", SOSP 2013), so the loop needs no Structured
Streaming: no offset or commit log, no read schema frozen at start, and no
Spark job to list a batch's files (inside ``foreachBatch`` a batch's
``inputFiles()`` is empty). The Kafka tail (``sources/kafka.py``) keeps
``foreachBatch`` and calls the same ``CdcEngine.apply_stream_batch``.
"""

from __future__ import annotations

import json
import os
import threading
import time
from functools import partial

from pyspark import InheritableThread
from pyspark.sql import types as T

from .engine import CdcEngine
from .planner import _footer_map, _local_path
from .schema import merge_schemas
from .sources.filebased import list_files, unseen
from .state import write_json_atomic

# the listing cache in the checkpoint dir: path → [size, mtime] of every
# applied file that is still listed
_APPLIED = "applied-files.json"
# how long an idle continuous tail waits before it lists again
_IDLE_POLL_S = 0.1


_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"
# parquet unsigned ints as Spark's reader widens them (pyspark's arrow
# mapping has no unsigned types)
_UNSIGNED = {
    "uint8": T.ShortType(),
    "uint16": T.IntegerType(),
    "uint32": T.LongType(),
    "uint64": T.DecimalType(20, 0),
}


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every nested field nullable, as a file source reads it."""
    if isinstance(dt, T.StructType):
        return T.StructType([T.StructField(f.name, _nullable(f.dataType), True) for f in dt.fields])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _footer_schema(path: str, infer_ntz: bool) -> str:
    """``spark.read.parquet(path).schema`` from the file's footer alone, as
    JSON: the schema Spark wrote into the footer's key-value metadata if
    present (Spark's reader prefers it too), else the parquet schema mapped
    the way Spark's reader maps it (INT96 is a TIMESTAMP, a tz-less
    timestamp a TIMESTAMP_NTZ only under ``inferTimestampNTZ``). Module-level
    so ``_footer_map`` can dispatch it to a process pool."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    pf = pq.ParquetFile(path)
    spark_json = (pf.metadata.metadata or {}).get(_SPARK_ROW_METADATA)
    if spark_json:
        schema = T.StructType.fromJson(json.loads(spark_json))
    else:
        int96 = {
            c.path for c in (pf.schema.column(i) for i in range(len(pf.schema)))
            if c.physical_type == "INT96"
        }
        schema = T.StructType(
            [
                T.StructField(
                    f.name,
                    T.TimestampType() if f.name in int96
                    else _UNSIGNED.get(str(f.type)) or from_arrow_type(f.type, infer_ntz),
                )
                for f in pf.schema_arrow
            ]
        )
    return _nullable(schema).json()


def widened_schema(spark, frozen: T.StructType, files: list[str]) -> T.StructType:
    """``frozen`` merged with the read schema of every file in ``files``
    (equal to ``frozen`` unless a file is wider). Footers are read on the
    driver with pyarrow, with no Spark job; a non-local file list goes
    through Spark's ``mergeSchema`` read."""
    paths = [_local_path(f) for f in files]
    if None in paths:
        return merge_schemas(frozen, spark.read.option("mergeSchema", True).parquet(*files).schema)
    infer_ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "true"
    merged = frozen
    for js in _footer_map(paths, partial(_footer_schema, infer_ntz=infer_ntz)):
        merged = merge_schemas(merged, T.StructType.fromJson(json.loads(js)))
    return merged


def _whole(path: str) -> bool:
    """Whether ``path``'s parquet footer parses. A file still being written
    has no footer yet; a non-local file is left to Spark's reader."""
    import pyarrow.parquet as pq

    local = _local_path(path)
    if local is None:
        return True
    try:
        pq.read_metadata(local)
    except (OSError, ValueError):  # pyarrow's ArrowInvalid is a ValueError
        return False
    return True


class FileTail:
    """A running file tail, with the ``awaitTermination()``/``stop()`` of a
    StreamingQuery. The loop runs in a ``pyspark.InheritableThread``, so the
    Spark local properties of the thread that started it (job group,
    scheduler pool) carry over to every batch's jobs. An exception in a pass
    ends the loop and re-raises from ``awaitTermination()``; a pass that
    fails before its commit has committed nothing."""

    def __init__(
        self,
        engine: CdcEngine,
        changelog_path: str,
        checkpoint_dir: str,
        schema: T.StructType | None,
        max_files_per_trigger: int | None,
        on_batch,
        detect_schema_change: bool,
    ):
        self.engine = engine
        self.path = changelog_path
        self.schema = schema
        self.max_files = max_files_per_trigger
        self.on_batch = on_batch
        self.detect_schema_change = detect_schema_change
        self._cache = os.path.join(checkpoint_dir, _APPLIED)
        self.applied: dict[str, list[int]] = {}
        if os.path.exists(self._cache):
            with open(self._cache) as f:
                self.applied = json.load(f)["files"]
        self._stop = threading.Event()
        self._error: Exception | None = None
        self._thread: InheritableThread | None = None

    def run_batch(self, only: set[str] | None = None) -> bool:
        """One pass: apply the oldest unapplied files (of ``only``, if
        given), at most ``max_files_per_trigger`` of them, then record them
        in the listing cache. False when there was nothing to apply.

        A file whose footer does not parse yet (caught mid-write) is left
        out of the pass and out of the cache, so the next pass retries it;
        a pass over ``only`` (``available_now``) raises and names it."""
        spark = self.engine.spark
        listed = list_files(spark, self.path)
        batch: list[str] = []
        for f in unseen(listed, self.applied):
            if self.max_files and len(batch) == self.max_files:
                break
            if only is not None and f not in only:
                continue
            if _whole(f):
                batch.append(f)
            elif only is not None:
                raise ValueError(f"{f} is not a whole parquet file: its footer does not parse")
        # the cache keeps only listed files: a file that left the landing
        # dir leaves it (a changed file keeps its old entry until applied)
        applied = {f: st for f, st in self.applied.items() if f in listed}
        if batch:
            if self.detect_schema_change or self.schema is None:
                self.schema = widened_schema(spark, self.schema or T.StructType(), batch)
            df = spark.read.schema(self.schema).option("basePath", self.path).parquet(*batch)
            result = self.engine.apply_stream_batch(df, files=batch)
            applied.update((f, listed[f]) for f in batch)
        if applied != self.applied:
            os.makedirs(os.path.dirname(self._cache), exist_ok=True)
            write_json_atomic(self._cache, {"files": applied})
            self.applied = applied
        if batch and self.on_batch is not None:
            self.on_batch(result)
        return bool(batch)

    def start(self, available_now: bool, trigger_seconds: int | None) -> "FileTail":
        def loop() -> None:
            if available_now:
                only = set(unseen(list_files(self.engine.spark, self.path), self.applied))
                while not self._stop.is_set() and self.run_batch(only):
                    pass
                return
            while not self._stop.is_set():
                t0 = time.monotonic()
                busy = self.run_batch()
                wait = t0 + (trigger_seconds or 0) - time.monotonic()
                self._stop.wait(max(wait, 0 if busy else _IDLE_POLL_S))

        def main() -> None:
            try:
                loop()
            except Exception as e:  # noqa: BLE001 — re-raised by awaitTermination
                self._error = e

        self._thread = InheritableThread(main, daemon=True)
        self._thread.start()
        return self

    @property
    def isActive(self) -> bool:
        return self._thread is not None and self._thread.is_alive()

    def awaitTermination(self, timeout: float | None = None) -> bool | None:
        """Wait for the loop to end; re-raise a batch's exception. With a
        ``timeout``, return whether the loop has ended."""
        self._thread.join(timeout)
        if self._error is not None:
            raise self._error
        return None if timeout is None else not self._thread.is_alive()

    def stop(self) -> None:
        """End the loop after the pass in flight, and wait for it."""
        self._stop.set()
        self._thread.join()


def tail_changelog(
    engine: CdcEngine,
    changelog_path: str,
    checkpoint_dir: str,
    schema: T.StructType | None = None,
    trigger_seconds: int | None = None,
    available_now: bool = False,
    max_files_per_trigger: int | None = None,
    on_batch=None,
    detect_schema_change: bool = True,
) -> FileTail:
    """Start tailing the landing directory ``changelog_path`` (flat, or in
    ``write_changelog``'s ``log_partition=N/`` layout); returns the running
    ``FileTail``. A file should appear whole: write it under a name that
    starts with ``.`` or ``_`` (never listed) and rename it in. A continuous
    pass skips a listed file whose parquet footer does not parse yet and
    retries it next pass; ``available_now`` raises on it.

    Each pass lists the files not yet applied, takes the oldest (by mtime)
    ``max_files_per_trigger`` of them, reads them with
    ``spark.read.schema(s).option("basePath", changelog_path).parquet(*files)``
    and applies them through ``CdcEngine.apply_stream_batch``, which proves
    their offset runs from the files on the driver. A late file (an older
    mtime, or offsets below ones already applied) is still applied: the
    diff is by path, and the gap guard holds the watermark below it. The
    same guard holds a fresh table's watermark at −1 for good when the log
    starts above offset 0 (``CdcEngine.apply_stream_batch``): bootstrap such
    a log with ``CdcEngine.run()`` before tailing it.

    ``available_now=True`` drains the files present at start and ends (the
    incremental-batch mode Gobblin's batch jobs implement); a positive
    ``trigger_seconds`` starts a pass every that many seconds (the streaming
    mode); with neither, passes run back to back and an idle tail lists
    again every ``_IDLE_POLL_S``.

    ``checkpoint_dir`` (a local directory) holds one document, the listing
    cache: path → size and mtime of each applied file that is still listed,
    replaced atomically after each commit. It bounds itself as files leave
    the landing dir. A crash between a commit and the cache write, or a
    lost ``checkpoint_dir``, re-lists files that the table's watermark
    fences then skip.

    ``schema`` is the starting read schema (default: the first batch's
    footers). With ``detect_schema_change``, each pass merges its files'
    footer schemas into it (``widened_schema``, on the driver), so a file
    with an added column flows into the table with no restart; without it
    the read schema stays as it started and new columns are dropped.
    """
    return FileTail(
        engine, changelog_path, checkpoint_dir, schema, max_files_per_trigger, on_batch, detect_schema_change
    ).start(available_now, trigger_seconds)


def drain(engine: CdcEngine, changelog_path: str, checkpoint_dir: str, **kwargs) -> list[dict]:
    """Run the tail until the current backlog is fully applied, then stop.
    Returns the per-batch apply results."""
    results: list[dict] = []
    tail_changelog(
        engine, changelog_path, checkpoint_dir, available_now=True, on_batch=results.append, **kwargs
    ).awaitTermination()
    return results


def stateful_lww_updates(
    stream_df,
    key_col: str = "url",
    version_cols: tuple[str, str] = ("warc_ts", "log_offset"),
):
    """Custom stateful streaming operator (``applyInPandasWithState``):
    per-key last-writer-wins CHANGE FEED. The group state holds the highest
    version ever seen for the key; a micro-batch emits at most one row per
    key — the batch's max-version row — and only when it is strictly newer
    than the state. Late/duplicate/out-of-order deliveries emit nothing.

    This is the record-level streaming analog of the engine's batch LWW
    (dedup.lww_latest) — the reference's ack-then-advance per-record flow
    (FineGrainedWatermarkTracker.java:181-200) expressed as Spark-managed
    keyed state instead of an in-memory tracker. Downstream consumers get a
    deduplicated "newer than anything before" stream without waiting for a
    table MERGE.

    Scale notes: state is (2 longs)/key in the state store (RocksDB-backed on
    a real cluster — set ``spark.sql.streaming.stateStore.providerClass``);
    the operator shuffles each micro-batch once by key, the same exchange any
    streaming dedup pays. No timeout is configured — CDC keys live forever by
    definition; bound the keyspace upstream (retention) if that ever matters.

    Versions compare lexicographically on ``version_cols`` (timestamp stored
    as epoch-micros int64 in state)."""
    import pandas as pd  # noqa: F401  (module-level import contract for UDFs)
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ts_col, off_col = version_cols
    out_schema = stream_df.schema
    state_schema = T.StructType(
        [
            T.StructField("ts_us", T.LongType()),
            T.StructField("off", T.LongType()),
        ]
    )

    def fn(key, pdf_iter, state: GroupState):
        best = None  # (ts_us, off, one-row DataFrame with original dtypes)
        for pdf in pdf_iter:
            # null-version rows can never win LWW, but pandas sort_values
            # places NaT LAST regardless of order — drop them up front or a
            # null row is picked as the "max" and the real winner is lost
            pdf = pdf[pdf[ts_col].notna() & pdf[off_col].notna()]
            if len(pdf) == 0:
                continue
            srt = pdf.sort_values([ts_col, off_col], kind="mergesort")
            row = srt.iloc[[-1]]
            tsv = row[ts_col].iloc[0]
            # pandas Timestamp carries .value (ns); an epoch-int column
            # (already µs/ms per upstream contract) passes through as int
            ts_us = int(tsv.value // 1000) if hasattr(tsv, "value") else int(tsv)
            off = int(row[off_col].iloc[0])
            if best is None or (ts_us, off) > (best[0], best[1]):
                best = (ts_us, off, row)
        if best is None:
            return
        cur = state.get if state.exists else None
        if cur is None or (best[0], best[1]) > (cur[0], cur[1]):
            state.update((best[0], best[1]))
            yield best[2]
        return

    return (
        stream_df.groupBy(key_col)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )
