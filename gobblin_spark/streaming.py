"""Structured Streaming tail of the changelog (≈ the reference's streaming
task flow, StreamModelTaskRunner.java:79-171, re-expressed as
readStream → foreachBatch → fenced MERGE → checkpoint).

Mapping of reference semantics (SURVEY §2.11):
- ``FlushControlMessage`` every flush interval (FlushingExtractor.java:84-85)
  ⇒ the micro-batch trigger (``processingTime`` / ``availableNow``);
- per-record ack + committable-watermark tracking
  (FineGrainedWatermarkTracker.java:181-200) ⇒ micro-batch atomicity: the
  whole batch commits (MERGE + watermarks in one snapshot swap) or replays;
- resume from committed watermarks (KafkaStreamingExtractor.java:305-313)
  ⇒ two independent layers: the stream checkpoint (source progress) AND the
  table's own watermark fencing — if the checkpoint is lost, redelivered
  batches are fenced out by offset, so end-to-end delivery stays exactly-once;
- ``maxOffsetsPerTrigger`` throttling ⇒ ``maxFilesPerTrigger`` on the file
  source (or Kafka's own option when tailing Kafka).

The file-based source here models a binlog landing zone (new files appear as
the log grows); the same ``foreachBatch`` body works unchanged over
``readStream.format("kafka")``.
"""

from __future__ import annotations

import json
import os
from functools import partial
from urllib.parse import unquote, urlparse

from pyspark.sql import types as T

from .engine import CdcEngine
from .planner import _footer_map
from .schema import merge_schemas


# Sentinel framing for cross-thread exception transport: foreachBatch
# exceptions reach the caller WRAPPED in StreamingQueryException with only the
# message text reliably preserved, so the merged schema rides the message as
# a delimited JSON payload. The marker is unique enough that an unrelated
# error can't trigger a schema restart (the round-2 substring match on the
# class name "SchemaChangedError" could).
_SCHEMA_SENTINEL = "<<gobblin-spark:schema-changed:"
_SCHEMA_SENTINEL_END = ":end-schema>>"


class SchemaChangedError(RuntimeError):
    """A file in the current micro-batch carries a schema WIDER than the
    stream's frozen read schema (the mid-stream added-column case,
    ≈ MetadataUpdateControlMessage / KafkaSchemaChangeInjector.java:53-77).
    Raised BEFORE the batch is applied, so nothing commits; the caller
    restarts the tail with the merged schema and the failed batch replays
    from the stream checkpoint under the new schema."""

    def __init__(self, new_schema: T.StructType):
        super().__init__(
            f"stream schema widened {_SCHEMA_SENTINEL}{new_schema.json()}"
            f"{_SCHEMA_SENTINEL_END}"
        )
        self.new_schema = new_schema


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


def _local_path(uri: str) -> str | None:
    """Filesystem path of a ``file:`` URI or bare path; None for any other
    scheme (pyarrow cannot open ``s3a://`` and the like)."""
    u = urlparse(uri)
    if u.scheme in ("", "file"):
        return unquote(u.path)
    return None


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
):
    """Start the streaming tail; returns the StreamingQuery.

    Use ``available_now=True`` to drain the current backlog and stop (the
    incremental-batch mode Gobblin's batch jobs implement); a positive
    ``trigger_seconds`` for a continuous tail (the streaming mode).

    ``detect_schema_change``: Structured Streaming freezes the read schema at
    stream start, so a mid-stream widened file would silently DROP its new
    columns. With detection on, each micro-batch's source files (listed by
    the same aggregate that proves its offsets contiguous, see
    ``CdcEngine.apply_stream_batch``) are footer-checked against the frozen
    schema on the driver; a widening raises SchemaChangedError before
    anything commits — fail-and-restart, the same model lakehouse streaming
    sinks use. At very high file rates, gate this behind a control-message
    channel instead of per-batch footer reads (the reference's
    MetadataUpdateControlMessage).
    """
    spark = engine.spark
    if schema is None:
        schema = spark.read.option("mergeSchema", True).parquet(changelog_path).schema

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(changelog_path)
    frozen = schema

    def _check(files: list[str]) -> None:
        merged = widened_schema(spark, frozen, files)
        if merged != frozen:
            raise SchemaChangedError(merged)

    def _apply(batch_df, epoch_id: int):
        result = engine.apply_stream_batch(
            batch_df,
            batch_id=f"epoch-{epoch_id:06d}",
            check_files=_check if detect_schema_change else None,
        )
        if on_batch is not None:
            on_batch(result)

    writer = stream.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", os.path.join(checkpoint_dir, "stream")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def drain(engine: CdcEngine, changelog_path: str, checkpoint_dir: str, **kwargs) -> list[dict]:
    """Run the tail until the current backlog is fully applied, then stop.
    Returns the per-batch apply results."""
    results: list[dict] = []
    q = tail_changelog(
        engine,
        changelog_path,
        checkpoint_dir,
        available_now=True,
        on_batch=results.append,
        **kwargs,
    )
    q.awaitTermination()
    return results


def drain_evolving(
    engine: CdcEngine,
    changelog_path: str,
    checkpoint_dir: str,
    schema: T.StructType | None = None,
    max_restarts: int = 4,
    **kwargs,
) -> list[dict]:
    """Drain with automatic schema-evolution restarts: when a micro-batch
    surfaces a widened file, the failed (uncommitted) batch replays under the
    merged schema on the next attempt and the new column flows through the
    engine's existing schema-merge-on-write path into the table."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    results: list[dict] = []  # shared across attempts: batches applied before
    current = schema          # a schema abort are already committed

    def _collect(r: dict) -> None:
        # after a restart the stream checkpoint replays batches that already
        # committed; they come back fenced ({"skipped": True}) — keep only
        # real applies so callers see one entry per committed batch
        if not r.get("skipped"):
            results.append(r)

    for _ in range(max_restarts + 1):
        q = tail_changelog(
            engine,
            changelog_path,
            checkpoint_dir,
            schema=current,
            available_now=True,
            on_batch=_collect,
            **kwargs,
        )
        try:
            q.awaitTermination()
            return results
        except StreamingQueryException as e:
            # foreachBatch exceptions surface wrapped with only the message
            # text preserved; the sentinel frames the merged schema as JSON
            msg = str(e)
            i = msg.find(_SCHEMA_SENTINEL)
            if i < 0:
                raise
            j = msg.find(_SCHEMA_SENTINEL_END, i)
            current = None
            if j > i:
                try:
                    current = T.StructType.fromJson(
                        json.loads(msg[i + len(_SCHEMA_SENTINEL) : j])
                    )
                except (ValueError, KeyError):
                    current = None  # payload mangled in transport — fall back
            if current is None:
                actual = engine.spark.read.option("mergeSchema", True).parquet(
                    changelog_path
                ).schema
                current = merge_schemas(schema, actual) if schema is not None else actual
    raise RuntimeError(f"schema still evolving after {max_restarts} restarts")


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
