"""Kafka tail: offset semantics + wire-format mapping + streaming entry
(≈ KafkaSource offset state machine,
gobblin-modules/gobblin-kafka-common/.../kafka/KafkaSource.java:544-683, and
KafkaExtractor's record decode path, KafkaExtractor.java).

Spark's Kafka source implements the reference's whole offset state machine —
bootstrap-with-earliest/latest, out-of-range reset, per-partition resume —
as options; this module maps the reference's knobs onto them, maps the
source's WIRE SCHEMA (key/value binary + topic/partition/offset/timestamp)
onto the engine's changelog shape, and applies each ``foreachBatch``
micro-batch with the same ``apply_stream_batch`` as the file tail — the
engine is source-agnostic past the plan, including the gaps-and-islands
offset fencing (exactly-once survives checkpoint loss). A Kafka batch is
not a file list, so its offsets are proved by ``engine.offset_runs``.

A topic whose retained offsets start above 0 must be bootstrapped with
``CdcEngine.run()`` (which plans from the retention floor) before it is
tailed. Stream batches alone hold a fresh table's watermark at −1: each
batch's offsets wait in ``pending_ranges`` for the expired ones below them.
``starting_offsets_from_watermarks`` maps −1 to "earliest", so every restart
re-reads the whole retained topic, and ``pending_ranges`` skips every row of
it.

No Kafka broker (and no spark-sql-kafka jar) exists in the sandbox, so
``tail_kafka`` is exercised end-to-end in tests through a STATIC DataFrame
of the exact wire schema feeding the identical transform + foreachBatch
body, and the broker-attached variant is skip-marked
(tests/test_kafka_wiring.py).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# the Spark Kafka source's fixed output schema (its wire contract)
KAFKA_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("timestampType", T.IntegerType()),
    ]
)


def kafka_stream_options(
    brokers: str,
    topics: str | list[str],
    starting_offsets: str | dict = "earliest",
    max_offsets_per_trigger: int | None = None,
    fail_on_data_loss: bool = False,
) -> dict[str, str]:
    """Map reference semantics to Spark Kafka-source options:

    - bootstrap earliest/latest (KafkaSource.java:594-614) →
      ``startingOffsets``; per-partition resume (committed watermarks) →
      the same option as a {topic: {partition: offset}} JSON;
    - out-of-range reset nearest/earliest (:624-683) → ``failOnDataLoss``
      false (skip-and-continue) or true (abort, ≈ reset-to-nearest absent);
    - work-unit size cap (packer capacity) → ``maxOffsetsPerTrigger``.
    """
    opts = {
        "kafka.bootstrap.servers": brokers,
        "subscribe": ",".join(topics) if isinstance(topics, list) else topics,
        "failOnDataLoss": "true" if fail_on_data_loss else "false",
    }
    if isinstance(starting_offsets, dict):
        opts["startingOffsets"] = json.dumps(starting_offsets)
    else:
        if starting_offsets not in ("earliest", "latest"):
            raise ValueError("starting_offsets must be earliest/latest or a dict")
        opts["startingOffsets"] = starting_offsets
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def starting_offsets_from_watermarks(
    topic: str, committed: dict[int, int], default: str = "earliest"
) -> dict | str:
    """Committed high watermarks (last APPLIED offset per partition) →
    Spark ``startingOffsets`` JSON (FIRST offset to read per partition).

    The +1 is the same resume arithmetic as the reference's
    nextWatermark = highWatermark + 1 (KafkaSource.java:544-614). A
    partition with no committed watermark gets -2 (Spark's "earliest"
    per-partition sentinel) or -1 ("latest") per ``default`` — the
    bootstrap policy for partitions added after the last run."""
    if not committed:
        return default
    sentinel = -2 if default == "earliest" else -1
    return {
        topic: {str(p): int(v) + 1 if v >= 0 else sentinel for p, v in committed.items()}
    }


def kafka_wire_to_changelog(
    batch_df: DataFrame, value_schema: T.StructType
) -> DataFrame:
    """Map the Kafka source's wire schema onto the engine's changelog shape:
    ``partition``/``offset`` become ``log_partition``/``log_offset`` (the
    engine's fencing keys), and the JSON payload in ``value`` is decoded to
    the changelog columns (op, url, warc_ts, html, ... — whatever
    ``value_schema`` declares). Pure column expressions (from_json +
    unbase64) — no Python in the record path, same discipline as the rest
    of the engine (≈ KafkaExtractor decode + converter chain).

    Binary changelog columns (e.g. html) travel base64 inside the JSON —
    declare them StringType in ``value_schema`` with a ``_b64`` suffix and
    this decodes them back to binary."""
    parsed = batch_df.select(
        F.col("partition").cast("int").alias("log_partition"),
        F.col("offset").cast("long").alias("log_offset"),
        F.from_json(F.col("value").cast("string"), value_schema).alias("_v"),
    )
    cols = []
    for f in value_schema.fields:
        if f.name.endswith("_b64"):
            cols.append(F.unbase64(F.col(f"_v.{f.name}")).alias(f.name[: -len("_b64")]))
        else:
            cols.append(F.col(f"_v.{f.name}").alias(f.name))
    return parsed.select("log_partition", "log_offset", *cols)


def tail_kafka(
    engine,
    brokers: str,
    topic: str,
    checkpoint_dir: str,
    value_schema: T.StructType,
    max_offsets_per_trigger: int | None = None,
    available_now: bool = False,
    trigger_seconds: int | None = None,
    on_batch=None,
):
    """Streaming tail over a real Kafka topic: resume offsets come from the
    TABLE's committed watermarks (authoritative even if the stream checkpoint
    is lost), the wire batch is mapped to changelog shape, and the identical
    ``apply_stream_batch`` body applies it with gaps-and-islands fencing.

    Requires the spark-sql-kafka runtime jar + a reachable broker; the
    sandbox has neither, so this function is exercised via its transform +
    foreachBatch body over a static wire-schema DataFrame, and this entry is
    covered by the skip-marked broker test (same deployable-claim pattern as
    the Iceberg backend)."""
    opts = kafka_stream_options(
        brokers,
        topic,
        starting_offsets=starting_offsets_from_watermarks(
            topic, engine.committed_watermarks()
        ),
        max_offsets_per_trigger=max_offsets_per_trigger,
    )
    stream = engine.spark.readStream.format("kafka").options(**opts).load()

    def _apply(batch_df, epoch_id: int):
        changelog = kafka_wire_to_changelog(batch_df, value_schema)
        result = engine.apply_stream_batch(changelog, batch_id=f"kafka-{epoch_id:06d}")
        if on_batch is not None:
            on_batch(result)

    writer = stream.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", os.path.join(checkpoint_dir, "kafka-stream")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
