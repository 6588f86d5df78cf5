"""Round-2 regression tests: TIMESTAMP ↔ TIMESTAMP_NTZ session portability
and the stream offset-gap guard."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F
from pyspark.sql import types as T

from gobblin_spark.engine import CdcEngine
from gobblin_spark.lake import SnapshotTable
from gobblin_spark.schema import merge_schemas

SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("n", T.IntegerType()),
    ]
)

HIDDEN = T.StructType(
    list(SCHEMA.fields)
    + [
        T.StructField("_version_ts", T.TimestampType()),
        T.StructField("_version_off", T.LongType()),
        T.StructField("_deleted", T.BooleanType()),
    ]
)


def _ts(s):
    return dt.datetime(2026, 1, 1) + dt.timedelta(seconds=s)


def _upd(spark, rows, schema=HIDDEN):
    return spark.createDataFrame(
        [(u, _ts(s), n, _ts(s), off, deleted) for (u, s, n, off, deleted) in rows], schema
    )


def test_timestamp_ntz_schema_compat(spark, tmp_path):
    """TIMESTAMP vs TIMESTAMP_NTZ is a session artifact: merge keeps the
    table's flavor and the incoming side is cast (VERDICT r1 #1)."""
    old = T.StructType([T.StructField("warc_ts", T.TimestampType())])
    new = T.StructType([T.StructField("warc_ts", T.TimestampNTZType())])
    assert merge_schemas(old, new)["warc_ts"].dataType == T.TimestampType()
    assert merge_schemas(new, old)["warc_ts"].dataType == T.TimestampNTZType()

    # end-to-end: NTZ updates into a TS table (the driver's vanilla session
    # reads parquet event timestamps as NTZ; the table was created with TS)
    t = SnapshotTable.create(spark, str(tmp_path / "t"), SCHEMA, key="url", n_buckets=4)
    ntz_hidden = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampNTZType()),
            T.StructField("n", T.IntegerType()),
            T.StructField("_version_ts", T.TimestampNTZType()),
            T.StructField("_version_off", T.LongType()),
            T.StructField("_deleted", T.BooleanType()),
        ]
    )
    t.merge(_upd(spark, [("a", 1, 1, 10, False), ("b", 2, 2, 11, False)], ntz_hidden))
    assert t.schema()["warc_ts"].dataType == T.TimestampType()  # table flavor kept
    rows = {r["url"]: r["warc_ts"] for r in t.read_visible().collect()}
    assert rows["a"] == _ts(1) and rows["b"] == _ts(2)
    # LWW still works across the cast: newer NTZ update replaces older TS row
    t.merge(_upd(spark, [("a", 9, 100, 20, False)], ntz_hidden))
    assert {r["n"] for r in t.read_visible().filter(F.col("url") == "a").collect()} == {100}


def test_engine_replay_with_ntz_changelog(spark, tmp_path):
    """Full engine run over a changelog whose warc_ts is TIMESTAMP_NTZ and a
    table schema derived from it — the round-1 driver-env crash scenario."""
    data = [
        ("u1", "U", _ts(1), b"h1", 0, 0),
        ("u1", "U", _ts(5), b"h2", 0, 1),
        ("u2", "U", _ts(2), b"h3", 0, 2),
        ("u2", "D", _ts(9), None, 0, 3),
    ]
    clog_schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("op", T.StringType()),
            T.StructField("warc_ts", T.TimestampNTZType()),
            T.StructField("html", T.BinaryType()),
            T.StructField("log_partition", T.IntegerType()),
            T.StructField("log_offset", T.LongType()),
        ]
    )
    clog = spark.createDataFrame(data, clog_schema)
    meta = {"op", "log_partition", "log_offset"}
    schema = T.StructType([f for f in clog_schema.fields if f.name not in meta])
    t = SnapshotTable.create(spark, str(tmp_path / "t"), schema, key="url", n_buckets=4)
    CdcEngine(spark, t, job_id="ntz", extract=False).run(clog)
    rows = {r["url"]: bytes(r["html"]) for r in t.read_visible().collect()}
    assert rows == {"u1": b"h2"}  # u2 deleted, u1 latest wins


def test_stream_gap_holds_watermark_and_applies_late_rows(spark, tmp_path):
    """A micro-batch with an offset gap applies its rows but commits the
    watermark only to the highest contiguous offset; the late-arriving middle
    rows still land when their batch shows up (ADVICE r1, medium)."""
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("html", T.BinaryType()),
        ]
    )
    t = SnapshotTable.create(spark, str(tmp_path / "t"), schema, key="url", n_buckets=4)
    engine = CdcEngine(spark, t, job_id="gap", extract=False)

    clog_schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("op", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("html", T.BinaryType()),
            T.StructField("log_partition", T.IntegerType()),
            T.StructField("log_offset", T.LongType()),
        ]
    )

    def batch(rows):
        return spark.createDataFrame(rows, clog_schema)

    # offsets 0,1,3,4 — offset 2's file is discovered late
    engine.apply_stream_batch(
        batch(
            [
                ("a", "U", _ts(0), b"v0", 0, 0),
                ("b", "U", _ts(1), b"v1", 0, 1),
                ("d", "U", _ts(3), b"v3", 0, 3),
                ("e", "U", _ts(4), b"v4", 0, 4),
            ]
        ),
        batch_id="b1",
    )
    assert engine.committed_watermarks() == {0: 1}  # held at the gap
    # the applied-but-disconnected run rides the same commit
    assert t.properties["pending_ranges"] == {"0": [[3, 4]]}
    # all four rows WERE applied (idempotent re-application is safe)
    assert t.read_visible().count() == 4

    # the late file arrives: offset 2, plus a new offset 5 — the pending
    # [3,4] run merges and the watermark jumps to the full contiguous prefix
    engine.apply_stream_batch(
        batch(
            [
                ("c", "U", _ts(2), b"v2", 0, 2),
                ("f", "U", _ts(5), b"v5", 0, 5),
            ]
        ),
        batch_id="b2",
    )
    assert engine.committed_watermarks() == {0: 5}
    assert t.properties["pending_ranges"] == {}
    assert {r["url"] for r in t.read_visible().collect()} == {"a", "b", "c", "d", "e", "f"}

    # an in-order batch with no gaps advances normally
    engine.apply_stream_batch(batch([("g", "U", _ts(6), b"v6", 0, 6)]), batch_id="b3")
    assert engine.committed_watermarks() == {0: 6}
    assert t.read_visible().count() == 7
