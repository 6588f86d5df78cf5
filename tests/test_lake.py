"""SnapshotTable unit tests: atomic commit, properties, schema merge, bucket
pruning, compaction, snapshot expiry (≈ IcebergMetadataWriterTest sequences,
gobblin-iceberg/src/test/.../writer/IcebergMetadataWriterTest.java:215-560)."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gobblin_spark.lake import SnapshotTable

SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("n", T.IntegerType()),
    ]
)


def _upd(spark, rows):
    data = [
        (u, dt.datetime(2026, 1, 1) + dt.timedelta(seconds=ts), n, dt.datetime(2026, 1, 1) + dt.timedelta(seconds=ts), off, deleted)
        for (u, ts, n, off, deleted) in rows
    ]
    return spark.createDataFrame(
        data,
        T.StructType(
            list(SCHEMA.fields)
            + [
                T.StructField("_version_ts", T.TimestampType()),
                T.StructField("_version_off", T.LongType()),
                T.StructField("_deleted", T.BooleanType()),
            ]
        ),
    )


def test_create_read_empty(spark, tmp_path):
    t = SnapshotTable.create(spark, str(tmp_path / "t"), SCHEMA, key="url", n_buckets=4)
    assert t.read_visible().count() == 0
    assert t.version == 0
    assert SnapshotTable.exists(str(tmp_path / "t"))


def test_merge_upsert_delete_lww(spark, tmp_path):
    t = SnapshotTable.create(spark, str(tmp_path / "t"), SCHEMA, key="url", n_buckets=4)
    t.merge(_upd(spark, [("a", 1, 1, 10, False), ("b", 1, 2, 11, False)]))
    # newer update wins; older loses; delete tombstones
    t.merge(
        _upd(
            spark,
            [("a", 5, 100, 20, False), ("b", 0, 999, 21, False), ("c", 1, 3, 22, False)],
        )
    )
    rows = {r["url"]: r["n"] for r in t.read_visible().collect()}
    assert rows == {"a": 100, "b": 2, "c": 3}
    t.merge(_upd(spark, [("a", 9, 0, 30, True)]))
    assert {r["url"] for r in t.read_visible().collect()} == {"b", "c"}
    # tombstone remembers version: older resurrect attempt is a no-op
    t.merge(_upd(spark, [("a", 7, 123, 31, False)]))
    assert {r["url"] for r in t.read_visible().collect()} == {"b", "c"}
    # but a genuinely newer insert wins over the tombstone
    t.merge(_upd(spark, [("a", 11, 42, 32, False)]))
    assert {r["url"]: r["n"] for r in t.read_visible().collect()}["a"] == 42


def test_merge_affected_superset_keeps_table_readable(spark, tmp_path):
    """An affected bucket with no target rows and no update rows must not get
    a manifest entry pointing at a nonexistent path."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), SCHEMA, key="url", n_buckets=8)
    # affected = ALL buckets (the engine's coupon-collector shortcut) while
    # the single update row lands in exactly one bucket
    t.merge(_upd(spark, [("a", 1, 1, 10, False)]), affected=list(range(8)))
    assert t.read_visible().count() == 1  # must not raise PATH_NOT_FOUND
    # a second merge (reads affected buckets) must also survive
    t.merge(_upd(spark, [("b", 2, 2, 11, False)]), affected=list(range(8)))
    assert {r["url"] for r in t.read_visible().collect()} == {"a", "b"}
    # no bucket entry points at a missing _bucket dir
    for b, e in t.manifest()["buckets"].items():
        assert os.path.isdir(str(tmp_path / "t" / e["data"] / f"_bucket={b}"))


def test_merge_update_bucket_outside_affected_raises(spark, tmp_path):
    """A written bucket outside `affected` would silently drop unread target
    rows — hard error."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), SCHEMA, key="url", n_buckets=8)
    upd = _upd(spark, [("a", 1, 1, 10, False)])
    bucket = upd.select(F.pmod(F.xxhash64("url"), F.lit(8)).cast("int").alias("b")).first()["b"]
    wrong = [(bucket + 1) % 8]
    with pytest.raises(ValueError, match="outside the affected set"):
        t.merge(upd, affected=wrong)


def test_merge_prunes_unaffected_buckets(spark, tmp_path):
    t = SnapshotTable.create(spark, str(tmp_path / "t"), SCHEMA, key="url", n_buckets=16)
    t.merge(_upd(spark, [(f"u{i}", 1, i, i, False) for i in range(64)]))
    v1 = t.version
    m1 = dict(t.manifest()["buckets"])
    res = t.merge(_upd(spark, [("u0", 5, 999, 100, False)]))
    assert len(res["affected_buckets"]) == 1
    m2 = t.manifest()["buckets"]
    unchanged = [b for b in m2 if int(b) not in res["affected_buckets"]]
    assert all(m2[b] == m1[b] for b in unchanged)  # untouched buckets: zero rewrite
    assert t.version == v1 + 1


def test_properties_commit_atomic_with_data(spark, tmp_path):
    t = SnapshotTable.create(spark, str(tmp_path / "t"), SCHEMA, key="url", n_buckets=4)
    t.merge(_upd(spark, [("a", 1, 1, 10, False)]), properties={"watermarks": {"0": 10}})
    assert t.properties["watermarks"] == {"0": 10}
    # reopening from disk sees the same committed state
    t2 = SnapshotTable(spark, str(tmp_path / "t"))
    assert t2.properties["watermarks"] == {"0": 10}
    assert t2.read_visible().count() == 1


def test_uncommitted_data_invisible(spark, tmp_path):
    """Crash simulation: data + manifest written but _current not swapped →
    readers still see the old snapshot (the swap IS the commit point)."""
    root = str(tmp_path / "t")
    t = SnapshotTable.create(spark, root, SCHEMA, key="url", n_buckets=4)
    t.merge(_upd(spark, [("a", 1, 1, 10, False)]))
    cur = os.path.join(root, "meta", "_current")
    committed = open(cur).read()
    # fake a crashed attempt: orphan manifest + data dir for version 99
    with open(os.path.join(root, "meta", "v000099.json"), "w") as f:
        json.dump({**t.manifest(), "version": 99, "buckets": {}}, f)
    os.makedirs(os.path.join(root, "data", "v000099"), exist_ok=True)
    t2 = SnapshotTable(spark, root)
    assert open(cur).read() == committed
    assert t2.version == int(committed)
    assert t2.read_visible().count() == 1


def test_schema_evolution_merge_and_read(spark, tmp_path):
    t = SnapshotTable.create(spark, str(tmp_path / "t"), SCHEMA, key="url", n_buckets=4)
    t.merge(_upd(spark, [("a", 1, 1, 10, False), ("zz", 1, 2, 11, False)]))
    evolved = _upd(spark, [("b", 2, 7, 20, False)]).withColumn(
        "extra", F.lit("x")
    ).withColumn("n", F.col("n").cast("long"))
    res = t.merge(evolved)
    assert res["schema_changed"]
    sch = {f.name: f.dataType.typeName() for f in t.schema().fields}
    assert sch["extra"] == "string" and sch["n"] == "long"
    rows = {r["url"]: (r["n"], r["extra"]) for r in t.read_visible().collect()}
    assert rows["b"] == (7, "x")
    assert rows["a"] == (1, None)  # old-schema file read as widened/null-filled


def test_compact_drops_tombstones_and_snapshot_expiry(spark, tmp_path):
    t = SnapshotTable.create(spark, str(tmp_path / "t"), SCHEMA, key="url", n_buckets=4)
    t.merge(_upd(spark, [("a", 1, 1, 10, False), ("b", 1, 2, 11, False)]))
    t.merge(_upd(spark, [("a", 5, 0, 20, True)]))
    assert t.read(include_hidden=True).count() == 2  # tombstone retained
    t.compact(drop_tombstones=True)
    assert t.read(include_hidden=True).count() == 1
    assert t.read_visible().count() == 1
    removed = t.expire_snapshots(keep_last=1)
    assert removed
    t3 = SnapshotTable(spark, str(tmp_path / "t"))
    assert {r["url"] for r in t3.read_visible().collect()} == {"b"}
