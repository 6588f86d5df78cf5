"""Merge-on-read predicate deletes (Iceberg v2 equality-delete analogue):
``delete_where(mode="delta")`` is a metadata-only O(1) commit recording the
predicate + a version fence; read() tombstones matching fenced rows
post-LWW-collapse; compact()/rewrites materialize the purge and clear the
predicate. Reference protocol: Iceberg DeleteFile sequence-number fencing;
gobblin-modules/gobblin-compliance purge semantics."""

from __future__ import annotations

import datetime as dt
import os
import time

import pyarrow.parquet as pq
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

EPOCH = dt.datetime(2026, 1, 1)


def _us(sec: int) -> int:
    return int((EPOCH + dt.timedelta(seconds=sec)).timestamp() * 1e6)


def _upd(spark, rows):
    """rows: (url, ts_sec, n, off, deleted)."""
    data = [
        (u, EPOCH + dt.timedelta(seconds=ts), n, EPOCH + dt.timedelta(seconds=ts), off, deleted)
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


def _table(spark, tmp_path, **kw):
    t = SnapshotTable.create(spark, str(tmp_path / "t"), SCHEMA, key="url", n_buckets=4, **kw)
    t.merge(
        _upd(
            spark,
            [
                ("a", 10, 5, 1, False),
                ("b", 10, 50, 2, False),
                ("c", 10, 99, 3, False),
                ("d", 10, 7, 4, False),
            ],
        ),
        mode="delta",
    )
    return t


def _vis(t):
    return {r["url"]: r["n"] for r in t.read_visible().collect()}


def test_delta_delete_is_metadata_only_and_hides_rows(spark, tmp_path):
    t = _table(spark, tmp_path)
    dirs_before = sorted(os.listdir(os.path.join(t.root, "data")))
    res = t.delete_where("n >= 50", mode="delta")
    assert res["mode"] == "delta" and res["pending_delete_preds"] == 1
    # O(1): the commit wrote NO data files
    assert sorted(os.listdir(os.path.join(t.root, "data"))) == dirs_before
    assert _vis(SnapshotTable(spark, t.root)) == {"a": 5, "d": 7}


def test_purge_does_not_resurrect_older_version(spark, tmp_path):
    t = _table(spark, tmp_path)
    # newer version of "a" matches the predicate; the older (n=5) does not —
    # the purge must remove the KEY, not fall back to the stale version
    t.merge(_upd(spark, [("a", 20, 500, 5, False)]), mode="delta")
    t.delete_where("n >= 50", mode="delta")
    assert _vis(SnapshotTable(spark, t.root)) == {"d": 7}


def test_later_upsert_resurrects_key_past_fence(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.delete_where("n >= 50", mode="delta", fence_ts_us=_us(100))
    # re-upsert AFTER the fence: survives even though it matches the pred
    t.merge(_upd(spark, [("b", 200, 1000, 9, False)]), mode="delta")
    assert _vis(SnapshotTable(spark, t.root)) == {"a": 5, "d": 7, "b": 1000}


def test_late_row_under_fence_stays_purged(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.delete_where("n >= 50", mode="delta", fence_ts_us=_us(100))
    # late-arriving row versioned BELOW the fence and matching: still purged
    t.merge(_upd(spark, [("e", 50, 77, 9, False)]), mode="delta")
    assert _vis(SnapshotTable(spark, t.root)) == {"a": 5, "d": 7}


def test_time_travel_sees_pre_delete_rows(spark, tmp_path):
    t = _table(spark, tmp_path)
    v_before = t.version
    t.delete_where("n >= 50", mode="delta")
    fresh = SnapshotTable(spark, t.root)
    assert {r["url"] for r in fresh.read(at_version=v_before).collect()} == {
        "a",
        "b",
        "c",
        "d",
    }
    assert _vis(fresh) == {"a": 5, "d": 7}


def test_compact_materializes_purge_and_clears_preds(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.delete_where("n >= 50", mode="delta")
    t = SnapshotTable(spark, t.root)
    t.compact()
    m = t.manifest()
    assert m.get("delete_preds") == []
    # the purged payload is physically GONE from the new snapshot's files
    data_dirs = {e["data"] for ent in m["buckets"].values() for e in t._bucket_entries(ent)}
    survivors = set()
    for rel in data_dirs:
        for bdir in os.listdir(os.path.join(t.root, rel)):
            full = os.path.join(t.root, rel, bdir)
            for fn in os.listdir(full):
                if fn.endswith(".parquet"):
                    survivors |= set(
                        pq.read_table(os.path.join(full, fn), columns=["url"])["url"].to_pylist()
                    )
    assert survivors == {"a", "d"}
    assert _vis(t) == {"a": 5, "d": 7}


def test_rewrite_delete_clears_pending_preds(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.delete_where("n >= 50", mode="delta")
    t = SnapshotTable(spark, t.root)
    t.delete_where(F.col("n") < 6)  # rewrite mode, Column pred
    t = SnapshotTable(spark, t.root)
    assert t.manifest().get("delete_preds") == []
    assert _vis(t) == {"d": 7}


def test_changes_between_classifies_purge_as_delete(spark, tmp_path):
    t = _table(spark, tmp_path)
    v_before = t.version
    t.delete_where("n >= 50", mode="delta")
    t = SnapshotTable(spark, t.root)
    ch = {
        r["url"]: r["_change_type"]
        for r in t.changes_between(v_before, t.version).collect()
    }
    assert ch == {"b": "delete", "c": "delete"}


def test_null_predicate_keeps_row(spark, tmp_path):
    t = _table(spark, tmp_path)
    # evolve schema: new column x is null on all existing rows
    plus_x = T.StructType(
        list(SCHEMA.fields) + [T.StructField("x", T.IntegerType())]
    )
    up = spark.createDataFrame(
        [("e", EPOCH, 1, 42, EPOCH, 9, False)],
        T.StructType(
            list(plus_x.fields)
            + [
                T.StructField("_version_ts", T.TimestampType()),
                T.StructField("_version_off", T.LongType()),
                T.StructField("_deleted", T.BooleanType()),
            ]
        ),
    )
    t.merge(up, mode="delta")
    t = SnapshotTable(spark, t.root)
    t.delete_where("x >= 10", mode="delta")
    # NULL x on a/b/c/d evaluates NULL → rows kept; only e (x=42) purged
    assert _vis(SnapshotTable(spark, t.root)) == {"a": 5, "b": 50, "c": 99, "d": 7}


def test_delete_where_null_condition_keeps_rows(spark, tmp_path):
    """Purge condition evaluating to NULL must KEEP the row (rewrite mode)."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), SCHEMA, key="url", n_buckets=4)
    t.merge(
        _upd(spark, [("a", 1, 5, 10, False), ("b", 2, None, 11, False), ("c", 3, 50, 12, False)])
    )
    t.delete_where(F.col("n") > 10)  # NULL for b — must not purge b
    assert {r["url"] for r in t.read_visible().collect()} == {"a", "b"}


def test_delta_purge_default_fence_covers_future_dated_events(spark, tmp_path):
    """Rows with event timestamps AHEAD of the driver wall clock must not
    escape a default-fenced compliance purge (pre-fix: fence defaulted to
    time.time(), compared against event-time versions)."""
    t = _table(spark, tmp_path)
    # 30 days ahead of wall clock, as seconds past EPOCH for _upd
    future = dt.datetime.fromtimestamp(int(time.time() + 86400 * 30))
    sec = int((future - EPOCH).total_seconds())
    t.merge(_upd(spark, [("u9", sec, 999, 9, False)]), mode="delta")
    res = t.delete_where("n >= 999", mode="delta")  # default fence
    assert res["mode"] == "delta"
    assert SnapshotTable(spark, t.root).read().filter(F.col("url") == "u9").count() == 0
    # and the fence is still a point-in-time statement: a LATER re-upsert
    # matching the predicate resurrects
    SnapshotTable(spark, t.root).merge(
        _upd(spark, [("u9", sec + 10, 999, 10, False)]), mode="delta"
    )
    assert (
        SnapshotTable(spark, t.root).read().filter(F.col("url") == "u9").count() == 1
    )


def test_delta_delete_requires_sql_string(spark, tmp_path):
    t = _table(spark, tmp_path)
    with pytest.raises(TypeError):
        t.delete_where(F.col("n") >= 50, mode="delta")
    with pytest.raises(Exception):
        t.delete_where("n >>>= 50", mode="delta")  # unparseable SQL fails fast


def test_stacked_preds_and_sharded_manifest(spark, tmp_path):
    t = _table(spark, tmp_path, manifest_shards=2)
    t.delete_where("n >= 90", mode="delta")
    t2 = SnapshotTable(spark, t.root)
    t2.delete_where("n <= 5", mode="delta")
    fresh = SnapshotTable(spark, t.root)
    assert _vis(fresh) == {"b": 50, "d": 7}
    fresh.compact()
    final = SnapshotTable(spark, t.root)
    assert final.manifest().get("delete_preds") == []
    assert _vis(final) == {"b": 50, "d": 7}
