"""Optimistic-concurrency commit protocol (Iceberg SnapshotProducer retry
semantics re-expressed on the filesystem table): two writers race on the same
table; validation under the commit lock detects the head move; rebasable
shapes (delta generation appends, property deltas) retry against the fresh
head, rewrite shapes raise ``CommitConflictError``.

Reference protocol: gobblin-iceberg/.../writer/IcebergMetadataWriter.java:893
(commitTransaction → Iceberg's validate-and-retry loop)."""

from __future__ import annotations

import datetime as dt
import os
import time

import pytest
from pyspark.sql import types as T

from gobblin_spark.lake import CommitConflictError, SnapshotTable

SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("n", T.IntegerType()),
    ]
)


def _upd(spark, rows, schema=None):
    """Rows: (url, ts, n, *extra_cols, off, deleted) against ``schema``
    ordered (url, warc_ts, n, *extra)."""
    base = schema or SCHEMA
    data = [
        (
            u,
            dt.datetime(2026, 1, 1) + dt.timedelta(seconds=ts),
            n,
            *extra,
            dt.datetime(2026, 1, 1) + dt.timedelta(seconds=ts),
            off,
            deleted,
        )
        for (u, ts, n, *extra, off, deleted) in rows
    ]
    return spark.createDataFrame(
        data,
        T.StructType(
            list(base.fields)
            + [
                T.StructField("_version_ts", T.TimestampType()),
                T.StructField("_version_off", T.LongType()),
                T.StructField("_deleted", T.BooleanType()),
            ]
        ),
    )


def _two_handles(spark, tmp_path, **kw):
    root = str(tmp_path / "t")
    a = SnapshotTable.create(spark, root, SCHEMA, key="url", n_buckets=4, **kw)
    b = SnapshotTable(spark, root)
    b.manifest()  # cache v0 — b is now a STALE handle once a commits
    return a, b


def test_property_commit_rebases(spark, tmp_path):
    a, b = _two_handles(spark, tmp_path)
    a.update_properties({"wm.p0": "10"})
    b.update_properties({"wm.p1": "20"})  # stale base → conflict → rebase
    fresh = SnapshotTable(spark, a.root)
    assert fresh.properties["wm.p0"] == "10"
    assert fresh.properties["wm.p1"] == "20"
    assert fresh.version == 2  # two commits, sequential versions


def test_delta_merge_rebases_and_keeps_both_batches(spark, tmp_path):
    a, b = _two_handles(spark, tmp_path)
    # rows land in overlapping buckets on purpose: generation appends are
    # commutative under LWW, so overlapping buckets still rebase
    ra = a.merge(
        _upd(spark, [("a", 1, 1, 10, False), ("b", 1, 2, 11, False)]), mode="delta"
    )
    assert not ra.get("rebased")
    rb = b.merge(
        _upd(spark, [("a", 5, 100, 20, False), ("c", 1, 3, 21, False)]), mode="delta"
    )
    assert rb["rebased"] is True
    assert rb["version"] > ra["version"]
    fresh = SnapshotTable(spark, a.root)
    rows = {r["url"]: r["n"] for r in fresh.read_visible().collect()}
    # both batches survive; LWW picked the newer "a"
    assert rows == {"a": 100, "b": 2, "c": 3}
    # the loser's data dir was uniquified, not clobbered over the winner's
    dirs = sorted(os.listdir(os.path.join(a.root, "data")))
    assert any(d.startswith("v000001-w") for d in dirs), dirs


def test_delta_rebase_preserves_concurrent_properties(spark, tmp_path):
    a, b = _two_handles(spark, tmp_path)
    a.merge(
        _upd(spark, [("a", 1, 1, 10, False)]),
        mode="delta",
        properties={"wm.p0": "10"},
    )
    b.merge(
        _upd(spark, [("b", 1, 2, 11, False)]),
        mode="delta",
        properties={"wm.p1": "20"},
    )
    fresh = SnapshotTable(spark, a.root)
    # the rebase merged ONTO the fresh head's properties: a's watermark kept
    assert fresh.properties["wm.p0"] == "10"
    assert fresh.properties["wm.p1"] == "20"


def test_rewrite_merge_conflict_raises(spark, tmp_path):
    a, b = _two_handles(spark, tmp_path)
    a.merge(_upd(spark, [("a", 1, 1, 10, False)]))
    with pytest.raises(CommitConflictError):
        b.merge(_upd(spark, [("b", 1, 2, 11, False)]))
    # caller replays against the refreshed table and succeeds
    b._manifest = None
    b.merge(_upd(spark, [("b", 1, 2, 11, False)]))
    rows = {r["url"]: r["n"] for r in SnapshotTable(spark, a.root).read_visible().collect()}
    assert rows == {"a": 1, "b": 2}


def test_conflicting_schema_evolution_aborts_rebase(spark, tmp_path):
    a, b = _two_handles(spark, tmp_path)
    plus_x = T.StructType(list(SCHEMA.fields) + [T.StructField("x", T.StringType())])
    plus_y = T.StructType(list(SCHEMA.fields) + [T.StructField("y", T.StringType())])
    a.merge(_upd(spark, [("a", 1, 1, "ax", 10, False)], plus_x), mode="delta")
    # b's files carry column y but not a's new column x → cannot be tagged
    # as the current schema; the conflict must surface, not silently drop x
    with pytest.raises(CommitConflictError):
        b.merge(_upd(spark, [("b", 1, 2, "by", 11, False)], plus_y), mode="delta")


def test_delta_rebase_on_sharded_manifest(spark, tmp_path):
    a, b = _two_handles(spark, tmp_path, manifest_shards=2)
    a.merge(_upd(spark, [("a", 1, 1, 10, False)]), mode="delta")
    rb = b.merge(_upd(spark, [("b", 1, 2, 11, False)]), mode="delta")
    assert rb["rebased"] is True
    rows = {r["url"]: r["n"] for r in SnapshotTable(spark, a.root).read_visible().collect()}
    assert rows == {"a": 1, "b": 2}


def test_delta_rebase_defers_fold(spark, tmp_path):
    """A rebased delta merge appends its generation WITHOUT folding, even
    past ``max_generations``; the next delta commit on the bucket folds it."""
    a, b = _two_handles(spark, tmp_path, max_generations=1)
    a.merge(_upd(spark, [("a", 1, 1, 10, False)]), mode="delta")
    rb = b.merge(
        _upd(spark, [("a", 5, 2, 20, False), ("z", 1, 3, 21, False)]), mode="delta"
    )
    assert rb["rebased"] is True
    assert rb["folded_buckets"] == []
    fresh = SnapshotTable(spark, a.root)
    bucket = fresh.bucket_of("a")
    gens = fresh._bucket_entries(fresh.manifest()["buckets"][str(bucket)])
    assert len(gens) > 1  # over the cap of 1: the fold was deferred
    # LWW of both batches
    assert {r["url"]: r["n"] for r in fresh.read_visible().collect()} == {"a": 2, "z": 3}
    rc = fresh.merge(_upd(spark, [("a", 9, 4, 30, False)]), mode="delta")
    assert not rc["rebased"]
    assert bucket in rc["folded_buckets"]
    assert len(fresh._bucket_entries(fresh.manifest()["buckets"][str(bucket)])) == 1
    rows = {r["url"]: r["n"] for r in SnapshotTable(spark, a.root).read_visible().collect()}
    assert rows == {"a": 4, "z": 3}


def _seeded(spark, tmp_path):
    t = SnapshotTable.create(spark, str(tmp_path / "t"), SCHEMA, key="url", n_buckets=4)
    t.merge(_upd(spark, [("u1", 1, 10, 1, False), ("u2", 2, 30, 2, False)]))
    return t


def test_alloc_data_rel_claims_atomically(spark, tmp_path):
    t = _seeded(spark, tmp_path)
    r1 = t._alloc_data_rel(99)
    r2 = t._alloc_data_rel(99)  # second claimant must get a DISTINCT dir
    assert r1 != r2
    assert os.path.isdir(os.path.join(t.root, r1))
    assert os.path.isdir(os.path.join(t.root, r2))


def test_concurrent_delta_writers_do_not_clobber_data(spark, tmp_path):
    """Both writers base on the same head and race delta commits: writer B
    rebases, and — critically — A's data files survive B's overwrite-mode
    write (the pre-fix bug: both picked data/v2, B's write deleted A's
    files, A's committed manifest referenced clobbered data)."""
    t = _seeded(spark, tmp_path)
    a = SnapshotTable(spark, t.root)
    b = SnapshotTable(spark, t.root)
    a.manifest(), b.manifest()
    ra = a.merge(_upd(spark, [("u1", 10, 11, 10, False)]), mode="delta")
    rb = b.merge(_upd(spark, [("u2", 11, 31, 11, False)]), mode="delta")
    assert rb.get("rebased")
    rows = {r["url"]: r["n"] for r in SnapshotTable(spark, t.root).read().collect()}
    assert rows == {"u1": 11, "u2": 31}, (ra, rb)


def test_stale_lock_reclaim_leaves_fresh_lock_alone(spark, tmp_path, monkeypatch):
    """A lock that is refreshed between the waiter's stat and its reclaim
    attempt must NOT be stolen: the content re-verification restores it."""
    t = _seeded(spark, tmp_path)
    lock = os.path.join(t.root, "meta", "_lock.main")
    with open(lock, "w") as f:
        f.write("dead-writer\n")
    old = time.time() - 3600
    os.utime(lock, (old, old))
    monkeypatch.setattr(SnapshotTable, "LOCK_TIMEOUT_S", 5.0)
    # normal reclaim still works end-to-end
    t.update_properties({"k": "v"})
    assert SnapshotTable(spark, t.root).properties["k"] == "v"
    assert not os.path.exists(lock)


def test_stale_lock_reclaim_no_leftover_claim_files(spark, tmp_path, monkeypatch):
    t = _seeded(spark, tmp_path)
    lock = os.path.join(t.root, "meta", "_lock.main")
    with open(lock, "w") as f:
        f.write("dead\n")
    old = time.time() - 3600
    os.utime(lock, (old, old))
    monkeypatch.setattr(SnapshotTable, "LOCK_TIMEOUT_S", 5.0)
    t.update_properties({"k": "v"})
    leftovers = [
        f for f in os.listdir(os.path.join(t.root, "meta")) if ".reclaim-" in f
    ]
    assert leftovers == []


def test_stale_lock_is_reclaimed(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "t")
    t = SnapshotTable.create(spark, root, SCHEMA, key="url", n_buckets=4)
    lock = os.path.join(root, "meta", "_lock.main")
    with open(lock, "w") as f:
        f.write("dead-writer\n")
    old = time.time() - 3600
    os.utime(lock, (old, old))
    monkeypatch.setattr(SnapshotTable, "LOCK_TIMEOUT_S", 5.0)
    t.update_properties({"k": "v"})  # reclaims the stale lock, commits
    assert SnapshotTable(spark, root).properties["k"] == "v"
    assert not os.path.exists(lock)


def test_held_lock_times_out(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "t")
    t = SnapshotTable.create(spark, root, SCHEMA, key="url", n_buckets=4)
    lock = os.path.join(root, "meta", "_lock.main")
    with open(lock, "w") as f:
        f.write("live-writer\n")  # fresh mtime: a writer mid-swap
    monkeypatch.setattr(SnapshotTable, "LOCK_TIMEOUT_S", 0.3)
    with pytest.raises(TimeoutError):
        t.update_properties({"k": "v"})
    os.unlink(lock)
