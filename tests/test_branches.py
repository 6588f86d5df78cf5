"""Named refs (branches/tags) + write-audit-publish on the snapshot table.

Re-expresses Iceberg's SnapshotRef model (branches as writable history
lines, tags as immutable markers, fast_forward as the publish step) and
Gobblin's staged publish (DataPublisher staging->final move,
gobblin-core/.../publisher/BaseDataPublisher.java) at the snapshot layer:
the WAP pattern is commit-to-branch -> audit the branch -> one atomic
pointer swap to main.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from gobblin_spark.lake import SnapshotTable
from gobblin_spark.retention import (
    NewestKRetentionPolicy,
    apply_retention,
    list_versions,
    remove_orphans,
)
from tests.test_iceberg_backend import SCHEMA, _updates


def _mk(spark, tmp_path, **kw) -> SnapshotTable:
    return SnapshotTable.create(
        spark, os.path.join(str(tmp_path), "t"), SCHEMA, key="url", n_buckets=4, **kw
    )


def _state(t: SnapshotTable) -> set[tuple]:
    return {(r["url"], r["text"]) for r in t.read_visible().collect()}


def test_branch_write_isolated_from_main(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(_updates(spark, [("a", "base", 1, 1)]))
    main_before = _state(t)

    b = t.create_branch("audit")
    b.merge(_updates(spark, [("b", "staged", 1, 2)]))
    assert _state(b) == {("a", "base"), ("b", "staged")}

    # main handle (fresh, simulating another reader process) sees nothing
    fresh = SnapshotTable(spark, t.root)
    assert _state(fresh) == main_before
    assert fresh.version == t.version
    assert t.refs()["audit"]["type"] == "branch"


def test_wap_publish_fast_forward(spark, tmp_path):
    """The WAP cycle: stage commits on a branch, audit, publish with one
    pointer swap; main lands exactly on the audited snapshot."""
    t = _mk(spark, tmp_path)
    t.merge(_updates(spark, [("a", "base", 1, 1)]))
    b = t.create_branch("wap")
    b.merge(_updates(spark, [("b", "new", 1, 2)]))
    b.merge(_updates(spark, [("a", "updated", 2, 3), ("c", "x", 2, 4)]))

    # audit step: quality gate over the BRANCH (none of this touched main)
    audited = b.read_visible().filter("text IS NOT NULL").count()
    assert audited == 3

    published = t.fast_forward("wap")
    assert published == b.version
    fresh = SnapshotTable(spark, t.root)
    assert fresh.version == published
    assert _state(fresh) == {("a", "updated"), ("b", "new"), ("c", "x")}


def test_fast_forward_refuses_diverged(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(_updates(spark, [("a", "base", 1, 1)]))
    b = t.create_branch("side")
    b.merge(_updates(spark, [("b", "branch-only", 1, 2)]))
    t.merge(_updates(spark, [("c", "main-only", 1, 3)]))  # main advances too
    with pytest.raises(ValueError, match="diverged"):
        SnapshotTable(spark, t.root).fast_forward("side")


def test_fast_forward_validates_against_disk_head(spark, tmp_path):
    """fast_forward must see a commit that landed AFTER this handle cached
    its manifest — the stale cached head would otherwise let the swap
    silently discard the concurrent commit."""
    t = _mk(spark, tmp_path)
    t.merge(_updates(spark, [("u1", "a", 1, 1), ("u2", "b", 2, 2)]))
    br = t.create_branch("audit")
    br.merge(_updates(spark, [("u3", "c", 5, 5)]), mode="delta")
    # a concurrent writer advances MAIN after `t` cached its manifest
    other = SnapshotTable(spark, t.root)
    other.merge(_updates(spark, [("u4", "d", 6, 6)]), mode="delta")
    # main's new head is NOT an ancestor of the audit branch tip → the
    # publish must refuse rather than discard u4's commit
    with pytest.raises(ValueError, match="diverged"):
        t.fast_forward("audit")
    assert SnapshotTable(spark, t.root).read().filter(F.col("url") == "u4").count() == 1


def test_fast_forward_happy_path_still_publishes(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(_updates(spark, [("u1", "a", 1, 1), ("u2", "b", 2, 2)]))
    br = t.create_branch("audit")
    br.merge(_updates(spark, [("u3", "c", 5, 5)]), mode="delta")
    t.fast_forward("audit")
    assert SnapshotTable(spark, t.root).read().filter(F.col("url") == "u3").count() == 1


def test_branch_versions_never_collide_with_main(spark, tmp_path):
    """Interleaved main/branch commits share one version namespace: every
    commit gets a fresh number, no manifest or data dir is ever clobbered,
    and both lines replay their own history faithfully."""
    t = _mk(spark, tmp_path)
    t.merge(_updates(spark, [("a", "m1", 1, 1)]))
    b = t.create_branch("side")
    b.merge(_updates(spark, [("x", "b1", 1, 2)]))
    t._manifest = None  # main handle re-reads after the branch commit
    t.merge(_updates(spark, [("a", "m2", 2, 3)]))
    b.merge(_updates(spark, [("x", "b2", 2, 4)]))
    versions = sorted(
        int(f[1:-5])
        for f in os.listdir(os.path.join(t.root, "meta"))
        if f.startswith("v") and f.endswith(".json")
    )
    assert len(versions) == len(set(versions)) == 5  # create + 4 commits
    t2 = SnapshotTable(spark, t.root)
    assert _state(t2) == {("a", "m2")}
    assert _state(t2.branch("side")) == {("a", "m1"), ("x", "b2")}
    # per-commit changelog on MAIN walks its parent chain across the gaps
    ch = t2.changes_between(0, t2.version, granularity="per_commit")
    assert {(r["url"], r["_change_type"]) for r in ch.collect()} == {
        ("a", "insert"),
        ("a", "update"),
    }


def test_tag_is_immutable_and_readable(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(_updates(spark, [("a", "v1", 1, 1)]))
    t.create_tag("release-1")
    t.merge(_updates(spark, [("a", "v2", 2, 2)]))
    tag = t.branch("release-1")
    assert _state(tag) == {("a", "v1")}  # pinned to the tagged snapshot
    with pytest.raises(ValueError, match="immutable"):
        tag.merge(_updates(spark, [("b", "nope", 3, 3)]))
    assert _state(SnapshotTable(spark, t.root)) == {("a", "v2")}


def test_retention_protects_ref_heads(spark, tmp_path):
    """NewestK retention over a history with a branch + tag: ref heads are
    pinned like the current version — a live line is never severed."""
    t = _mk(spark, tmp_path)
    t.merge(_updates(spark, [("a", "v1", 1, 1)]))
    t.create_tag("keepme")  # pins the current head (v1)
    tag_v = t.version
    b = t.create_branch("line")
    b.merge(_updates(spark, [("z", "branch", 1, 9)]))
    branch_v = b.version
    for i in range(3):
        t._manifest = None
        t.merge(_updates(spark, [("a", f"v{i + 2}", i + 2, i + 2)]))
    removed = apply_retention(SnapshotTable(spark, t.root), NewestKRetentionPolicy(1))
    assert tag_v not in removed and branch_v not in removed
    assert _state(t.branch("keepme")) == {("a", "v1")}
    assert _state(t.branch("line")) == {("a", "v1"), ("z", "branch")}
    protected = {v.version for v in list_versions(t) if v.is_current}
    assert {tag_v, branch_v, SnapshotTable(spark, t.root).version} <= protected


def test_expire_snapshots_protects_ref_heads(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(_updates(spark, [("a", "v1", 1, 1)]))
    b = t.create_branch("line")
    b.merge(_updates(spark, [("z", "b", 1, 2)]))
    for i in range(3):
        t._manifest = None
        t.merge(_updates(spark, [("a", f"v{i + 2}", i + 2, i + 3)]))
    expired = SnapshotTable(spark, t.root).expire_snapshots(keep_last=1)
    assert b.version not in expired
    assert _state(t.branch("line")) == {("a", "v1"), ("z", "b")}


def test_drop_ref_releases_retention_pin(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(_updates(spark, [("a", "v1", 1, 1)]))
    b = t.create_branch("tmp-line")
    b.merge(_updates(spark, [("z", "staged", 1, 2)]))
    doomed = b.version
    t._manifest = None
    t.merge(_updates(spark, [("a", "v2", 2, 3)]))
    t.drop_ref("tmp-line")
    with pytest.raises(KeyError):
        t.branch("tmp-line")
    removed = apply_retention(SnapshotTable(spark, t.root), NewestKRetentionPolicy(1))
    assert doomed in removed
    # orphan sweep afterwards leaves only referenced artifacts
    res = remove_orphans(
        SnapshotTable(spark, t.root), grace_s=0.0, now=os.path.getmtime(t.root) + 10**6
    )
    live = set().union(
        *(v.data_dirs for v in list_versions(SnapshotTable(spark, t.root)))
    )
    on_disk = {f"data/{d}" for d in os.listdir(os.path.join(t.root, "data"))}
    assert on_disk == live
    assert res["kept_recent"] == []


def test_engine_writes_to_branch_then_publishes(spark, tmp_path):
    """WAP with the ingest engine itself: the engine commits micro-batches
    to a branch handle (watermark fencing and all), the audit reads the
    branch, and publish is one fast_forward."""
    from gobblin_spark.engine import CdcEngine

    t = _mk(spark, tmp_path)
    t.merge(_updates(spark, [("seed", "s", 1, 0)]))
    branch = t.create_branch("staging")
    from pyspark.sql import functions as F

    eng = CdcEngine(spark, branch)
    events = spark.createDataFrame(
        [
            ("u1", "<html><body>one</body></html>".encode(), "U", 1, 0),
            ("u2", "<html><body>two</body></html>".encode(), "U", 1, 1),
        ],
        "url string, html binary, op string, log_partition int, log_offset long",
    ).withColumn("warc_ts", F.lit("2026-01-01 00:00:01").cast("timestamp"))
    eng.apply_stream_batch(events, batch_id="wap-b1")
    # main untouched during staging
    assert _state(SnapshotTable(spark, t.root)) == {("seed", "s")}
    assert branch.read_visible().count() == 3
    SnapshotTable(spark, t.root).fast_forward("staging")
    assert SnapshotTable(spark, t.root).read_visible().count() == 3


def test_create_ref_validations(spark, tmp_path):
    t = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="invalid ref name"):
        t.create_branch("main")
    with pytest.raises(ValueError, match="invalid ref name"):
        t.create_branch("bad/name")
    t.create_branch("ok-1")
    with pytest.raises(ValueError, match="already exists"):
        t.create_branch("ok-1")
    with pytest.raises(FileNotFoundError):
        t.create_branch("at-missing", at_version=99)
    with pytest.raises(KeyError):
        t.branch("never-made")
