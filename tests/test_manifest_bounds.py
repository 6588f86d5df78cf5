"""Delta-mode manifest growth bounds (VERDICT r2 #6).

Delta commits append one generation entry per touched bucket; unbounded,
the manifest grows linearly with commit count and the read-side collapse
grows with it. The cap (`max_generations`) folds any overflowing bucket
back to one entry INSIDE the same commit (LSM-style), so manifest size is
≤ n_buckets·cap entries forever, and the re-compaction trigger reads file
counts recorded in the manifest at commit time instead of listing the
filesystem. Reference intent: Iceberg manifest lists keep metadata bounded
per snapshot (gobblin-iceberg/.../IcebergMetadataWriter.java commit path).
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest

from gobblin_spark.compaction import (
    RecompactionConditions,
    _bucket_file_stats,
    recompaction_due,
)
from gobblin_spark.lake import SnapshotTable
from tests.test_iceberg_backend import SCHEMA, _updates


def _mk(spark, tmp, cap=3):
    return SnapshotTable.create(
        spark, os.path.join(tmp, "t"), SCHEMA, key="url", n_buckets=4, max_generations=cap
    )


def test_delta_generations_capped_and_fold_preserves_lww(spark, tmp_path):
    cap = 3
    t = _mk(spark, str(tmp_path), cap=cap)
    oracle: dict[str, tuple] = {}  # url -> (ts_s, off, text, deleted)
    folded_any = False
    for i in range(14):
        url = f"u{i % 5}"
        deleted = i == 9
        rows = [(url, f"v{i}", i % 50, i, deleted)]
        oracle[url] = (i % 50, i, f"v{i}", deleted)
        res = t.merge(_updates(spark, rows), mode="delta")
        folded_any = folded_any or bool(res.get("folded_buckets"))
        # a fold writes each bucket whole from one task: one file, as counted
        for b in res.get("folded_buckets") or []:
            e = t.manifest()["buckets"].get(str(b))
            if e is None:  # the bucket held only rows that no longer exist
                continue
            d = os.path.join(t.root, e["data"], f"_bucket={b}")
            assert len([f for f in os.listdir(d) if f.endswith(".parquet")]) == 1
            assert e["files"] == 1
        # invariant after EVERY commit: no bucket exceeds the cap
        for e in t.manifest()["buckets"].values():
            entries = e if isinstance(e, list) else [e]
            assert len(entries) <= cap

    assert folded_any, "cap was never hit — test parameters too loose"
    expect = {u for u, (_, _, _, d) in oracle.items() if not d}
    got = {r["url"]: r["text"] for r in t.read_visible().collect()}
    assert set(got) == expect
    for u in expect:
        assert got[u] == oracle[u][2]
    # a tombstone folded into the single entry still fences older replays
    dead = next(u for u, (_, _, _, d) in oracle.items() if d)
    t.merge(_updates(spark, [(dead, "resurrect", 0, 0)]), mode="delta")
    assert dead not in {r["url"] for r in t.read_visible().collect()}


def test_manifest_size_bounded_over_many_commits(spark, tmp_path):
    cap = 2
    t = _mk(spark, str(tmp_path), cap=cap)
    sizes = []
    for i in range(12):
        t.merge(_updates(spark, [(f"u{i % 7}", f"v{i}", 1, i)]), mode="delta")
        m_path = os.path.join(t.root, "meta", f"v{t.version:06d}.json")
        sizes.append(os.path.getsize(m_path))
        n_entries = sum(
            len(e) if isinstance(e, list) else 1 for e in t.manifest()["buckets"].values()
        )
        assert n_entries <= t.n_buckets * cap
    # bounded: the last manifests are not growing linearly with commit count
    assert max(sizes[-3:]) <= 2 * max(sizes[:3])


def test_recompaction_trigger_is_manifest_only(spark, tmp_path, monkeypatch):
    t = _mk(spark, str(tmp_path))
    t.merge(_updates(spark, [("a", "v1", 1, 1), ("b", "v1", 1, 2)]))
    t.manifest()  # prime the cache; the trigger must not touch the fs at all

    def bomb(*a, **k):
        raise AssertionError("recompaction_due touched the filesystem (listdir)")

    monkeypatch.setattr(os, "listdir", bomb)
    monkeypatch.setattr(os.path, "isdir", bomb)
    verdict = recompaction_due(t, RecompactionConditions(max_tombstone_ratio=None))
    assert "max_files_per_bucket" in verdict["stats"]


def test_manifest_records_real_file_counts(spark, tmp_path):
    t = _mk(spark, str(tmp_path))
    t.merge(_updates(spark, [(f"u{i}", "x", 1, i) for i in range(8)]))
    m = t.manifest()
    for b, e in m["buckets"].items():
        entry = e if isinstance(e, dict) else e[0]
        on_disk = sum(
            1
            for f in os.listdir(os.path.join(t.root, entry["data"], f"_bucket={b}"))
            if f.endswith(".parquet")
        )
        assert entry["files"] == on_disk >= 1
    max_files, total = _bucket_file_stats(t)
    assert max_files >= 1 and total == sum(
        (e if isinstance(e, dict) else e[0])["files"] for e in m["buckets"].values()
    )


def test_pre_filecount_manifests_still_evaluate(spark, tmp_path):
    """Backward compat: manifests written before file counts existed (no
    'files' key) default to 1 file per entry instead of crashing."""
    t = _mk(spark, str(tmp_path))
    t.merge(_updates(spark, [("a", "v1", 1, 1)]))
    m_path = os.path.join(t.root, "meta", f"v{t.version:06d}.json")
    with open(m_path) as f:
        m = json.load(f)
    for e in m["buckets"].values():
        (e if isinstance(e, dict) else e[0]).pop("files", None)
    with open(m_path, "w") as f:
        json.dump(m, f)
    t2 = SnapshotTable(spark, t.root)
    max_files, total = _bucket_file_stats(t2)
    assert max_files == 1 and total == len(m["buckets"])
