"""Final-table-state equivalence under replay (FIXTURES.md §5 cases a-e;
the reference behaviors being mirrored: replay fencing
IcebergMetadataWriter.java:1098-1121, LWW dedup RecordKeyDedupReducerBase.java:58-76,
watermark resume State-Management-and-Watermarks.md)."""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import functions as F

from gobblin_spark.engine import CdcEngine
from gobblin_spark.fixtures import make_changelog, write_changelog
from gobblin_spark.lake import SnapshotTable
from gobblin_spark.planner import OffsetRange
from gobblin_spark.state import StateStore

from conftest import table_fingerprint
from helpers import oracle_final, setup_pipeline, visible_with_offset


def test_a_single_full_replay(spark, tmp_path):
    pages, clog, table, eng = setup_pipeline(spark, str(tmp_path))
    eng.run(os.path.join(str(tmp_path), "changelog"))  # one big batch
    assert table_fingerprint(visible_with_offset(table)) == table_fingerprint(
        oracle_final(clog, pages)
    )


def test_b_k_batches_equal_single(spark, tmp_path):
    pages, clog, table, eng = setup_pipeline(spark, str(tmp_path))
    results = eng.run(os.path.join(str(tmp_path), "changelog"), max_events_per_batch=60)
    assert len(results) > 3
    assert table_fingerprint(visible_with_offset(table)) == table_fingerprint(
        oracle_final(clog, pages)
    )
    # watermarks advanced to the changelog highs
    wm = eng.committed_watermarks()
    highs = clog.groupby("log_partition")["log_offset"].max().to_dict()
    assert wm == {int(k): int(v) for k, v in highs.items()}


def test_c_crash_resume_from_checkpoint(spark, tmp_path):
    """Apply half the batches, then resume with FRESH objects built only from
    what is on disk — state store + table properties."""
    tmp = str(tmp_path)
    pages, clog, table, eng = setup_pipeline(spark, tmp)
    eng.run(os.path.join(tmp, "changelog"), max_events_per_batch=80, max_batches=2)
    # "crash": rebuild everything from disk
    table2 = SnapshotTable(spark, os.path.join(tmp, "table"))
    eng2 = CdcEngine(spark, table2, StateStore(os.path.join(tmp, "state")))
    # state store agrees with authoritative table properties
    doc = eng2.state.get_current("cdc")
    assert doc is not None
    assert {int(k): int(v) for k, v in doc["watermarks"].items()} == eng2.committed_watermarks()
    eng2.run(os.path.join(tmp, "changelog"), max_events_per_batch=80)
    assert table_fingerprint(visible_with_offset(table2)) == table_fingerprint(
        oracle_final(clog, pages)
    )


def test_c2_state_store_loss_rederives_from_table(spark, tmp_path):
    """Tampering/absence of the state store must not matter: watermarks are
    re-derived from the table's own committed properties (FIXTURES.md §6)."""
    tmp = str(tmp_path)
    pages, clog, table, eng = setup_pipeline(spark, tmp)
    eng.run(os.path.join(tmp, "changelog"), max_events_per_batch=100, max_batches=1)
    import shutil

    shutil.rmtree(os.path.join(tmp, "state"))
    table2 = SnapshotTable(spark, os.path.join(tmp, "table"))
    eng2 = CdcEngine(spark, table2, StateStore(os.path.join(tmp, "state")))
    eng2.run(os.path.join(tmp, "changelog"))
    assert table_fingerprint(visible_with_offset(table2)) == table_fingerprint(
        oracle_final(clog, pages)
    )


def test_d_duplicate_batch_is_fenced_and_noop(spark, tmp_path):
    tmp = str(tmp_path)
    pages, clog, table, eng = setup_pipeline(spark, tmp)
    changelog = spark.read.parquet(os.path.join(tmp, "changelog"))
    eng.run(changelog)
    fp = table_fingerprint(visible_with_offset(table))
    # exact duplicate of an already-committed range → fenced skip
    wm = eng.committed_watermarks()
    p0 = sorted(wm)[0]
    dup = [OffsetRange(p0, -1, min(10, wm[p0]))]
    res = eng.apply_batch(changelog, dup)
    assert res["skipped"] is True
    # forced re-apply (fence bypassed by a partially-new range) still cannot
    # corrupt state: the LWW merge guard makes old events no-ops
    forced = [OffsetRange(p, -1, wm[p]) for p in sorted(wm)]
    eng2 = CdcEngine(spark, table)  # no fence help from state
    # make one range "new" by pretending a lower committed watermark
    table.update_properties({"watermarks": {str(p): -1 for p in wm}})
    eng2.apply_batch(changelog, forced)
    table.update_properties({"watermarks": {str(p): int(v) for p, v in wm.items()}})
    assert table_fingerprint(visible_with_offset(table)) == fp


def test_e_schema_evolution_segment(spark, tmp_path):
    """changelog_v2 continues offsets and adds fetch_status / widens
    content_length int→long; old rows read as null/upcast (FIXTURES.md §3)."""
    tmp = str(tmp_path)
    pages, clog, table, eng = setup_pipeline(spark, tmp, n_events=300)
    eng.run(os.path.join(tmp, "changelog"), max_events_per_batch=120)

    highs = clog.groupby("log_partition")["log_offset"].max().astype(int).to_dict()
    start = {int(p): int(v) + 1 for p, v in highs.items()}
    clog2 = make_changelog(
        150, n_urls=40, n_partitions=4, seed=99, start_offsets=start, v2=True
    )
    write_changelog(clog2, os.path.join(tmp, "changelog_v2"))
    eng.run(os.path.join(tmp, "changelog_v2"))

    assert "fetch_status" in table.schema().fieldNames()
    import pandas as pd

    full = pd.concat([clog, clog2], ignore_index=True)
    full["content_length"] = full["content_length"].astype("Int64")
    got = visible_with_offset(table)
    exp = oracle_final(full, pages)
    assert table_fingerprint(got) == table_fingerprint(exp)
    # typed checks: content_length is long, fetch_status nullable int
    sch = {f.name: f.dataType.typeName() for f in table.schema().fields}
    assert sch["content_length"] == "long"
    assert sch["fetch_status"] == "integer"
    # rows from the v1 segment carry null fetch_status
    v1_urls = got[got["log_offset"] <= max(highs.values())]
    assert len(v1_urls) > 0


def test_quality_errors_diverted(spark, tmp_path):
    """Rows failing row-level policies are diverted, not committed
    (ERR_FILE semantics, RowLevelPolicy.java:33-68)."""
    import numpy as np
    import pandas as pd

    tmp = str(tmp_path)
    pages, clog, table, eng = setup_pipeline(spark, tmp, n_events=200, bootstrap=False)
    bad = clog.head(6).copy()
    bad["op"] = ["X", "X", "I", "I", "U", "U"]
    bad.loc[bad.index[2] :, "html"] = None  # I/U without html → invalid
    bad["log_offset"] = [
        clog[clog.log_partition == p]["log_offset"].max() + i + 1
        for i, p in enumerate(bad["log_partition"])
    ]
    full = pd.concat([clog, bad], ignore_index=True)
    write_changelog(full, os.path.join(tmp, "clog_bad"))
    res = eng.run(os.path.join(tmp, "clog_bad"))
    total_errors = sum(r["quality_errors"] for r in res if not r.get("skipped"))
    assert total_errors == 6
    errs = spark.read.parquet(os.path.join(tmp, "errors"))
    assert errs.count() == 6
    # and the final state still matches the oracle folded over VALID rows only
    valid = full[
        full["op"].isin(["I", "U", "D"])
        & (full["url"].notna())
        & ((full["op"] == "D") | full["html"].notna())
    ]
    assert table_fingerprint(visible_with_offset(table)) == table_fingerprint(
        oracle_final(valid, None)
    )


def test_rejected_row_bucket_is_not_affected(spark, tmp_path):
    """Affected-bucket discovery reads the quality-filtered batch: in a
    rewrite-mode batch too small for the all-buckets shortcut, a bucket that
    holds only a rejected row (op I, NULL html) is neither read nor reported
    as affected."""
    tmp = str(tmp_path)
    pages, clog, table, eng = setup_pipeline(
        spark, tmp, n_events=20, n_urls=2, bootstrap=False
    )
    hit = {table.bucket_of(u) for u in clog["url"]}
    url = next(
        u
        for u in (f"https://rejected.example/{i}" for i in range(100))
        if table.bucket_of(u) not in hit
    )
    bad = clog.tail(1).copy()
    part = bad["log_partition"].iloc[0]
    bad["url"], bad["op"], bad["html"] = url, "I", None
    bad["log_offset"] = clog[clog.log_partition == part]["log_offset"].max() + 1
    full = pd.concat([clog, bad], ignore_index=True)
    assert len(full) < 64 * table.n_buckets
    write_changelog(full, os.path.join(tmp, "clog_bad"))
    [res] = eng.run(os.path.join(tmp, "clog_bad"))
    assert res["quality_errors"] == 1
    assert res["affected_buckets"] == sorted(hit)


def test_c3_crash_at_every_batch_boundary(spark, tmp_path):
    """Systematic crash sweep: for several crash points k (batches applied
    before the 'crash') and BOTH commit modes, rebuilding from disk and
    resuming always converges to the oracle final state — the exactly-once
    claim holds at every boundary, not just the one test_c picked.

    Each mode runs at two bucket counts; at local[4] the engine's exchange
    is min(n_buckets, 4) wide, equal to the bucket count at 2 and narrower
    than it at 8. Every bucket any commit wrote is ONE file: a bucket never
    spans two tasks, whatever the width."""
    import shutil

    for mode in ("rewrite", "delta"):
        for k, n_buckets in ((1, 2), (3, 8)):
            tmp = os.path.join(str(tmp_path), f"{mode}_{k}")
            os.makedirs(tmp)
            pages, clog, table, eng = setup_pipeline(spark, tmp, n_buckets=n_buckets)
            assert table.exchange_width() == min(n_buckets, 4)
            eng.merge_mode = mode
            done = eng.run(
                os.path.join(tmp, "changelog"), max_events_per_batch=60, max_batches=k
            )
            assert len(done) == k
            # crash: fresh objects from disk only
            table2 = SnapshotTable(spark, os.path.join(tmp, "table"))
            eng2 = CdcEngine(
                spark,
                table2,
                StateStore(os.path.join(tmp, "state")),
                merge_mode=mode,
            )
            eng2.run(os.path.join(tmp, "changelog"), max_events_per_batch=60)
            assert table_fingerprint(visible_with_offset(table2)) == table_fingerprint(
                oracle_final(clog, pages)
            ), (mode, k)
            entries = [
                e
                for v in range(table2.version + 1)
                for b in table2.manifest_at(v)["buckets"].values()
                for e in SnapshotTable._bucket_entries(b)
            ]
            assert entries and all(e["files"] == 1 for e in entries), (mode, k, entries)
            shutil.rmtree(tmp, ignore_errors=True)


def test_lww_strategies_replay_to_identical_state(spark, tmp_path):
    """'repartition' (one raw-row exchange) and 'combine' (map-side partial
    LWW, two deduped exchanges) are PHYSICAL variants of the same operator —
    full replays through each must land byte-identical table state."""
    prints = []
    for strat in ("repartition", "combine"):
        tmp = str(tmp_path / strat)
        pages, clog, table, _ = setup_pipeline(spark, tmp)
        eng = CdcEngine(
            spark,
            table,
            StateStore(os.path.join(tmp, "state2")),
            job_id=f"lww-{strat}",
            lww_strategy=strat,
        )
        eng.run(os.path.join(tmp, "changelog"), max_events_per_batch=150)
        prints.append(table_fingerprint(visible_with_offset(table)))
    assert prints[0] == prints[1]
