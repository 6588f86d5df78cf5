"""Engine-level partial-image (patch) ingest — CdcEngine(fold="patch").

The reference exposes delta-field comparison as a pluggable job-level knob
(gobblin-compaction/.../avro/AvroKeyDedupReducer.java:82-93); here the
analogous knob routes the run loop through operators/patch.py's per-column
last-non-null-after-tombstone fold while sharing the fencing / watermark /
quality / commit path with fold="lww".

Covered: batch-split invariance (1/2/4 batches == operator single-pass),
crash-replay (re-running after a committed prefix is fenced + idempotent),
delta vs rewrite equivalence, tombstone reset across a batch boundary, and
the null-for-unchanged inheritance a full-row LWW fold would corrupt.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gobblin_spark.engine import CdcEngine
from gobblin_spark.lake import SnapshotTable
from gobblin_spark.operators.patch import patch_merge

SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("a", T.IntegerType()),
        T.StructField("b", T.StringType()),
    ]
)


def _changelog(spark, n_keys=40, n_events=400):
    """Deterministic partial-image feed: versions monotone per key (the
    binlog contract), column images dropped on mod-3/mod-5 cycles, every
    7th event a tombstone."""
    ev = spark.range(n_events).select(
        F.concat(F.lit("k"), (F.col("id") % n_keys).cast("string")).alias("url"),
        F.timestamp_seconds(F.col("id") + 1).alias("warc_ts"),
        F.when(F.col("id") % 7 == 3, "D").otherwise("U").alias("op"),
        F.when(F.col("id") % 3 != 0, (F.col("id") * 11 % 97).cast("int")).alias("a"),
        F.when(F.col("id") % 5 != 0, F.concat(F.lit("v"), F.col("id"))).alias("b"),
        (F.col("id") % 4).cast("int").alias("log_partition"),
        F.col("id").alias("log_offset"),
    )
    return ev


def _final_state(spark, root):
    t = SnapshotTable(spark, f"{root}/t")
    return sorted(
        tuple(r) for r in t.read().select("url", "a", "b", "warc_ts").collect()
    )


def _run(spark, root, clog, n_batches=1, mode="delta", **kw):
    t = SnapshotTable.create(spark, f"{root}/t", SCHEMA, key="url", n_buckets=8)
    eng = CdcEngine(
        spark,
        t,
        job_id="p",
        extract=False,
        fold="patch",
        patch_cols=["a", "b"],
        merge_mode=mode,
        **kw,
    )
    n = clog.count()
    eng.run(clog, max_events_per_batch=max(1, n // n_batches + 1))
    return t


def _operator_expected(clog):
    """Single-pass operator fold over the full history — the independent
    witness the engine must match for every batch split."""
    folded = patch_merge(
        clog,
        ["url"],
        ["warc_ts", "log_offset"],
        ["a", "b"],
        F.col("op") == "D",
    )
    return sorted(
        tuple(r)
        for r in folded.select(
            "url", "a", "b", F.col("last_warc_ts").alias("warc_ts")
        ).collect()
    )


@pytest.mark.parametrize("mode", ["delta", "rewrite"])
@pytest.mark.parametrize("n_batches", [1, 2, 4])
def test_batch_split_invariance(spark, tmp_path, mode, n_batches):
    clog = _changelog(spark)
    expected = _operator_expected(clog)
    root = str(tmp_path / f"{mode}-{n_batches}")
    _run(spark, root, clog, n_batches=n_batches, mode=mode)
    assert _final_state(spark, root) == expected


def test_crash_replay_is_fenced_and_idempotent(spark, tmp_path):
    """Commit a prefix, 'crash', then re-run the WHOLE changelog with a
    fresh engine built only from disk state: the committed prefix must be
    fenced out (skipped) and the final state must equal a clean run."""
    clog = _changelog(spark)
    expected = _operator_expected(clog)
    root = str(tmp_path / "crash")
    t = SnapshotTable.create(spark, f"{root}/t", SCHEMA, key="url", n_buckets=8)
    eng = CdcEngine(
        spark, t, job_id="p", extract=False, fold="patch",
        patch_cols=["a", "b"], merge_mode="delta",
    )
    n = clog.count()
    eng.run(clog, max_events_per_batch=n // 3 + 1, max_batches=1)
    mid_version = t.version
    # crash: fresh objects from disk only
    t2 = SnapshotTable(spark, f"{root}/t")
    eng2 = CdcEngine(
        spark, t2, job_id="p", extract=False, fold="patch",
        patch_cols=["a", "b"], merge_mode="delta",
    )
    eng2.run(clog, max_events_per_batch=n // 3 + 1)
    assert _final_state(spark, root) == expected
    # replaying everything again is a pure no-op (plan fences on watermarks)
    v_done = SnapshotTable(spark, f"{root}/t").version
    eng3 = CdcEngine(
        spark, SnapshotTable(spark, f"{root}/t"), job_id="p", extract=False,
        fold="patch", patch_cols=["a", "b"], merge_mode="delta",
    )
    results = eng3.run(clog)
    assert all(r.get("skipped", True) for r in results) or results == []
    assert SnapshotTable(spark, f"{root}/t").version == v_done
    assert v_done > mid_version


def test_null_for_unchanged_crosses_batches(spark, tmp_path):
    """The case a full-row LWW fold corrupts: batch 2 patches only column b;
    column a must survive from batch 1."""
    rows = [
        ("u", 1, "U", 10, "x", 0, 1),
        ("u", 2, "U", None, "y", 0, 2),
    ]
    df = spark.createDataFrame(
        rows, "url string, sec int, op string, a int, b string, "
        "log_partition int, log_offset long"
    ).select(
        "url", F.timestamp_seconds("sec").alias("warc_ts"), "op", "a", "b",
        "log_partition", "log_offset",
    )
    root = str(tmp_path / "inherit")
    t = SnapshotTable.create(spark, f"{root}/t", SCHEMA, key="url", n_buckets=4)
    eng = CdcEngine(
        spark, t, job_id="p", extract=False, fold="patch",
        patch_cols=["a", "b"], merge_mode="delta",
    )
    eng.run(df.filter(F.col("log_offset") == 1))
    eng.run(df.filter(F.col("log_offset") == 2))
    got = [tuple(r) for r in t.read().select("url", "a", "b").collect()]
    assert got == [("u", 10, "y")]


def test_tombstone_resets_across_batches(spark, tmp_path):
    """Delete in batch 2, partial re-create in batch 3: pre-delete column
    values must NOT resurrect."""
    rows = [
        ("u", 1, "U", 10, "x", 0, 1),
        ("u", 2, "D", None, None, 0, 2),
        ("u", 3, "U", None, "z", 0, 3),
    ]
    df = spark.createDataFrame(
        rows, "url string, sec int, op string, a int, b string, "
        "log_partition int, log_offset long"
    ).select(
        "url", F.timestamp_seconds("sec").alias("warc_ts"), "op", "a", "b",
        "log_partition", "log_offset",
    )
    root = str(tmp_path / "reset")
    t = SnapshotTable.create(spark, f"{root}/t", SCHEMA, key="url", n_buckets=4)
    eng = CdcEngine(
        spark, t, job_id="p", extract=False, fold="patch",
        patch_cols=["a", "b"], merge_mode="rewrite",
    )
    for off in (1, 2, 3):
        eng.run(df.filter(F.col("log_offset") == off))
    got = [tuple(r) for r in t.read().select("url", "a", "b").collect()]
    assert got == [("u", None, "z")]


def test_pure_tombstone_batch_deletes(spark, tmp_path):
    """A batch whose only event for a key is a tombstone must delete it."""
    rows = [
        ("u", 1, "U", 10, "x", 0, 1),
        ("u", 2, "D", None, None, 0, 2),
    ]
    df = spark.createDataFrame(
        rows, "url string, sec int, op string, a int, b string, "
        "log_partition int, log_offset long"
    ).select(
        "url", F.timestamp_seconds("sec").alias("warc_ts"), "op", "a", "b",
        "log_partition", "log_offset",
    )
    root = str(tmp_path / "tomb")
    t = SnapshotTable.create(spark, f"{root}/t", SCHEMA, key="url", n_buckets=4)
    eng = CdcEngine(
        spark, t, job_id="p", extract=False, fold="patch",
        patch_cols=["a", "b"], merge_mode="delta",
    )
    eng.run(df.filter(F.col("log_offset") == 1))
    assert t.read().count() == 1
    eng.run(df.filter(F.col("log_offset") == 2))
    assert t.read().count() == 0


def test_patch_fold_requires_patch_cols():
    with pytest.raises(ValueError, match="patch_cols"):
        CdcEngine(None, None, fold="patch")
    with pytest.raises(ValueError, match="unknown fold"):
        CdcEngine(None, None, fold="bogus")


def _fold(events):
    """Driver-side reference fold: replay the changelog in version order row
    by row — the semantics patch_merge must reproduce in one aggregate."""
    state = {}
    for ts, eid, key, op, a, b in sorted(events, key=lambda e: (e[0], e[1])):
        if op == "D":
            state.pop(key, None)
        else:
            row = state.setdefault(key, {"a": None, "b": None})
            if a is not None:
                row["a"] = a
            if b is not None:
                row["b"] = b
            row["v"] = (ts, eid)
    return state


EVENTS = [
    # key 1: plain patches, no delete — per-column last non-null
    (1, 1, 1, "U", 10, None),
    (2, 2, 1, "U", None, "x"),
    (3, 3, 1, "U", 20, None),
    # key 2: delete resets; only column a re-written afterwards
    (1, 4, 2, "U", 1, "old"),
    (2, 5, 2, "D", None, None),
    (3, 6, 2, "U", 7, None),
    # key 3: trailing tombstone — row must NOT survive
    (1, 7, 3, "U", 5, "gone"),
    (9, 8, 3, "D", None, None),
    # key 4: delete then nothing live before it either (insert after)
    (1, 9, 4, "D", None, None),
    (2, 10, 4, "U", None, "fresh"),
    # key 5: same ts, ordering falls to event_id; later eid wins
    (5, 11, 5, "U", 100, None),
    (5, 12, 5, "U", 200, None),
]


def test_patch_merge_matches_reference_fold(spark):
    df = spark.createDataFrame(
        EVENTS, "ts long, event_id long, k long, op string, a long, b string"
    )
    out = patch_merge(
        df, ["k"], ["ts", "event_id"], ["a", "b"], F.col("op") == "D"
    )
    got = {r["k"]: r.asDict() for r in out.collect()}
    exp = _fold(EVENTS)
    assert sorted(got) == sorted(exp)
    for k, row in exp.items():
        assert got[k]["a"] == row["a"], (k, got[k], row)
        assert got[k]["b"] == row["b"], (k, got[k], row)
        assert (got[k]["last_ts"], got[k]["last_event_id"]) == row["v"]


def test_patch_merge_is_single_exchange(spark):
    df = spark.createDataFrame(
        EVENTS, "ts long, event_id long, k long, op string, a long, b string"
    )
    plan = patch_merge(
        df, ["k"], ["ts", "event_id"], ["a", "b"], F.col("op") == "D"
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan  # one hash agg, map-side combined
