"""File tail: incremental drain equivalence + exactly-once under cache loss,
redelivery and crashes (≈ TaskContinuousTest semantics,
gobblin-runtime/src/test/.../TaskContinuousTest.java:72 — stream records in,
poll committed watermarks, assert table/watermark consistency)."""

from __future__ import annotations

import datetime as dt
import io
import json
import os
import random
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gobblin_spark.fixtures import _to_arrow, make_changelog
from gobblin_spark.lake import SnapshotTable
from gobblin_spark.engine import CdcEngine, file_offset_runs, offset_islands, offset_runs
from gobblin_spark.schema import merge_schemas
from gobblin_spark.streaming import _APPLIED, drain, tail_changelog, widened_schema

from conftest import table_fingerprint
from helpers import PAGES_SCHEMA, oracle_final, py4j_calls, visible_with_offset

# test_file_tail_py4j_calls_per_microbatch measured 696 calls per batch on
# the 4-core host; the Structured Streaming tail made 1,513 on the same batches
PY4J_CALLS_PER_BATCH = 900


@pytest.fixture()
def stream_env(spark, tmp_path):
    tmp = str(tmp_path)
    clog = make_changelog(600, n_urls=60, n_partitions=4, seed=7)
    src = os.path.join(tmp, "landing")
    os.makedirs(src)
    cut = int(len(clog) * 0.6)
    seg_a, seg_b = clog.iloc[:cut], clog.iloc[cut:]
    table = SnapshotTable.create(
        spark, os.path.join(tmp, "table"), PAGES_SCHEMA, key="url", n_buckets=8
    )
    engine = CdcEngine(spark, table)
    ckpt = os.path.join(tmp, "ckpt")
    return clog, seg_a, seg_b, src, table, engine, ckpt


def _land(df, src, name):
    """Land a file as a landing zone must: written under a hidden name the
    tail does not list, then renamed in, so no pass sees half a file."""
    tmp = os.path.join(src, "." + name)
    pq.write_table(_to_arrow(df.reset_index(drop=True)), tmp)
    os.replace(tmp, os.path.join(src, name))


def test_stream_drain_incremental_equals_oracle(spark, stream_env):
    clog, seg_a, seg_b, src, table, engine, ckpt = stream_env

    _land(seg_a, src, "part-000.parquet")
    r1 = drain(engine, src, ckpt)
    assert any(not r.get("skipped") for r in r1)
    wm_after_a = engine.committed_watermarks()
    assert wm_after_a  # watermarks committed with the data

    _land(seg_b, src, "part-001.parquet")
    r2 = drain(engine, src, ckpt)
    assert any(not r.get("skipped") for r in r2)

    got = table_fingerprint(visible_with_offset(table))
    exp = table_fingerprint(oracle_final(clog, None))
    assert got == exp


def test_stream_redelivery_is_fenced(spark, stream_env):
    clog, seg_a, seg_b, src, table, engine, ckpt = stream_env
    _land(seg_a, src, "part-000.parquet")
    _land(seg_b, src, "part-001.parquet")
    drain(engine, src, ckpt)
    version = table.version
    fp = table_fingerprint(visible_with_offset(table))

    # lose the stream checkpoint: the source redelivers EVERYTHING; the
    # engine's table-level watermark fencing must skip it all
    shutil.rmtree(ckpt)
    r = drain(engine, src, ckpt)
    assert all(x.get("skipped") for x in r)
    assert table.version == version
    assert table_fingerprint(visible_with_offset(table)) == fp


def test_stream_schema_evolution_mid_tail(spark, stream_env):
    """A column added MID-TAIL (a widened file arriving after the tail
    started on the old schema) must land in the table, not be silently
    dropped: the pass widens its read schema from the file's footer and the
    batch flows through schema-merge-on-write with no restart
    (≈ KafkaSchemaChangeInjector end-to-end, now in streaming too)."""
    clog, seg_a, seg_b, src, table, engine, ckpt = stream_env

    _land(seg_a, src, "part-000.parquet")
    frozen = spark.read.parquet(src).schema  # the schema the stream froze

    widened = _to_arrow(seg_b.reset_index(drop=True)).append_column(
        "source_tag", pa.array(["crawl-b"] * len(seg_b), type=pa.string())
    )
    pq.write_table(widened, os.path.join(src, "part-001.parquet"))

    # max_files_per_trigger=1 ⇒ the old-schema file applies in batch 1 and
    # the widened file in batch 2
    results = drain(engine, src, ckpt, schema=frozen, max_files_per_trigger=1)
    applied = [r for r in results if not r.get("skipped")]
    assert len(applied) >= 2

    assert "source_tag" in table.schema().fieldNames()
    rows = table.read_visible()
    tagged = rows.filter(rows.source_tag == "crawl-b").count()
    assert tagged > 0  # the widened rows kept their new column
    # rows written before the evolution read back as NULL for the new column
    assert rows.filter(rows.source_tag.isNull()).count() > 0
    got = table_fingerprint(visible_with_offset(table))
    assert got == table_fingerprint(oracle_final(clog, None))


def test_stream_many_microbatches(spark, stream_env):
    """maxFilesPerTrigger=1 forces one micro-batch per file — same final
    state, several commits."""
    clog, seg_a, seg_b, src, table, engine, ckpt = stream_env
    third = len(clog) // 3
    for i in range(3):
        _land(clog.iloc[i * third : None if i == 2 else (i + 1) * third], src, f"f{i}.parquet")
    results = drain(engine, src, ckpt, max_files_per_trigger=1)
    assert sum(1 for r in results if not r.get("skipped")) == 3
    got = table_fingerprint(visible_with_offset(table))
    assert got == table_fingerprint(oracle_final(clog, None))


def test_stateful_lww_change_feed(spark, stream_env):
    """applyInPandasWithState custom stateful operator: per-key LWW change
    feed emits exactly the version-increasing rows, across micro-batches."""
    from gobblin_spark.streaming import stateful_lww_updates

    clog, seg_a, seg_b, src, table, engine, ckpt = stream_env
    _land(seg_a, src, "a.parquet")
    sink = os.path.join(os.path.dirname(ckpt), "feed_out")

    schema = spark.read.parquet(os.path.join(src, "a.parquet")).schema

    def drain_once():
        q = (
            stateful_lww_updates(
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src),
                key_col="url",
            )
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain_once()
    _land(seg_b, src, "b.parquet")
    drain_once()

    emitted = spark.read.parquet(sink).toPandas()

    # 1. the max emitted version per key == the batch LWW winner
    final = emitted.sort_values(["warc_ts", "log_offset"]).groupby("url").tail(1)
    batch_lww = clog.sort_values(["warc_ts", "log_offset"]).groupby("url").tail(1)
    got = {r.url: (r.warc_ts, r.log_offset) for r in final.itertuples()}
    exp = {r.url: (r.warc_ts, r.log_offset) for r in batch_lww.itertuples()}
    assert got == exp
    # 2. exactly one emission per key per STRICT improvement: seg_a's max
    #    always emits; seg_b emits iff its max beats seg_a's (stale
    #    redeliveries are suppressed by the state)
    def _maxv(df):
        top = df.sort_values(["warc_ts", "log_offset"]).groupby("url").tail(1)
        return {r.url: (r.warc_ts, r.log_offset) for r in top.itertuples()}

    ma, mb = _maxv(seg_a), _maxv(seg_b)
    expected_emissions = {
        url: (1 if url in ma else 0)
        + (1 if url in mb and (url not in ma or mb[url] > ma[url]) else 0)
        for url in set(ma) | set(mb)
    }
    n_per_key = emitted.groupby("url").size().to_dict()
    assert n_per_key == {u: n for u, n in expected_emissions.items() if n}
    # the fixture must actually exercise suppression
    assert any(n == 1 and u in ma and u in mb for u, n in expected_emissions.items())


def test_stream_gap_holds_watermark_and_applies_late_rows(spark, tmp_path):
    """A micro-batch with an offset gap applies its rows but commits the
    watermark only to the highest contiguous offset; the late-arriving middle
    rows still land when their batch shows up (ADVICE r1, medium)."""

    def ts(s):
        return dt.datetime(2026, 1, 1) + dt.timedelta(seconds=s)

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
                ("a", "U", ts(0), b"v0", 0, 0),
                ("b", "U", ts(1), b"v1", 0, 1),
                ("d", "U", ts(3), b"v3", 0, 3),
                ("e", "U", ts(4), b"v4", 0, 4),
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
                ("c", "U", ts(2), b"v2", 0, 2),
                ("f", "U", ts(5), b"v5", 0, 5),
            ]
        ),
        batch_id="b2",
    )
    assert engine.committed_watermarks() == {0: 5}
    assert t.properties["pending_ranges"] == {}
    assert {r["url"] for r in t.read_visible().collect()} == {"a", "b", "c", "d", "e", "f"}

    # an in-order batch with no gaps advances normally
    engine.apply_stream_batch(batch([("g", "U", ts(6), b"v6", 0, 6)]), batch_id="b3")
    assert engine.committed_watermarks() == {0: 6}
    assert t.read_visible().count() == 7


def _ts(s: int) -> dt.datetime:
    return dt.datetime(2026, 1, 1) + dt.timedelta(seconds=s)


CLOG_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("op", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("log_partition", T.IntegerType()),
        T.StructField("log_offset", T.LongType()),
    ]
)


def test_redelivered_gap_batch_not_recounted(spark, tmp_path):
    """Replaying a micro-batch whose above-watermark offsets are fully covered
    by pending_ranges must be a no-op: same partition_counts, same watermark,
    same pending — and a partial replay applies/counts ONLY the new slice."""
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("html", T.BinaryType()),
        ]
    )
    t = SnapshotTable.create(spark, str(tmp_path / "t"), schema, key="url", n_buckets=4)
    engine = CdcEngine(spark, t, job_id="redeliver", extract=False)

    def batch(rows):
        return spark.createDataFrame(rows, CLOG_SCHEMA)

    gap_rows = [
        ("a", "U", _ts(0), b"v0", 0, 0),
        ("b", "U", _ts(1), b"v1", 0, 1),
        ("d", "U", _ts(3), b"v3", 0, 3),
        ("e", "U", _ts(4), b"v4", 0, 4),
    ]
    engine.apply_stream_batch(batch(gap_rows), batch_id="b1")
    assert engine.committed_watermarks() == {0: 1}
    assert t.properties["pending_ranges"] == {"0": [[3, 4]]}
    assert t.properties["partition_counts"] == {"0": 4}

    # checkpoint-loss redelivery of the SAME batch: offsets 3,4 sit above the
    # watermark but inside pending_ranges — must skip, not double-count
    r = engine.apply_stream_batch(batch(gap_rows), batch_id="b1-replay")
    assert r["skipped"] is True
    assert engine.committed_watermarks() == {0: 1}
    assert t.properties["pending_ranges"] == {"0": [[3, 4]]}
    assert t.properties["partition_counts"] == {"0": 4}

    # partial replay: one already-pending offset (4) + the gap healer (2) +
    # a new offset (5) — only 2 and 5 are applied/counted
    engine.apply_stream_batch(
        batch(
            [
                ("e", "U", _ts(4), b"v4", 0, 4),
                ("c", "U", _ts(2), b"v2", 0, 2),
                ("f", "U", _ts(5), b"v5", 0, 5),
            ]
        ),
        batch_id="b2",
    )
    assert engine.committed_watermarks() == {0: 5}
    assert t.properties["pending_ranges"] == {}
    # 6 distinct offsets applied exactly once each
    assert t.properties["partition_counts"] == {"0": 6}
    assert t.read_visible().count() == 6


def test_run_bootstraps_a_log_that_starts_above_zero(spark, tmp_path):
    """Offsets 300–599 of partition 0, the lower ones expired. Stream
    batches alone leave a fresh table's watermark at −1 (their runs wait in
    ``pending_ranges`` for offsets 0–299); ``run()`` over offsets 300–399
    plans from the log's floor, and two stream batches over 400–599 then
    commit 599 with nothing pending."""
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("html", T.BinaryType()),
        ]
    )

    def rows(lo, hi):
        return spark.createDataFrame(
            [(f"k{i % 37}", "U", _ts(i), b"v%d" % i, 0, i) for i in range(lo, hi + 1)],
            CLOG_SCHEMA,
        )

    def engine(name):
        t = SnapshotTable.create(spark, str(tmp_path / name), schema, key="url", n_buckets=4)
        return t, CdcEngine(spark, t, job_id=name, extract=False)

    t, stream_only = engine("stream_only")
    stream_only.apply_stream_batch(rows(300, 399), batch_id="s0")
    assert stream_only.committed_watermarks() == {0: -1}
    assert t.properties["pending_ranges"] == {"0": [[300, 399]]}

    t, eng = engine("bootstrapped")
    eng.run(rows(300, 399))
    assert eng.committed_watermarks() == {0: 399}
    eng.apply_stream_batch(rows(400, 499), batch_id="s1")
    eng.apply_stream_batch(rows(500, 599), batch_id="s2")
    assert eng.committed_watermarks() == {0: 599}
    assert not t.properties.get("pending_ranges")


def test_stateful_lww_null_version_rows_never_win(spark, tmp_path):
    """A row with NULL warc_ts must not be selected as the batch max (pandas
    sort_values places NaT LAST in ascending order — iloc[-1] would pick it)."""
    from gobblin_spark.streaming import stateful_lww_updates

    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("log_offset", T.LongType()),
            T.StructField("payload", T.StringType()),
        ]
    )
    src = os.path.join(str(tmp_path), "src")
    spark.createDataFrame(
        [
            ("u", _ts(5), 1, "real-max"),
            ("u", _ts(1), 0, "older"),
            ("u", None, 99, "null-version"),
        ],
        schema,
    ).write.parquet(src)
    sink = os.path.join(str(tmp_path), "sink")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    q = (
        stateful_lww_updates(
            spark.readStream.schema(schema).parquet(src), key_col="url"
        )
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(sink).collect()
    assert len(rows) == 1
    assert rows[0]["payload"] == "real-max"
    assert rows[0]["log_offset"] == 1


# ------------------------------------------- offset runs: three derivations

_COMMITTED = {0: 9, 1: -1, 3: 40}  # partition 2 has nothing committed


def _offsets_case(kind: str, seed: int) -> list[tuple[int | None, int | None]]:
    """(log_partition, log_offset) rows straddling ``_COMMITTED``."""
    rng = random.Random(seed)
    if kind == "empty":
        return []
    rows = []
    for p in range(4):
        wm = _COMMITTED.get(p, -1)
        lo = max(0, wm - rng.randint(0, 6))  # some rows at/below the watermark
        hi = lo + rng.randint(8, 40)
        if kind == "fenced" and p == 3:
            hi = wm  # every row of partition 3 is already committed
        offs = list(range(lo, hi + 1))
        if kind in ("gaps", "hive"):
            offs = [o for o in offs if rng.random() > 0.2]
        if kind == "gap_and_duplicate":
            # one hole and one repeat above the watermark: the row count
            # still spans lo..hi, only the distinct count shows the hole
            hole, dup = rng.sample([o for o in offs[1:-1] if o > wm], 2)
            offs = [o for o in offs if o != hole] + [dup]
        rows += [(p, o) for o in offs]
    if kind in ("duplicates", "hive"):
        rows += rng.sample(rows, len(rows) // 3)
    if kind == "nulls":
        # a NULL partition (whose offsets would otherwise open a run) and a
        # NULL offset: neither row is in any run
        rows += [(None, 1000), (None, 1001), (2, None)]
    return rows


def _write_offsets(tmp_path, rows, hive: bool) -> list[str]:
    """Two files of ``rows``; in the hive layout one file per partition dir
    and half, with ``log_partition`` only in the dir name."""
    half = len(rows) // 2
    files = []
    for i, part in enumerate((rows[:half], rows[half:])):
        groups = {} if hive else {None: []}
        for p, o in part:
            groups.setdefault(p if hive else None, []).append((p, o))
        for p, grp in groups.items():
            cols = {"log_offset": pa.array([o for _, o in grp], pa.int64())}
            d = tmp_path
            if hive:
                d = tmp_path / f"log_partition={p}"
                d.mkdir(exist_ok=True)
            else:
                cols = {"log_partition": pa.array([q for q, _ in grp], pa.int32()), **cols}
            files.append(str(d / f"f{i}.parquet"))
            pq.write_table(pa.table(cols), files[-1])
    return files


@pytest.mark.parametrize(
    "kind,seed",
    [
        (k, s)
        for k in ("contiguous", "gaps", "duplicates", "gap_and_duplicate", "fenced")
        for s in (11, 12, 13)
    ]
    + [("empty", 0), ("hive", 11), ("hive", 12), ("nulls", 11)],
)
def test_offset_runs_equal_window_reference(spark, tmp_path, kind, seed):
    """The one-aggregate path (min/max/count-distinct, window only for a
    gapped partition) and the driver proof over the batch's files (unique
    pairs split at gaps) both yield exactly ``offset_islands``' runs."""
    rows = _offsets_case(kind, seed)
    random.Random(seed).shuffle(rows)
    files = _write_offsets(tmp_path, rows, hive=kind == "hive")
    df = spark.read.parquet(str(tmp_path))
    ref = sorted(
        (r["log_partition"], r["lo"], r["hi"])
        for r in offset_islands(df, _COMMITTED).collect()
    )
    assert offset_runs(df, _COMMITTED) == ref
    assert file_offset_runs(files, _COMMITTED) == ref
    assert file_offset_runs(["file://" + f for f in files], _COMMITTED) == ref
    if kind == "empty":
        assert ref == []
    else:
        assert ref and all(None not in r for r in ref)
    if kind == "fenced":
        assert 3 not in {p for p, _, _ in ref}
    # a file the driver cannot open sends the batch to the Spark aggregate
    assert file_offset_runs(files + ["s3a://bucket/f.parquet"], _COMMITTED) is None


def _count_tail_jobs(spark, engine, src, ckpt, group: str) -> tuple[list[dict], int]:
    """Drain one micro-batch per file under a job group set on this thread:
    the tail's loop thread inherits it, so every job of every batch counts."""
    sc = spark.sparkContext
    results: list[dict] = []
    sc.setJobGroup(group, "file tail micro-batches")
    try:
        q = tail_changelog(
            engine, src, ckpt, available_now=True, max_files_per_trigger=1, on_batch=results.append
        )
        q.awaitTermination()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return results, len(sc.statusTracker().getJobIdsForGroup(group))


def test_stream_microbatch_job_count(spark, stream_env):
    """A non-fold delta micro-batch runs at most 2 Spark jobs, schema check
    and offset proof included: both run on the driver, so the delta write's
    2 jobs are all."""
    clog, seg_a, seg_b, src, table, engine, ckpt = stream_env
    engine.merge_mode = "delta"
    quarter = len(clog) // 4
    for i in range(4):
        _land(clog.iloc[i * quarter : (i + 1) * quarter], src, f"f{i}.parquet")
    results, n_jobs = _count_tail_jobs(spark, engine, src, ckpt, "tail-job-count")
    assert len(results) == 4 and not any(r.get("skipped") for r in results)
    assert not any(r.get("folded_buckets") for r in results)
    assert n_jobs / len(results) <= 2, n_jobs


def _spark_file(spark, tmp_path, name: str, df) -> str:
    out = str(tmp_path / name)
    df.coalesce(1).write.parquet(out)
    return next(os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet"))


def test_footer_schema_check_agrees_with_spark_reader(spark, tmp_path):
    """The driver-side footer read yields the same merged schema as Spark's
    ``mergeSchema`` reader, file by file, under both TIMESTAMP_NTZ
    inference settings."""
    clog = make_changelog(40, n_urls=10, n_partitions=2, seed=3)
    base = _to_arrow(clog.reset_index(drop=True))
    arrow_files = {
        "changelog": base,
        "int_to_long": base.set_column(
            base.schema.get_field_index("log_partition"),
            "log_partition",
            base.column("log_partition").cast(pa.int64()),
        ),
        "added_column": base.append_column("source_tag", pa.array(["x"] * len(base))),
        "ntz": base.append_column("seen", base.column("warc_ts")),
        "unsigned": base.append_column("u8", pa.array([1] * len(base), pa.uint8())).append_column(
            "u32", pa.array([1] * len(base), pa.uint32())
        ),
    }
    files = []
    for name, tbl in arrow_files.items():
        files.append(str(tmp_path / f"{name}.parquet"))
        pq.write_table(tbl, files[-1])
    frozen = spark.read.parquet(files[0]).schema
    sdf = spark.read.parquet(files[0])
    same = _spark_file(spark, tmp_path, "spark_changelog", sdf)
    files.append(same)
    files.append(
        _spark_file(spark, tmp_path, "spark_ntz", sdf.withColumn("seen", F.col("warc_ts").cast("timestamp_ntz")))
    )
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    before = spark.conf.get(key)
    try:
        for ntz in ("false", "true"):
            spark.conf.set(key, ntz)
            for f in files:
                want = merge_schemas(frozen, spark.read.option("mergeSchema", True).parquet(f).schema)
                assert widened_schema(spark, frozen, ["file://" + f]) == want, (ntz, f)
    finally:
        spark.conf.set(key, before)
    # a multi-file batch of unwidened files leaves the frozen schema as is
    assert widened_schema(spark, frozen, ["file://" + files[0], "file://" + same]) == frozen


def test_widened_fenced_replay_commits_nothing(spark, stream_env):
    """A widened file whose every row is already committed (a replay after
    the listing cache is lost) widens the read schema, is fenced, and
    commits nothing; it does not raise."""
    clog, seg_a, seg_b, src, table, engine, ckpt = stream_env
    _land(seg_a, src, "part-000.parquet")
    frozen = spark.read.parquet(src).schema
    drain(engine, src, ckpt)
    version = table.version

    replay = os.path.join(os.path.dirname(src), "replay")
    os.makedirs(replay)
    widened = _to_arrow(seg_a.reset_index(drop=True))
    widened = widened.append_column("source_tag", pa.array(["x"] * len(widened)))
    pq.write_table(widened, os.path.join(replay, "part-000.parquet"))
    results = drain(engine, replay, ckpt + "-replay", schema=frozen)
    assert results and all(r.get("skipped") for r in results)
    assert table.version == version


def _thirds(clog, src, mtimes) -> None:
    """Land ``clog`` as three files of consecutive rows (each a contiguous
    offset run of every partition) whose mtimes are ``mtimes``; None leaves
    a third unlanded."""
    third = len(clog) // 3
    for i, mtime in enumerate(mtimes):
        if mtime is None:
            continue
        name = f"f{i}.parquet"
        _land(clog.iloc[i * third : None if i == 2 else (i + 1) * third], src, name)
        os.utime(os.path.join(src, name), (mtime, mtime))


def _assert_oracle_and_counts(table, clog) -> None:
    assert table_fingerprint(visible_with_offset(table)) == table_fingerprint(oracle_final(clog, None))
    per_partition = clog.groupby("log_partition").size()
    assert table.properties["partition_counts"] == {str(p): int(n) for p, n in per_partition.items()}
    assert table.properties["pending_ranges"] == {}


def test_late_file_with_older_mtime_is_applied(spark, stream_env):
    """The middle third lands after the last one, with the OLDEST mtime: the
    listing diff is by path, so it is still applied, and the gap guard held
    the watermark below it until then."""
    clog, seg_a, seg_b, src, table, engine, ckpt = stream_env
    now = int(time.time())
    _thirds(clog, src, [now - 20, None, now - 10])
    drain(engine, src, ckpt)
    assert table.properties["pending_ranges"]  # the gap is open
    _thirds(clog, src, [None, now - 1000, None])
    results = drain(engine, src, ckpt)
    assert len(results) == 1 and not results[0]["skipped"]
    _assert_oracle_and_counts(table, clog)


def test_crash_between_data_write_and_commit_replays(spark, stream_env, monkeypatch):
    """The second micro-batch dies after its data and manifest are written
    but before the head swap. The next drain re-lists that file (its cache
    entry was never written) and the table ends equal to the oracle, each
    event counted once."""
    clog, seg_a, seg_b, src, table, engine, ckpt = stream_env
    now = int(time.time())
    _thirds(clog, src, [now - 30, now - 20, now - 10])
    swap = SnapshotTable._swap_head
    calls = []

    def crash_on_second(self, version):
        calls.append(version)
        if len(calls) == 2:
            raise RuntimeError("crash before the head swap")
        return swap(self, version)

    monkeypatch.setattr(SnapshotTable, "_swap_head", crash_on_second)
    with pytest.raises(RuntimeError, match="crash before the head swap"):
        drain(engine, src, ckpt, max_files_per_trigger=1)
    monkeypatch.setattr(SnapshotTable, "_swap_head", swap)
    with open(os.path.join(ckpt, _APPLIED)) as f:
        assert [os.path.basename(p) for p in json.load(f)["files"]] == ["f0.parquet"]

    reopened = SnapshotTable(spark, table.root)
    resumed = CdcEngine(spark, reopened)
    results = drain(resumed, src, ckpt, max_files_per_trigger=1)
    assert [r["skipped"] for r in results] == [False, False]
    _assert_oracle_and_counts(reopened, clog)


def test_listing_cache_holds_only_listed_files(spark, stream_env):
    """The cache in the checkpoint dir drops applied files that left the
    landing dir, so it stays as small as the landing dir."""
    clog, seg_a, seg_b, src, table, engine, ckpt = stream_env
    _thirds(clog, src, [100, 200, 300])
    drain(engine, src, ckpt)

    def cached() -> list[str]:
        with open(os.path.join(ckpt, _APPLIED)) as f:
            return sorted(os.path.basename(p) for p in json.load(f)["files"])

    assert cached() == ["f0.parquet", "f1.parquet", "f2.parquet"]
    os.remove(os.path.join(src, "f0.parquet"))
    assert drain(engine, src, ckpt) == []
    assert cached() == ["f1.parquet", "f2.parquet"]


def test_continuous_trigger_stops_and_surfaces_a_failed_batch(spark, stream_env, monkeypatch):
    """A ``trigger_seconds`` tail applies a file that lands while it runs;
    ``stop()`` ends its thread. A batch that raises ends the loop, commits
    nothing, and re-raises from ``awaitTermination()``."""
    clog, seg_a, seg_b, src, table, engine, ckpt = stream_env
    results: list[dict] = []
    q = tail_changelog(engine, src, ckpt, trigger_seconds=1, on_batch=results.append)
    try:
        _land(seg_a, src, "part-000.parquet")
        deadline = time.monotonic() + 120
        while not results and q.isActive and time.monotonic() < deadline:
            time.sleep(0.1)
        q.awaitTermination(0)  # re-raises if the loop died
        assert results and not results[0]["skipped"]
        assert q.isActive
    finally:
        q.stop()
    assert not q.isActive

    version = table.version

    def failing_merge(*args, **kwargs):
        raise RuntimeError("batch failed")

    monkeypatch.setattr(table, "merge", failing_merge)
    q = tail_changelog(engine, src, ckpt, trigger_seconds=1)
    _land(seg_b, src, "part-001.parquet")
    with pytest.raises(RuntimeError, match="batch failed"):
        q.awaitTermination(120)
    assert not q.isActive
    assert table.version == version


def test_file_caught_mid_write_is_retried(spark, stream_env):
    """A listed file whose bytes are still landing (no parquet footer yet)
    ends neither a continuous tail nor gets recorded in its listing cache:
    each pass leaves it out, and the pass after it is whole applies it. An
    ``available_now`` drain raises and names it."""
    clog, seg_a, seg_b, src, table, engine, ckpt = stream_env
    buf = io.BytesIO()
    pq.write_table(_to_arrow(seg_b.reset_index(drop=True)), buf)
    data = buf.getvalue()
    late = os.path.join(src, "part-001.parquet")
    _land(seg_a, src, "part-000.parquet")
    with open(late, "wb") as f:
        f.write(data[: len(data) // 2])
    with pytest.raises(ValueError, match="part-001.parquet"):
        drain(engine, src, ckpt)

    results: list[dict] = []
    q = tail_changelog(engine, src, ckpt, trigger_seconds=1, on_batch=results.append)
    try:
        deadline = time.monotonic() + 120
        while not results and q.isActive and time.monotonic() < deadline:
            time.sleep(0.1)
        time.sleep(1.5)  # at least one more pass lists the half file
        q.awaitTermination(0)  # re-raises if the loop died
        assert q.isActive and len(results) == 1
        with open(os.path.join(ckpt, _APPLIED)) as f:
            assert late not in json.load(f)["files"]
        with open(late, "wb") as f:
            f.write(data)
        while len(results) < 2 and q.isActive and time.monotonic() < deadline:
            time.sleep(0.1)
        q.awaitTermination(0)
    finally:
        q.stop()
    assert len(results) == 2
    got = table_fingerprint(visible_with_offset(table))
    assert got == table_fingerprint(oracle_final(clog, None))


def test_file_tail_py4j_calls_per_microbatch(spark, stream_env):
    """Driver round trips to the JVM per non-fold delta micro-batch, listing,
    schema check, offset proof and commit included. With Structured
    Streaming, its offset aggregate and DataFrame call-site capture it took
    about 1,500."""
    clog, seg_a, seg_b, src, table, engine, ckpt = stream_env
    engine.merge_mode = "delta"
    quarter = len(clog) // 4
    for i in range(4):
        _land(clog.iloc[i * quarter : (i + 1) * quarter], src, f"f{i}.parquet")
    with py4j_calls(spark) as calls:
        results = drain(engine, src, ckpt, max_files_per_trigger=1)
    assert len(results) == 4 and not any(r.get("skipped") for r in results)
    assert len(calls) / len(results) <= PY4J_CALLS_PER_BATCH, len(calls)
