"""Physical-plan regression tests: the scale properties claimed in BENCH.md
must be visible in the plan itself, not just in timings.

- the apply chain (bucket repartition → LWW groupBy → co-partitioned
  full-outer join) introduces EXACTLY one exchange per side: the groupBy and
  the join both reuse the bucket partitioning (Catalyst distribution
  satisfaction / co-partitioned SMJ);
- the planned range scan pushes its filters into the parquet source.
"""

from __future__ import annotations

import contextlib
import io
import os
import re

import pytest
from pyspark.sql import functions as F

from gobblin_spark.dedup import lww_latest
from gobblin_spark.fixtures import make_changelog, write_changelog
from gobblin_spark.planner import OffsetRange, range_predicate


def _explain(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _bucket(col):
    return F.pmod(F.xxhash64(F.col(col)), F.lit(8)).cast("int")


def test_apply_chain_single_exchange_per_side(spark, tmp_path):
    clog = make_changelog(300, n_urls=40, n_partitions=4, seed=3)
    path = os.path.join(str(tmp_path), "clog")
    write_changelog(clog, path)
    df = spark.read.parquet(path)

    upd = df.withColumn("_bucket", _bucket("url")).repartition(8, F.col("_bucket"))
    latest = lww_latest(upd, ["_bucket", "url"], ["warc_ts", "log_offset"])

    tgt = (
        df.select("url", "warc_ts", "log_offset")
        .withColumn("_bucket", _bucket("url"))
        .repartition(8, F.col("_bucket"))
        .select(
            F.col("_bucket").alias("t_bucket"),
            F.col("url").alias("t_url"),
            F.col("warc_ts").alias("t_ts"),
        )
    )
    joined = tgt.join(
        latest,
        (F.col("t_bucket") == F.col("_bucket")) & (F.col("t_url") == F.col("url")),
        "full_outer",
    )
    plan = _explain(joined, "simple")
    n_exchanges = plan.count("Exchange")
    # one hash exchange per side and nothing else — the groupBy and the join
    # must NOT have inserted additional shuffles (requires
    # spark.sql.requireAllClusterKeysForCoPartition=false, set in session.py)
    assert n_exchanges == 2, f"expected 2 exchanges, got {n_exchanges}:\n{plan}"

    lww_only = _explain(latest, "simple")
    assert lww_only.count("Exchange") == 1, lww_only


class _Captured(Exception):
    pass


@pytest.mark.parametrize(
    "kw",
    [
        {"lww_strategy": "repartition"},
        {"lww_strategy": "combine"},
        {"fold": "patch", "patch_cols": ["html", "lang"]},
    ],
    ids=["repartition", "combine", "patch"],
)
def test_engine_exchange_is_core_wide(spark, tmp_path, monkeypatch, kw):
    """The frame CdcEngine hands to SnapshotTable.merge, at n_buckets=8 on
    local[4]: every _bucket exchange is 4 wide (the cores, not the bucket
    count), there is one per input side, no Python eval node runs, and the
    extraction's regexp_replace chain sits above all the exchanges."""
    from helpers import setup_pipeline

    from gobblin_spark.engine import CdcEngine
    from gobblin_spark.lake import SnapshotTable

    _, _, table, _ = setup_pipeline(spark, str(tmp_path), n_buckets=8)
    eng = CdcEngine(spark, table, **kw)
    captured = []

    def merge(self, updates, **_):
        captured.append(updates)
        raise _Captured

    monkeypatch.setattr(SnapshotTable, "merge", merge)
    with pytest.raises(_Captured):
        eng.run(os.path.join(str(tmp_path), "changelog"))
    plan = _explain(captured[0], "simple")

    widths = re.findall(r"Exchange hashpartitioning\(_bucket#\d+, (\d+)\)", plan)
    assert widths == ["4"] * (2 if "fold" in kw else 1), plan
    if kw.get("lww_strategy") == "repartition":
        assert plan.count("Exchange") == 1, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan

    # the extraction node's subtree (the lines below it that are nested
    # deeper) holds every exchange: only survivors are extracted. Node lines
    # only: the "\n" replacement literal breaks the projection over lines.
    lines = [ln for ln in plan.splitlines() if re.match(r"[ :]*(\+- )?[*A-Z]", ln)]
    depth = lambda ln: len(ln) - len(ln.lstrip(" :+-"))  # noqa: E731
    i = next(k for k, ln in enumerate(lines) if "regexp_replace(" in ln)
    end = next(
        (k for k in range(i + 1, len(lines)) if depth(lines[k]) <= depth(lines[i])),
        len(lines),
    )
    exchanges = [k for k, ln in enumerate(lines) if "Exchange" in ln]
    assert exchanges and all(i < k < end for k in exchanges), plan


def test_engine_rewrite_commit_single_exchange_per_side(spark, tmp_path, monkeypatch):
    """What a rewrite-mode MERGE from the engine writes, at n_buckets=8 on
    local[4]: one 4-wide _bucket exchange for the updates and one for the
    target rows; the co-partitioned join and the bucketed write add none."""
    from helpers import setup_pipeline

    from gobblin_spark.lake import SnapshotTable

    _, _, _, eng = setup_pipeline(spark, str(tmp_path), n_buckets=8)
    assert eng.merge_mode == "rewrite"
    captured = []

    def writer(df, m):
        captured.append(df)
        raise _Captured

    monkeypatch.setattr(SnapshotTable, "_writer", staticmethod(writer))
    with pytest.raises(_Captured):
        eng.run(os.path.join(str(tmp_path), "changelog"))
    plan = _explain(captured[0], "simple")
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    widths = re.findall(r"Exchange hashpartitioning\(_bucket#\d+, (\d+)\)", plan)
    assert widths == ["4", "4"], plan
    assert plan.count("Exchange") == 2, plan


def test_fold_and_compact_bucket_exchange_is_core_wide(spark, tmp_path, monkeypatch):
    """What a delta commit's generation fold and a compaction write, at
    n_buckets=8 on local[4]: the fold's frame has exactly one exchange, on
    _bucket and 4 wide, which its LWW and the sort ride; compaction's
    _bucket exchange is 4 wide too."""
    from gobblin_spark.lake import SnapshotTable
    from tests.test_iceberg_backend import SCHEMA, _updates

    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), SCHEMA, key="url", n_buckets=8,
        max_generations=1, sort_order=["url"],
    )
    captured = []
    write = SnapshotTable._writer

    def writer(df, m):
        captured.append(df)
        return write(df, m)

    monkeypatch.setattr(SnapshotTable, "_writer", staticmethod(writer))
    t.merge(_updates(spark, [(f"u{i}", "a", 1, i) for i in range(40)]), mode="delta")
    res = t.merge(_updates(spark, [(f"u{i}", "b", 2, i) for i in range(40)]), mode="delta")
    assert res["folded_buckets"]
    plan = _explain(captured[-1], "simple")  # the fold writes after the delta
    widths = re.findall(r"Exchange hashpartitioning\(_bucket#\d+, (\d+)\)", plan)
    assert widths == ["4"] and plan.count("Exchange") == 1, plan

    t.compact()
    plan = _explain(captured[-1], "simple")
    widths = re.findall(r"Exchange hashpartitioning\(_bucket#\d+, (\d+)\)", plan)
    assert widths == ["4"], plan


def test_read_plans_without_listing_job(spark, tmp_path):
    """Planning a read whose scan passes more than 32 bucket dirs (Spark's
    default parallelPartitionDiscovery.threshold) starts no Spark job: the
    session lists the dirs on the driver."""
    from gobblin_spark.lake import SnapshotTable
    from tests.test_iceberg_backend import SCHEMA, _updates

    t = SnapshotTable.create(spark, str(tmp_path / "t"), SCHEMA, key="url", n_buckets=40)
    for gen in range(2):
        rows = [(f"u{i}", f"v{gen}", gen, i) for i in range(400)]
        t.merge(_updates(spark, rows), mode="delta")
    gens = [len(t._bucket_entries(e)) for e in t.manifest()["buckets"].values()]
    assert gens.count(2) > 32, gens

    sc = spark.sparkContext
    sc.setJobGroup("plan-read", "plan a multi-generation read")
    try:
        df = t.read(include_hidden=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker is fed async
    assert sc.statusTracker().getJobIdsForGroup("plan-read") == []
    assert df.count() == 400


def test_exchange_width_follows_cores_only_on_local_master(spark, tmp_path, monkeypatch):
    """A local master has a fixed core count; a cluster master's
    defaultParallelism counts only the executors registered so far, so
    there the exchange keeps one partition per bucket."""
    from types import SimpleNamespace

    from helpers import PAGES_SCHEMA

    from gobblin_spark.lake import SnapshotTable

    table = SnapshotTable.create(
        spark, os.path.join(str(tmp_path), "t"), PAGES_SCHEMA, key="url", n_buckets=8
    )
    assert table.exchange_width() == 4
    for master, parallelism, want in (
        ("local", 1, 1),
        ("local[16]", 16, 8),
        ("yarn", 2, 8),
        ("spark://host:7077", 2, 8),
    ):
        sc = SimpleNamespace(master=master, defaultParallelism=parallelism)
        monkeypatch.setattr(table, "spark", SimpleNamespace(sparkContext=sc))
        assert table.exchange_width() == want, master


def test_range_scan_pushes_filters_to_parquet(spark, tmp_path):
    clog = make_changelog(300, n_urls=40, n_partitions=4, seed=3)
    path = os.path.join(str(tmp_path), "clog2")
    write_changelog(clog, path)
    df = spark.read.parquet(path)
    ranges = [OffsetRange(0, 10, 50), OffsetRange(2, -1, 30)]
    scan = df.filter(range_predicate(ranges)).select("url", "log_offset")
    plan = _explain(scan)
    assert "PushedFilters: [" in plan
    assert "log_offset" in plan.split("PushedFilters:")[1].split("]")[0]
    # column pruning: html must not be read for a (url, log_offset) projection
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "html" not in read_schema


def test_delta_commit_plan_has_no_target_scan(spark, tmp_path):
    """The delta (merge-on-read) commit must be write-only: no target-table
    scan, no join — commit cost O(batch) by plan shape, not by luck."""
    import datetime as dt

    from pyspark.sql import types as T

    from gobblin_spark.lake import SnapshotTable

    schema = T.StructType(
        [T.StructField("url", T.StringType()), T.StructField("warc_ts", T.TimestampType())]
    )
    t = SnapshotTable.create(spark, str(tmp_path / "t"), schema, key="url", n_buckets=4)
    hidden = T.StructType(
        list(schema.fields)
        + [
            T.StructField("_version_ts", T.TimestampType()),
            T.StructField("_version_off", T.LongType()),
            T.StructField("_deleted", T.BooleanType()),
        ]
    )
    ts = dt.datetime(2026, 1, 1)
    upd = spark.createDataFrame([("a", ts, ts, 1, False)], hidden)
    t.merge(upd, mode="delta")  # seed a generation
    t.merge(upd, mode="delta")

    # delta READ collapses generations with exactly one aggregate; a
    # single-generation table reads with none
    plan = _explain(t.read(), "simple")
    assert "max_by" in plan or "Aggregate" in plan or "HashAggregate" in plan, plan

    t.compact()
    plan = _explain(t.read(), "simple")
    assert "max_by" not in plan, plan  # folded: collapse-free scan again


def test_partition_pruning_on_hive_partition_column(spark, tmp_path):
    clog = make_changelog(300, n_urls=40, n_partitions=4, seed=3)
    path = os.path.join(str(tmp_path), "clog3")
    write_changelog(clog, path)
    df = spark.read.parquet(path)
    one = df.filter(F.col("log_partition") == 1)
    plan = _explain(one)
    # hive-partition pruning shows up as a partition filter, not a data filter
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "log_partition" in seg


def test_contamination_probe_is_broadcast_semi_join(spark):
    """The benchmark side must broadcast (eval sets are small by definition)
    and probe as a LEFT SEMI join — the corpus is never shuffled for the
    probe. Guarded in the plan, not just claimed in the docstring."""
    from gobblin_spark.operators.dedup_families import contamination_check

    docs = spark.createDataFrame(
        [(i, f"document number {i} with shared words") for i in range(30)],
        "doc_id long, text string",
    )
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    plan = _explain(contamination_check(docs, bench, n=5), "simple")
    semi_lines = [ln for ln in plan.splitlines() if "LeftSemi" in ln]
    assert semi_lines, plan
    assert all("BroadcastHashJoin" in ln for ln in semi_lines), plan


def test_contamination_shuffle_mode_plan_and_equivalence(spark):
    """distribution='shuffle' (benchmark past the broadcast ceiling) must be
    a shuffled LEFT SEMI join — an Exchange on the shingle key, NO broadcast
    of the benchmark side — and must return bit-identical results to the
    broadcast mode."""
    from gobblin_spark.operators.dedup_families import contamination_check

    docs = spark.createDataFrame(
        [(i, f"document number {i} with shared words") for i in range(30)],
        "doc_id long, text string",
    )
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    shuffled = contamination_check(docs, bench, n=5, distribution="shuffle")
    plan = _explain(shuffled, "simple")
    semi_lines = [ln for ln in plan.splitlines() if "LeftSemi" in ln]
    assert semi_lines, plan
    assert not any("BroadcastHashJoin" in ln for ln in semi_lines), plan
    assert any(
        "ShuffledHashJoin" in ln or "SortMergeJoin" in ln for ln in semi_lines
    ), plan
    assert "hashpartitioning(sh" in plan, plan

    base = contamination_check(docs, bench, n=5)
    assert sorted(map(tuple, shuffled.collect())) == sorted(map(tuple, base.collect()))

    import pytest

    with pytest.raises(ValueError):
        contamination_check(docs, bench, n=5, distribution="magic")


def test_text_ops_are_pure_codegen(spark):
    """bpe/repetition/pii/fingerprint plans contain no Python evaluation —
    the whole text-stats family stays JVM-side (input_hint: no per-row
    Python)."""
    from gobblin_spark.operators.textstats import (
        bpe_token_stats,
        fingerprint,
        pii_scrub,
        repetition_stats,
    )

    docs = spark.createDataFrame(
        [(1, "some text a@b.co 1.2.3.4\nline\nline")], "doc_id long, text string"
    )
    for op in (bpe_token_stats, repetition_stats, pii_scrub, fingerprint):
        plan = _explain(op(docs), "simple")
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, op.__name__


def test_ivf_assignment_has_no_exchange(spark, tmp_path):
    """IVF cell assignment is a per-row decision over task-constant centroids:
    the plan must be a narrow scan → mapInPandas → project chain with ZERO
    Exchange. (Round 2 shuffled corpus×n_cells rows through a
    crossJoin + Window.partitionBy(id) to make the same decision — the one
    plan the round-2 verdict flagged as unshippable at 100×.)"""
    import math

    from gobblin_spark.operators.similarity import assign_cells

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 13) / 13.0 for j in range(8)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    path = os.path.join(str(tmp_path), "emb")
    emb.write.parquet(path)
    cent_rows = [
        (c, [c + 1] * 8, float(c + 1) * math.sqrt(8.0)) for c in range(4)
    ]
    df = assign_cells(spark.read.parquet(path), 4, cent_rows=cent_rows)
    plan = _explain(df, "simple")
    assert "Exchange" not in plan, plan
    # and the decision actually ran: every row got a valid cell
    cells = {r["cell"] for r in df.collect()}
    assert cells <= {0, 1, 2, 3} and df.count() == 40


def test_jaccard_checkpoint_bounds_scan_count(spark, tmp_path):
    """The prefix postings are checkpointed before their self-join and the
    verify side is pruned to candidate docs: the final plan reads the source
    exactly twice (the two verify sides) — candidate generation reads the
    checkpoint, not a third/fourth scan of the corpus."""
    import os as _os

    from gobblin_spark.operators.dedup_families import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, ("abcdefghij" * 8)[: 40 + (i % 7)] + str(i % 5)) for i in range(40)],
        "doc_id long, text string",
    )
    path = _os.path.join(str(tmp_path), "docs")
    docs.write.parquet(path)
    pairs = ngram_jaccard_pairs(spark.read.parquet(path), n=5, min_jaccard_bp=6000)
    pairs.count()
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 2, plan.count("Scan parquet")
    assert "Scan ExistingRDD" in plan  # the checkpointed prefix feed


def test_stratified_sample_is_scan_local(spark, tmp_path):
    """sample_stratified is a pure row-local filter: no Exchange, no Python
    eval anywhere — the predicate runs inside the scan stage at any scale."""
    from gobblin_spark.operators.sampling import sample_stratified

    docs = spark.createDataFrame(
        [(i, "en" if i % 2 else "de") for i in range(100)], "doc_id long, lang string"
    )
    path = os.path.join(str(tmp_path), "docs")
    docs.write.parquet(path)
    s = sample_stratified(spark.read.parquet(path), "doc_id", "lang", {"en": 5000})
    plan = _explain(s, "simple")
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pack_shards_single_exchange(spark, tmp_path):
    """pack_shards' final plan: ONE hash exchange (by hash-range bucket) for
    the per-bucket Window + a broadcast join of the n_buckets offset rows —
    never a global single-partition Window (no 'Window' with an empty
    partition spec riding a SinglePartition exchange)."""
    from gobblin_spark.operators.sampling import pack_shards

    docs = spark.createDataFrame(
        [(i, 10 + i % 7) for i in range(500)], "doc_id long, w long"
    )
    path = os.path.join(str(tmp_path), "wdocs")
    docs.write.parquet(path)
    packed = pack_shards(spark.read.parquet(path), "doc_id", "w", budget=100, n_buckets=8)
    plan = _explain(packed, "simple")
    assert "SinglePartition" not in plan, plan
    assert plan.count("BroadcastExchange") == 1, plan
    # exactly one data shuffle: the hashpartitioning on _bkt for the Window
    n_hash_exchanges = plan.count("Exchange hashpartitioning")
    assert n_hash_exchanges == 1, plan


def test_cms_probe_and_bloom_probe_have_no_exchange(spark):
    """The sketch/filter probes embed their state as plan literals — the
    claimed ZERO-shuffle property must be visible in the plan."""
    from gobblin_spark.operators.membership import bloom_probe
    from gobblin_spark.operators.sketches import cms_estimate

    df = spark.createDataFrame([(f"k{i}",) for i in range(50)], "key string")
    probed = cms_estimate(df, "key", [0] * (4 * 64), 4, 64)
    plan = _explain(probed, "simple")
    assert "Exchange" not in plan, plan
    bp = bloom_probe(df, "key", [0] * 32, 2048, 2)
    plan = _explain(bp, "simple")
    assert "Exchange" not in plan, plan


def test_kmv_build_is_take_ordered(spark):
    """The bottom-k must execute as TakeOrdered (per-partition top-k +
    driver merge), never a global sort exchange."""
    from gobblin_spark.operators.sketches import kmv_build

    df = spark.createDataFrame([(f"k{i}",) for i in range(100)], "key string")
    plan = _explain(kmv_build(df, "key", 16), "simple")
    assert "TakeOrdered" in plan, plan
    # the only exchange is the distinct's hash aggregate
    assert plan.count("Exchange") <= 1, plan


def test_group_quantiles_single_exchange(spark):
    from gobblin_spark.operators.quantiles import group_quantiles

    df = spark.createDataFrame(
        [(f"g{i % 4}", i) for i in range(100)], "g string, v long"
    )
    plan = _explain(group_quantiles(df, ["g"], "v", [5000]), "simple")
    assert plan.count("Exchange") == 1, plan


def test_zorder_value_is_pure_codegen(spark):
    """The Morton interleave must stay inside WholeStageCodegen with no
    exchange and no Python."""
    from gobblin_spark.operators.layout import z_prefix_bucket, z_value

    df = spark.createDataFrame([(1, 2)], "x long, y long")
    out = df.select(z_prefix_bucket(z_value(F.col("x"), F.col("y"), 16), 16, 6))
    plan = _explain(out, "simple")
    assert "Exchange" not in plan and "Python" not in plan, plan


def test_mv_maintenance_exchange_budget(spark):
    """mv_delta + mv_apply: per-group partial aggregates collapse before
    shuffles; the whole maintenance step stays within a small constant
    exchange budget (no per-row joins, no driver loops)."""
    from gobblin_spark.operators.incremental_agg import maintain, mv_compute

    prev = spark.createDataFrame(
        [(i, f"g{i % 3}", i * 10) for i in range(30)],
        "id long, grp string, amount long",
    )
    changes = spark.createDataFrame(
        [(1, "g1", 5, "update"), (40, "g0", 7, "insert")],
        "id long, grp string, amount long, _change_type string",
    )
    mv = mv_compute(prev, ["grp"], {"mv_sum": F.col("amount")})
    out = maintain(mv, changes, prev, ["id"], ["grp"], {"mv_sum": F.col("amount")})
    plan = _explain(out, "simple")
    # budget: aggregates on three legs + semi-join sides + final merge;
    # the essential claim is O(1) exchanges independent of data volume
    assert plan.count("Exchange") <= 8, plan
    assert "CartesianProduct" not in plan
