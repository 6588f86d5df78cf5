from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gobblin_spark.lake import SnapshotTable
from gobblin_spark.xxh64 import xxh64

SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("lang", T.StringType()),
    ]
)


def _rows(spark, n=400, n_urls=200):
    return spark.range(n).select(
        F.format_string("http://site-%04d/page", F.col("id") % n_urls).alias("url"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("warc_ts"),
        F.lit("en").alias("lang"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("_version_ts"),
        F.col("id").alias("_version_off"),
        F.lit(False).alias("_deleted"),
    )


def _mk(spark, tmp_path, name, **kw):
    return SnapshotTable.create(
        spark, str(tmp_path / name), SCHEMA, key="url", n_buckets=4, **kw
    )


def test_xxh64_matches_spark(spark):
    strs = [
        "", "a", "ab", "abc", "abcd", "abcde", "http://x/1", "x" * 7, "y" * 8,
        "z" * 9, "w" * 15, "v" * 16, "u" * 17, "t" * 31, "s" * 32, "r" * 33,
        "q" * 40, "p" * 100, "héllo wörld", "日本語テスト",
    ]
    got = {
        r["s"]: r["h"]
        for r in spark.createDataFrame([(t,) for t in strs], "s string")
        .select("s", F.xxhash64("s").alias("h"))
        .collect()
    }
    for t in strs:
        assert xxh64(t.encode("utf-8")) == got[t], repr(t)


def test_bucket_of_matches_bucket_expr(spark, tmp_path):
    t = _mk(spark, tmp_path, "tb")
    urls = [f"http://site-{i:04d}/page" for i in range(50)]
    got = {
        r["url"]: r["b"]
        for r in spark.createDataFrame([(u,) for u in urls], "url string")
        .select("url", t.bucket_expr().alias("b"))
        .collect()
    }
    for u in urls:
        assert t.bucket_of(u) == got[u]


@pytest.mark.parametrize("rewrite", ["compact", "delete_where"])
def test_sorted_compaction_disjoint_file_ranges(spark, tmp_path, rewrite):
    """Both whole-table rewrites honour the sort order and the write options
    and record per-file key ranges."""
    t = _mk(
        spark,
        tmp_path,
        "ts",
        sort_order=["url", "warc_ts"],
        properties={"write.max-records-per-file": "40"},
    )
    t.merge(_rows(spark), mode="rewrite")
    if rewrite == "compact":
        t.compact()
    else:
        t.delete_where(F.col("url") == "http://site-0000/page", mode="rewrite")
    m = t.manifest()
    for b, e in dict(m["buckets"]).items():
        assert "ranges" in e, f"bucket {b} missing file stats"
        files = sorted(os.listdir(os.path.join(t.root, e["data"], f"_bucket={b}")))
        pq_files = [f for f in files if f.endswith(".parquet")]
        assert set(e["ranges"].keys()) == set(pq_files)  # ranges cover ALL files
        spans = sorted(e["ranges"].values())
        for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
            assert hi1 <= lo2, "sorted files must have non-overlapping key ranges"
    # at least one bucket actually split into several files (stats are selective)
    assert any(len(e["ranges"]) > 1 for e in dict(m["buckets"]).values())


def test_point_lookup_prunes_files_and_is_exact(spark, tmp_path):
    t = _mk(
        spark,
        tmp_path,
        "tp",
        sort_order=["url"],
        properties={"write.max-records-per-file": "40"},
    )
    t.merge(_rows(spark), mode="rewrite")
    t.compact()
    url = "http://site-0042/page"
    pruned = t.read(key_equals=url)
    full = t.read().filter(F.col("url") == url)
    assert sorted(r["warc_ts"] for r in pruned.collect()) == sorted(
        r["warc_ts"] for r in full.collect()
    )
    n_pruned = len(pruned.inputFiles())
    n_bucket = len(t.read(buckets=[t.bucket_of(url)]).inputFiles())
    n_all = len(t.read().inputFiles())
    assert n_pruned == 1, f"point lookup should touch 1 file, read {n_pruned}"
    assert n_pruned < n_bucket < n_all


def test_point_lookup_without_stats_falls_back_to_bucket(spark, tmp_path):
    t = _mk(spark, tmp_path, "tf")  # no sort order; merge entries carry no ranges
    t.merge(_rows(spark), mode="rewrite")
    url = "http://site-0007/page"
    pruned = t.read(key_equals=url)
    assert len(pruned.inputFiles()) == len(t.read(buckets=[t.bucket_of(url)]).inputFiles())
    assert pruned.count() == t.read().filter(F.col("url") == url).count()


def test_point_lookup_covers_uncompacted_deltas(spark, tmp_path):
    """A key updated AFTER compaction lives in a delta generation without
    ranges; the lookup must still see the newest version."""
    t = _mk(spark, tmp_path, "td", sort_order=["url"])
    t.merge(_rows(spark), mode="rewrite")
    t.compact()
    url = "http://site-0005/page"
    upd = spark.createDataFrame(
        [(url, None, "de")], SCHEMA
    ).select(
        "url",
        F.timestamp_seconds(F.lit(1800000000)).alias("warc_ts"),
        "lang",
        F.timestamp_seconds(F.lit(1800000000)).alias("_version_ts"),
        F.lit(10_000).alias("_version_off"),
        F.lit(False).alias("_deleted"),
    )
    t.merge(upd, mode="delta")
    rows = t.read(key_equals=url).collect()
    assert len(rows) == 1 and rows[0]["lang"] == "de"


def test_replace_sort_order_validates_and_applies(spark, tmp_path):
    t = _mk(spark, tmp_path, "tr")
    with pytest.raises(ValueError):
        t.replace_sort_order(["nope"])
    assert t.sort_order == []
    t.replace_sort_order(["url"])
    t2 = SnapshotTable(spark, t.root)
    assert t2.sort_order == ["url"]


def test_bloom_filter_option_grows_files(spark, tmp_path):
    """write.bloom.cols must reach the parquet writer: a bloom filter on a
    high-NDV column adds kilobytes per file vs the identical write without."""
    def total_bytes(t):
        n = 0
        m = t.manifest()
        for b, e in dict(m["buckets"]).items():
            d = os.path.join(t.root, e["data"], f"_bucket={b}")
            n += sum(
                os.path.getsize(os.path.join(d, f))
                for f in os.listdir(d)
                if f.endswith(".parquet")
            )
        return n

    rows = _rows(spark, n=4000, n_urls=4000)
    plain = _mk(spark, tmp_path, "tnb")
    bloom = _mk(spark, tmp_path, "tyb", properties={"write.bloom.cols": "url"})
    plain.merge(rows, mode="rewrite")
    bloom.merge(rows, mode="rewrite")
    plain.compact()
    bloom.compact()
    assert total_bytes(bloom) > total_bytes(plain) + 4096


def test_sort_order_adds_no_exchange_to_merge(spark, tmp_path):
    """sortWithinPartitions must not break the merge's single-exchange-per-
    side shuffle story."""
    def n_exchanges(t):
        t.merge(_rows(spark, n=100), mode="rewrite")
        df = t.read()
        return df._jdf.queryExecution().executedPlan().toString().count("Exchange")

    a = _mk(spark, tmp_path, "tx1")
    b = _mk(spark, tmp_path, "tx2", sort_order=["url", "warc_ts"])
    assert n_exchanges(a) == n_exchanges(b)
