"""Sources (file-based incremental listing, JDBC watermark planning, Kafka
option mapping), converters chain, and retention delete."""

from __future__ import annotations

import os
from urllib.parse import urlparse

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gobblin_spark import converters as C
from gobblin_spark.lake import SnapshotTable
from gobblin_spark.sources import (
    FileSnapshotSource,
    kafka_stream_options,
    plan_query_partitions,
    watermark_predicates,
)
from gobblin_spark.sources.filebased import _hadoop_listing, list_files
from gobblin_spark.state import StateStore

from helpers import PAGES_SCHEMA


# ------------------------------------------------------------- file source


def test_file_source_incremental(spark, tmp_path):
    src = FileSnapshotSource(StateStore(str(tmp_path / "state")))
    d = tmp_path / "in"
    d.mkdir()
    pd.DataFrame({"a": [1, 2]}).to_parquet(d / "f1.parquet")
    pattern = str(d / "*.parquet")

    first = src.plan(pattern)
    assert [os.path.basename(f) for f in first] == ["f1.parquet"]
    assert src.read(spark, first).count() == 2
    src.commit(first)
    assert src.plan(pattern) == []  # nothing new

    pd.DataFrame({"a": [3]}).to_parquet(d / "f2.parquet")
    second = src.plan(pattern)
    assert [os.path.basename(f) for f in second] == ["f2.parquet"]
    src.commit(second)
    assert src.plan(pattern) == []


def test_hadoop_listing_equals_local_listing(spark, tmp_path):
    """A non-local landing dir is listed through Hadoop's FileSystem; on a
    ``file:`` URI that listing holds the same files and sizes as the
    driver's own walk, hidden names skipped in both."""
    for d in ("log_partition=0", "log_partition=1", "_temporary", ".hidden"):
        (tmp_path / d).mkdir()
        pd.DataFrame({"a": [1, 2]}).to_parquet(tmp_path / d / "f.parquet")
    (tmp_path / "_SUCCESS").write_text("")
    (tmp_path / ".f.parquet.crc").write_text("x")
    local = list_files(spark, str(tmp_path))
    assert sorted(os.path.relpath(p, tmp_path) for p in local) == [
        "log_partition=0/f.parquet",
        "log_partition=1/f.parquet",
    ]
    hadoop = _hadoop_listing(spark, "file://" + str(tmp_path))
    assert {urlparse(u).path: st[0] for u, st in hadoop.items()} == {p: st[0] for p, st in local.items()}


# ------------------------------------------------------------ jdbc planning


def test_watermark_predicates_int_cover_range_exactly():
    preds = watermark_predicates("id", 100, 350, 4)
    assert preds == [
        "id > 100 AND id <= 163",
        "id > 163 AND id <= 226",
        "id > 226 AND id <= 289",
        "id > 289 AND id <= 350",
    ]
    assert watermark_predicates("id", 5, 5, 4) == []  # empty interval


def test_watermark_predicates_timestamp():
    preds = watermark_predicates(
        "ts", "2024-01-01T00:00:00", "2024-01-02T00:00:00", 2, kind="timestamp"
    )
    assert len(preds) == 2
    assert "ts > '2024-01-01 00:00:00'" in preds[0]
    assert preds[1].endswith("ts <= '2024-01-02 00:00:00'")


def test_plan_query_partitions_doc():
    plan = plan_query_partitions("events", "event_id", 0, 100, 3)
    assert plan["high"] == 100 and len(plan["predicates"]) == 3


def test_predicates_partition_rows_disjointly(spark):
    """Executing the predicate slices over a real table covers every row
    exactly once (the QueryBasedExtractor WHERE-clause contract)."""
    df = spark.range(1, 1001).withColumnRenamed("id", "k")
    preds = watermark_predicates("k", 0, 1000, 7)
    total = sum(df.filter(p).count() for p in preds)
    assert total == 1000


# ------------------------------------------------------------ kafka options


def test_kafka_options_resume_from_watermarks():
    opts = kafka_stream_options(
        "broker:9092",
        ["pages"],
        starting_offsets={"pages": {"0": 42, "1": -2}},
        max_offsets_per_trigger=5000,
    )
    assert opts["subscribe"] == "pages"
    assert '"0": 42' in opts["startingOffsets"]
    assert opts["maxOffsetsPerTrigger"] == "5000"
    assert opts["failOnDataLoss"] == "false"
    with pytest.raises(ValueError):
        kafka_stream_options("b", "t", starting_offsets="bogus")


# -------------------------------------------------------------- converters


def test_converter_chain(spark):
    df = spark.createDataFrame(
        [("a", '{"k": 1}', "x y z"), ("b", '{"k": 2}', "p q")],
        "name string, js string, words string",
    )
    out = C.chain(
        df,
        [
            C.json_decode("js", "k INT"),
            C.flatten_nested("decoded.k"),
            C.filter_regex("name", "^[ab]$"),
            C.string_split("words", " "),
        ],
    )
    rows = out.select("name", "decoded_k", "token").collect()
    assert len(rows) == 5  # 3 tokens + 2 tokens
    assert {(r["name"], r["decoded_k"]) for r in rows} == {("a", 1), ("b", 2)}


def test_row_policy_divert(spark):
    df = spark.createDataFrame([(1,), (-2,), (3,)], "v int")
    keep, divert = C.row_policy(F.col("v") > 0)
    assert keep(df).count() == 2
    assert divert(df).count() == 1


def test_bytes_roundtrip(spark):
    df = spark.createDataFrame([("héllo",)], "s string")
    out = C.chain(df, [C.string_to_bytes("s", "b"), C.bytes_to_string("b", "s2")])
    assert out.first()["s2"] == "héllo"


# ---------------------------------------------------------------- retention


def test_delete_where_retention(spark, tmp_path):
    from gobblin_spark.engine import CdcEngine

    table = SnapshotTable.create(
        spark, str(tmp_path / "t"), PAGES_SCHEMA, key="url", n_buckets=4
    )
    eng = CdcEngine(spark, table, extract=False)
    pages = spark.createDataFrame(
        [
            ("u1", "2024-01-01 00:00:00", None, "old", "en"),
            ("u2", "2025-01-01 00:00:00", None, "new", "en"),
        ],
        "url string, warc_ts string, html binary, text string, lang string",
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    eng.bootstrap(pages)
    assert table.read().count() == 2

    table.delete_where(F.col("warc_ts") < F.lit("2024-06-01").cast("timestamp"))
    rows = table.read().collect()
    assert [r["url"] for r in rows] == ["u2"]


# --------------------------------------------------------------- multimodal


def test_multimodal_resize_and_frames(spark):
    from gobblin_spark.operators.multimodal import resize_images, sample_frames
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, b"x" * 200), (2, b"y" * 640), (3, None)], "doc_id long, payload binary"
    )
    resized = resize_images(docs, 32, 32).collect()
    assert {r["doc_id"] for r in resized} == {1, 2, 3}
    by_id = {r["doc_id"]: r for r in resized}
    assert by_id[1]["width"] == 32 and len(by_id[1]["payload"]) == 32  # sha256 stub
    assert by_id[3]["payload"] is None

    frames = sample_frames(docs, every_n=2).groupBy("doc_id").count().collect()
    got = {r["doc_id"]: r["count"] for r in frames}
    # stub: n_frames = len//64 → doc1: 3 frames → ceil(3/2)=2; doc2: 10 → 5
    assert got == {1: 2, 2: 5}


def test_canonicalize_url(spark):
    from gobblin_spark.converters import canonicalize_url

    cases = [
        ("HTTP://Example.COM:80/a#x", "http://example.com/a"),
        ("https://Example.com:443/A/B?q=Mixed#frag", "https://example.com/A/B?q=Mixed"),
        ("http://example.com", "http://example.com/"),
        ("https://example.com:8443/x", "https://example.com:8443/x"),  # non-default port kept
        ("http://example.com:443/x", "http://example.com:443/x"),  # 443 not default for http
        ("  http://a.com/p  ", "http://a.com/p"),
        ("not a url", "not a url"),  # passthrough, trimmed only
        ("ftp://Files.example.com/Pub", "ftp://files.example.com/Pub"),
    ]
    df = spark.createDataFrame([(i, raw) for i, (raw, _) in enumerate(cases)], "i long, u string")
    got = {r["i"]: r["c"] for r in df.select("i", canonicalize_url("u").alias("c")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i][0], got[i])


def test_url_canonicalizer_chain(spark):
    from gobblin_spark.converters import chain, url_canonicalizer

    df = spark.createDataFrame([("HTTP://A.com:80/x#f",)], "url string")
    out = chain(df, [url_canonicalizer("url")]).collect()[0]["url"]
    assert out == "http://a.com/x"


# ------------------------------------------------------- DLQ error routing


def test_chain_with_dlq_diverts_with_provenance(spark):
    """First failing stage wins, rows are never dropped, payload round-trips."""
    import json

    from gobblin_spark.converters import chain_with_dlq, json_decode, try_cast_field
    from pyspark.sql import functions as F

    rows = [
        (1, '{"v": "10"}'),      # clean
        (2, "not json at all"),  # stage 1 failure
        (3, '{"v": "oops"}'),    # stage 2 failure (non-numeric v)
        (4, '{"v": "-3"}'),      # stage 3 failure (range)
        (5, None),               # NULL payload -> stage 1 failure
    ]
    df = spark.createDataFrame(rows, "id long, payload string")
    good, dlq = chain_with_dlq(
        df,
        [
            (
                "json",
                json_decode("payload", "v string"),
                # PERMISSIVE from_json yields an all-null struct (not NULL)
                # for malformed input — check the required field
                lambda: F.col("decoded").isNull() | F.col("decoded.v").isNull(),
            ),
            (
                "cast",
                lambda d: d.withColumn("v_num", F.col("decoded.v").try_cast("long")),
                lambda: F.col("v_num").isNull(),
            ),
            ("range", lambda d: d, lambda: F.col("v_num") < 0),
        ],
    )
    g = {r["id"]: r for r in good.collect()}
    assert set(g) == {1} and g[1]["v_num"] == 10
    d = {json.loads(r["_payload"])["id"]: r for r in dlq.collect()}
    assert {i: d[i]["_err_stage"] for i in d} == {
        2: "json",
        3: "cast",
        4: "range",
        5: "json",
    }
    # payload round-trips the ORIGINAL row for replay
    assert json.loads(d[3]["_payload"]) == {"id": 3, "payload": '{"v": "oops"}'}
    assert d[2]["_err_reason"] == "failed: json"
    # conservation: every input row lands on exactly one side
    assert good.count() + dlq.count() == len(rows)


def test_try_cast_field_nulls_instead_of_ansi_throw(spark):
    from gobblin_spark.converters import try_cast_field

    df = spark.createDataFrame([("12",), ("x",)], "s string")
    out = {r["s"]: r["n"] for r in try_cast_field("s", "long", "n")(df).collect()}
    assert out == {"12": 12, "x": None}


def test_dlq_payload_snapshots_before_inplace_mutation(spark):
    """An in-place converter (try_cast_field default alias) must not corrupt
    the DLQ payload — the snapshot is taken before any stage runs."""
    import json

    from gobblin_spark.converters import chain_with_dlq, try_cast_field
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1, "oops")], "id long, v string")
    good, dlq = chain_with_dlq(
        df, [("cast", try_cast_field("v", "long"), lambda: F.col("v").isNull())]
    )
    assert good.count() == 0
    row = dlq.collect()[0]
    assert json.loads(row["_payload"]) == {"id": 1, "v": "oops"}
