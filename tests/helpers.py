"""Shared pipeline scaffolding for engine tests (FIXTURES.md §5 scenarios)."""

from __future__ import annotations

import os
from contextlib import contextmanager

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gobblin_spark.engine import CdcEngine
from gobblin_spark.extract import extract_text
from gobblin_spark.fixtures import make_changelog, make_pages, write_changelog, write_pages
from gobblin_spark.lake import SnapshotTable
from gobblin_spark.oracle import reduce_changelog
from gobblin_spark.state import StateStore

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)


def setup_pipeline(
    spark,
    tmp: str,
    n_events: int = 400,
    n_urls: int = 40,
    n_partitions: int = 4,
    seed: int = 42,
    bootstrap: bool = True,
    n_buckets: int = 8,
):
    pages = make_pages(n_urls, seed=seed)
    clog = make_changelog(n_events, n_urls=n_urls, n_partitions=n_partitions, seed=seed)
    write_changelog(clog, os.path.join(tmp, "changelog"))
    write_pages(pages, os.path.join(tmp, "pages"))
    table = SnapshotTable.create(
        spark, os.path.join(tmp, "table"), PAGES_SCHEMA, key="url", n_buckets=n_buckets
    )
    engine = CdcEngine(
        spark,
        table,
        StateStore(os.path.join(tmp, "state")),
        errors_path=os.path.join(tmp, "errors"),
    )
    if bootstrap:
        engine.bootstrap(spark.read.parquet(os.path.join(tmp, "pages", "pages.parquet")))
    return pages, clog, table, engine


def visible_with_offset(table: SnapshotTable) -> pd.DataFrame:
    """Visible table + per-row version offset (for oracle comparison)."""
    return (
        table.read(include_hidden=True)
        .filter(~F.col("_deleted"))
        .withColumn("log_offset", F.col("_version_off"))
        .toPandas()
    )


def oracle_final(clog: pd.DataFrame, pages: pd.DataFrame | None) -> pd.DataFrame:
    exp = reduce_changelog(clog, pages)
    exp["text"] = exp["html"].map(lambda h: extract_text(h) if h is not None else None)
    return exp


@contextmanager
def py4j_calls(spark):
    """Record every py4j command the driver sends to the JVM, from any
    thread, while the block runs; yields the list of commands."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls: list[str] = []

    def counting(command, *args, **kwargs):
        calls.append(command)
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        yield calls
    finally:
        del client.send_command  # the class's method again
