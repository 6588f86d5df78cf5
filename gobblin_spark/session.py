"""SparkSession factory with scale-appropriate defaults.

Local sandbox runs on local[N]; on a real cluster the same configs apply
(AQE handles post-shuffle coalescing and skew-join splitting at any size).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    # AQE: runtime re-planning — coalesce small shuffle partitions, split skewed
    # ones, convert to broadcast joins when a side turns out small.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for pandas UDFs, mapInPandas and toPandas.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Deterministic timestamps across environments: UTC session tz, and read
    # parquet isAdjustedToUTC=false timestamps as plain TIMESTAMP (not NTZ).
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Allow a HashPartitioning on a SUBSET of the join keys (the layout
    # bucket) to count as co-partitioning: the engine's single-shuffle MERGE
    # relies on it (both sides repartitioned by _bucket; join keys are
    # (_bucket, url)). Without this, Spark re-shuffles both sides on the full
    # key set. Perf knob only — correctness is unaffected.
    "spark.sql.requireAllClusterKeysForCoPartition": "false",
    # Partition sizing: 128 MiB input splits is the right default at 100 TB too.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Don't let tiny local test files produce one giant partition.
    "spark.sql.files.openCostInBytes": "4194304",
    "spark.ui.enabled": "false",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # List every scan's paths on the driver. Above this many paths Spark
    # lists them with a job of one task per path: a delta fold passing 128
    # bucket-generation dirs paid ~1 s for it on 4 cores. SnapshotTable
    # commits by os.replace and so lives on a POSIX filesystem, where a dir
    # listing costs microseconds. A caller who builds their own session
    # (not through get_spark) does not get this and pays the job.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": str(2**31 - 1),
    # Do not capture a Python call site for every DataFrame and Column
    # operation. The capture costs ~3 extra py4j round trips per operation
    # (getActiveSession, a conf read, an origin set and clear): about half
    # the ~1,500 round trips of a tail micro-batch. Two costs: a DataFrame
    # error no longer names the Python line that built the failing
    # expression, and, being a static conf, it is only in effect for a
    # session built here — one built another way (e.g.
    # scripts/replay_job.py) still captures.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # local[N] runs the whole "cluster" in the driver JVM — size its heap for
    # 32 concurrent task threads (on a real cluster this maps to executor
    # memory; the sandbox host has 128 GiB).
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
    "spark.driver.maxResultSize": "4g",
}


def tune_input_splits(spark, *paths: str, min_bytes: int = 1 << 22) -> int:
    """Size file-split bytes to the actual input so the scan stage can use
    every core: maxPartitionBytes = clamp(total/(3·cores), 4 MiB, 128 MiB).

    At petabyte scale the 128 MiB default already yields millions of splits
    and this is a no-op; on small inputs (sandbox scale factors) the default
    packs everything into a handful of splits and serializes the scan — the
    single biggest local-mode scaling killer (observed: a 140 MB changelog
    read as 3 tasks at local[32])."""
    import glob as _glob

    total = 0
    for p in paths:
        for f in _glob.glob(os.path.join(p, "**"), recursive=True):
            if os.path.isfile(f):
                total += os.path.getsize(f)
    cores = spark.sparkContext.defaultParallelism
    target = max(min_bytes, min(128 << 20, total // max(1, 3 * cores)))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(target))
    spark.conf.set("spark.sql.files.openCostInBytes", str(min(1 << 20, target // 4)))
    return target


def get_spark(
    app_name: str = "gobblin-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or local[*]).
    ``shuffle_partitions`` defaults to 2× the core count, capped at 200 —
    on a real cluster leave AQE to coalesce; the initial number just needs
    to exceed parallelism.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.master(master).appName(app_name)
    conf = dict(_DEFAULTS)
    if shuffle_partitions is None:
        ncores = os.cpu_count() or 8
        shuffle_partitions = min(200, 2 * ncores)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
